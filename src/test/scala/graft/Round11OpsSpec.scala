package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal}

/** Round-11 hardening specs: the two-phase hot-key guard probe (census
  * as its own cached job + inline stop list), its red paths, and the
  * degree-table join shapes are covered in PlanSpec. */
class Round11OpsSpec extends SparkSpec {

  test("two-phase guard probe: default cap path is value-identical to explicit uncapped where nothing is hot") {
    // sf0.001 has no hot shingle (max df single-digit), so the probe
    // collects an EMPTY stop list and the guarded plan must be the
    // unguarded plan — same values, and (new in r11) zero extra
    // operators in the main job
    Dedup.clearHotKeyCache()
    val dflt = Dedup.ddNgramJaccard(spark, sf0001).collect().map(_.toString).toSeq
    val uncapped = Dedup.ddNgramJaccard(spark, sf0001,
      shingleDfCap = Some(0)).collect().map(_.toString).toSeq
    assert(dflt == uncapped && dflt.nonEmpty)
    // cold probe leaves no trace in the plan: no anti-join, no filter
    // on the shingle key beyond the base predicates
    val p = Dedup.ddNgramJaccard(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("LeftAnti"),
      s"cold guard must not leave an anti-join in the plan:\n$p")
  }

  test("two-phase guard probe: a hot key is removed via the inline stop list (no join in the plan)") {
    import spark.implicits._
    Dedup.clearHotKeyCache()
    val dir = java.nio.file.Files.createTempDirectory("hot_probe").toString
    // 6 docs share one boilerplate span (hot shingles at cap 3);
    // 2 docs share a distinct span (cold)
    val boiler = "common boilerplate navigation header shared across every single page of this site"
    val docs = (1 to 6).map(i =>
      (i.toLong, "en", "s0", s"$boiler unique tail $i")) ++ Seq(
      (10L, "en", "s0", "a rare pair of documents with their own wording entirely"),
      (11L, "en", "s0", "a rare pair of documents with their own wording entirely"))
    docs.toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // r15: the pair table rides the snapshot store, which would hide
    // the guard mechanism behind a parquet read — disable it so the
    // plan probe sees the real build
    withConf("spark.graft.graph.edgeSnapshot" -> "false") {
      val capped = Dedup.ddNgramJaccard(spark, dir, shingleDfCap = Some(3))
      val p = capped.queryExecution.optimizedPlan.toString
      assert(!p.contains("LeftAnti"),
        s"hot guard must be an inline InSet filter, not an anti-join:\n$p")
      val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((10L, 11L)), "cold pair must survive the stop list")
      // the stop list drops the shared boilerplate shingles, so the
      // 6-family's pairwise jaccard falls below threshold
      assert(!pairs.exists(pr => pr._1 <= 6 && pr._2 <= 6),
        s"boilerplate-only pairs must not pass the jaccard gate: $pairs")
    }
  }

  test("two-phase guard probe: oversized stop list falls back to the anti-join path, values unchanged") {
    import spark.implicits._
    Dedup.clearHotKeyCache()
    val dir = java.nio.file.Files.createTempDirectory("hot_fb").toString
    val boiler = "common boilerplate navigation header shared across every single page of this site"
    val docs = (1 to 6).map(i =>
      (i.toLong, "en", "s0", s"$boiler unique tail $i")) ++ Seq(
      (10L, "en", "s0", "a rare pair of documents with their own wording entirely"),
      (11L, "en", "s0", "a rare pair of documents with their own wording entirely"))
    docs.toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // r15: disable the pair-table snapshot for this mechanism probe —
    // it is keyed by (dir, cap), not by the inline-limit conf (the two
    // paths are value-identical by design), so the second call would
    // otherwise read the first call's snapshot and never exercise the
    // anti-join fallback
    try withConf("spark.graft.graph.edgeSnapshot" -> "false") {
      val inline = Dedup.ddNgramJaccard(spark, dir, shingleDfCap = Some(3))
        .collect().map(_.toString).toSeq
      Dedup.clearHotKeyCache()
      withConf("spark.graft.dedup.hotKeyInlineLimit" -> "0") {
        val viaJoin = Dedup.ddNgramJaccard(spark, dir, shingleDfCap = Some(3))
        val p = viaJoin.queryExecution.optimizedPlan.toString
        assert(p.contains("LeftAnti"),
          s"limit 0 must force the anti-join fallback:\n$p")
        assert(viaJoin.collect().map(_.toString).toSeq == inline,
          "fallback path must produce identical values")
      }
    } finally Dedup.clearHotKeyCache()
  }

  test("probe cache serves sibling consumers: containment and jaccard share one shingle census") {
    // both operators resolve the same (dir, "shingle", cap) key; this
    // pins that the cache is KEYED right (a bad key would either miss —
    // costing a census per consumer — or collide across corpora)
    Dedup.clearHotKeyCache()
    val a = Dedup.ddNgramJaccard(spark, sf0001).collect()
    val b = Dedup.ddContainment(spark, sf0001).collect()
    assert(a.nonEmpty && b.nonEmpty)
    // different cap → different cache row → still correct values
    val c = Dedup.ddContainment(spark, sf0001, shingleDfCap = Some(7)).collect()
    assert(c.nonEmpty)
  }

  test("phash family cap rides the same probe: hot family removed with no anti-join in the plan") {
    import spark.implicits._
    Dedup.clearHotKeyCache()
    val dir = java.nio.file.Files.createTempDirectory("ph_probe").toString
    val fam = (1 to 5).map(i =>
      (i.toLong, "en", "s0", "payload family shared by many identical copies of media"))
    val pair = Seq(
      (10L, "en", "s0", "a distinct payload that exists exactly twice in the corpus"),
      (11L, "en", "s0", "a distinct payload that exists exactly twice in the corpus"))
    (fam ++ pair).toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val capped = Multimodal.mmPhashDup(spark, dir, familyCap = Some(3))
    val p = capped.queryExecution.optimizedPlan.toString
    assert(!p.contains("LeftAnti"),
      s"family cap must be an inline filter, not an anti-join:\n$p")
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((10L, 11L)))
  }
}
