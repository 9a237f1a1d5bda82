package graft.operators

import graft.SparkSpec
import graft.functions.VectorOps
import org.apache.spark.sql.functions._

/** Round-12 hardening specs (r11 ADVICE closures): vector-fold
  * length-mismatch semantics, hot-key guard null-key parity, and the
  * probe cache's corpus-snapshot fingerprint. Lives in the operators
  * package to drive [[Dedup.dropHotKeys]] directly. */
class Round12OpsSpec extends SparkSpec {

  test("vector folds return NULL on length mismatch, matching the HOF they replace") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),        // equal length
      (2L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f, 5.0f))   // mismatch
    ).toDF("id", "a", "b")
      .withColumn("d_native", VectorOps.dot("a", "b"))
      .withColumn("d_hof", VectorOps.dotHof("a", "b"))
      .withColumn("l_native", VectorOps.l2sq(col("a"), col("b")))
      .withColumn("l_hof", expr(
        """aggregate(zip_with(a, b,
          | (x, y) -> (cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))),
          | cast(0 as double), (acc, v) -> acc + v)""".stripMargin))
    val rows = df.orderBy(col("id")).collect()
    // equal-length row: non-null and bit-identical to the HOF
    assert(!rows(0).isNullAt(3) && rows(0).getDouble(3) == rows(0).getDouble(4))
    assert(!rows(0).isNullAt(5) && rows(0).getDouble(5) == rows(0).getDouble(6))
    // mismatched row: NULL on native AND HOF (zip_with null-pads, the
    // fold absorbs) — never a truncated-prefix value
    assert(rows(1).isNullAt(3) && rows(1).isNullAt(4),
      "dot must be NULL on length mismatch, like the HOF")
    assert(rows(1).isNullAt(5) && rows(1).isNullAt(6),
      "l2sq must be NULL on length mismatch, like the HOF")
  }

  test("dropHotKeys keeps NULL-keyed rows on both phase-2 paths, even with a >cap NULL family") {
    import spark.implicits._
    Dedup.clearHotKeyCache()
    // hot key "h" (5 > cap 3), cold key "c" (2), and FIVE null keys
    // (a >cap null family must neither be dropped nor poison the
    // inline NOT-IN list)
    val rows = (1 to 5).map(i => (Some("h"), i.toLong)) ++
      Seq((Some("c"), 10L), (Some("c"), 11L)) ++
      (20 to 24).map(i => (None: Option[String], i.toLong))
    val input = rows.toDF("k", "v")
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(1)).toSet
    val expected = Set(10L, 11L) ++ (20L to 24L)
    // inline path (fresh probe, distinct fingerprint key per dir name)
    val inline = Dedup.dropHotKeys(spark, input, "k", 3, ("/nonexistent/r12a", "t"))
    assert(kept(inline) == expected,
      s"inline path must keep cold + ALL null-keyed rows: ${kept(inline)}")
    // anti-join fallback path: identical keep-set
    try withConf("spark.graft.dedup.hotKeyInlineLimit" -> "0") {
      Dedup.clearHotKeyCache()
      val viaJoin = Dedup.dropHotKeys(spark, input, "k", 3, ("/nonexistent/r12b", "t"))
      assert(kept(viaJoin) == expected,
        s"anti-join path must keep the same rows: ${kept(viaJoin)}")
    } finally Dedup.clearHotKeyCache()
  }

  test("hot-key probe cache invalidates when the corpus at the path is rewritten in place") {
    import spark.implicits._
    Dedup.clearHotKeyCache()
    val dir = java.nio.file.Files.createTempDirectory("fp_cache").toString
    val boiler = "common boilerplate navigation header shared across every single page of this site"
    // corpus A: a 6-strong boilerplate family (hot at cap 3) + a cold pair
    val a = (1 to 6).map(i => (i.toLong, "en", "s0", s"$boiler unique tail $i")) ++ Seq(
      (10L, "en", "s0", "a rare pair of documents with their own wording entirely"),
      (11L, "en", "s0", "a rare pair of documents with their own wording entirely"))
    a.toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairsA = Dedup.ddNgramJaccard(spark, dir, shingleDfCap = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsA == Set((10L, 11L)),
      s"corpus A: only the cold pair survives the hot stop list: $pairsA")
    // corpus B rewrites the SAME path: now only two docs share the
    // boilerplate text (df 2 <= cap — nothing is hot). A stale corpus-A
    // stop list would strip their shared shingles and suppress the pair;
    // the snapshot fingerprint must force a fresh census instead.
    // NOTE: no clearHotKeyCache() here — that is the point.
    val b = Seq(
      (20L, "en", "s0", s"$boiler identical twin"),
      (21L, "en", "s0", s"$boiler identical twin"))
    b.toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairsB = Dedup.ddNgramJaccard(spark, dir, shingleDfCap = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsB == Set((20L, 21L)),
      s"rewritten corpus must be re-censused (stale stop list would suppress the pair): $pairsB")
    Dedup.clearHotKeyCache()
  }

  test("edge snapshot: invalidates on corpus rewrite, value-identical to the inline build, releasable") {
    import spark.implicits._
    Analytics.releaseEdgeSnapshots(spark)
    val dir = java.nio.file.Files.createTempDirectory("edge_snap").toString
    // corpus A: parts (1,2) co-bought in two orders -> one edge
    Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def nodes(): Set[Long] = Analytics.q57Pagerank(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(nodes() == Set(1L, 2L))
    // rewrite the SAME path: parts (3,4) now co-bought twice. A stale
    // edge snapshot would still rank nodes 1,2 — the fingerprint must
    // rebuild. NOTE: no release call here — that is the point.
    Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(nodes() == Set(3L, 4L),
      "rewritten corpus must rebuild the edge snapshot, not serve node ranks of the old graph")
    // snapshot OFF: inline build, identical values
    def ranks() = Analytics.q57Pagerank(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = withConf("spark.graft.graph.edgeSnapshot" -> "false")(ranks())
    assert(inline == ranks(),
      "snapshot path must be value-identical (bit-for-bit ranks) to the inline build")
    // release deletes the materialized files and empties the store
    // (the no-leaked-RDD probe itself is Round4OpsSpec's assertion —
    // the snapshot is parquet, it never touches the block manager)
    Analytics.releaseEdgeSnapshots(spark)
  }

  test("order-statistic family: worst bucket holds a bounded fraction of rows (asserted, not eyeballed)") {
    // the historical q171 regression class: one bucket holding >50% of
    // rows turns the pruned/offset pass back into the serial shape it
    // replaces. Ceiling 25% = 2x the worst healthy observation with
    // margin, half the pathological class. Asserted from the SAME
    // bucketed frames the operators consume (no drift possible).
    // r14: q120/q171 left the family — their pair medians are now
    // per-group selections over calendar-bounded daily arrays
    // (PairOrderStats), with no bucketed distributed pass to audit.
    val dirs = Seq(sf0001, "/root/testdata/sf0.01")
    dirs.foreach { d =>
      val rows = Analytics.orderStatBucketMass(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4)))
      assert(rows.nonEmpty && rows.map(_._1).distinct.length == 2,
        "both family members must report")
      info(s"$d: " + rows.map(r => s"${r._1}/${r._2}=${r._4 / 10000.0}%").mkString(", "))
      rows.foreach { case (op, key, n, mass) =>
        assert(mass <= 250000L,
          s"$op key=$key: worst bucket holds ${mass / 10000.0}% of $n rows (> 25% ceiling)")
      }
    }
  }

  test("simhash128: matches a direct md5-vote reimplementation, nests simhash60 in word 1, null on empty") {
    val df = graft.Tables.documents(spark, sf0001).limit(50)
      .select(col("doc_id"), col("text"),
        org.apache.spark.sql.graft.TextExpressions.simhash128(col("text")).as("ph"),
        org.apache.spark.sql.graft.TextExpressions.simhash60(col("text")).as("ph60"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val toks = r.getString(1).split(" ").filter(_.nonEmpty)
      if (toks.isEmpty) assert(r.isNullAt(2))
      else {
        val votes = new Array[Int](128)
        toks.foreach { t =>
          md.reset()
          val d = md.digest(t.getBytes("UTF-8"))
          var w1 = 0L; var w2 = 0L
          (0 until 8).foreach { i =>
            w1 = (w1 << 8) | (d(i) & 0xffL); w2 = (w2 << 8) | (d(i + 8) & 0xffL)
          }
          (0 until 64).foreach { j =>
            votes(j) += (if (((w1 >>> j) & 1L) == 1L) 1 else -1)
            votes(64 + j) += (if (((w2 >>> j) & 1L) == 1L) 1 else -1)
          }
        }
        var e1 = 0L; var e2 = 0L
        (0 until 64).foreach { j =>
          if (votes(j) > 0) e1 |= (1L << j)
          if (votes(64 + j) > 0) e2 |= (1L << j)
        }
        val got = r.getSeq[Long](2)
        assert(got == Seq(e1, e2), s"doc ${r.getLong(0)}: got $got expected ($e1, $e2)")
        // word-1 nests the 60-bit tier: simhash60 votes over the top 60
        // bits of the first digest word (h >>> 4), so its bit j is
        // word 1's bit j+4 — the two kernels must agree exactly
        assert(r.getLong(3) == (e1 >>> 4),
          s"doc ${r.getLong(0)}: simhash60 must equal simhash128 word1 >>> 4")
      }
    }
  }

  test("mm_phash_dup_wide: banded pairs equal the all-pairs 128-bit hamming<=5 answer (pigeonhole)") {
    val hashes = graft.Tables.documents(spark, sf0001)
      .withColumn("grams", expr(
        "regexp_replace(hex(cast(text as binary)), '(.{8})', '$1 ')"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions.simhash128(col("grams")).as("ph"))
      .filter(col("ph").isNotNull)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val allPairs = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha(0) ^ hb(0)) +
        java.lang.Long.bitCount(ha(1) ^ hb(1)) <= 5
    } yield (ia, ib)).toSet
    val banded = Multimodal.mmPhashDupWide(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == allPairs, s"banded=${banded.size} allPairs=${allPairs.size}")
    assert(banded.nonEmpty, "fixture must exercise the pair path")
  }
}
