package graft

import graft.operators.TextAnalysis

/** Round-13 specs. The headline is the txt_bpe_merges driver-recompute:
  * an INDEPENDENT plain-Scala BPE trainer (token lists, no string-
  * replace device, no Spark) must reproduce the operator's merge table
  * exactly — the discipline that caught the q57-family drift classes
  * the value gate can't localize. */
class Round13OpsSpec extends SparkSpec {

  /** Reference BPE trainer on the driver: word-frequency map, argmax
    * adjacent-pair count (freq desc, then (a,b) lexical), greedy
    * left-to-right merge application on symbol VECTORS. */
  private def referenceBpe(texts: Seq[String], rounds: Int): Seq[(Long, String, String, String, Long)] = {
    val words: Map[Vector[String], Long] = texts
      .flatMap(_.split(' ').filter(_.nonEmpty))
      .filter(w => w.length >= 2 && w.forall(c => c >= 'a' && c <= 'z'))
      .groupBy(identity).map { case (w, ws) => (w.map(_.toString).toVector, ws.size.toLong) }
    var segs = words
    (1 to rounds).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (sy, cnt) =>
        sy.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + cnt
        }
      }
      val ((a, b), freq) = counts.toSeq.minBy { case ((a, b), f) => (-f, a, b) }
      segs = segs.map { case (sy, cnt) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        sy.foreach { s =>
          if (out.nonEmpty && out.last == a && s == b) out(out.length - 1) = a + b
          else out += s
        }
        (out.toVector, cnt)
      }
      (r.toLong, a, b, a + b, freq)
    }
  }

  test("txt_bpe_merges: driver-recomputed BPE training reproduces the merge table exactly") {
    val texts = Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0)).toSeq
    val expected = referenceBpe(texts, 3)
    val got = TextAnalysis.txtBpeMerges(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[String]("merged"), r.getAs[Long]("freq")))
      .toSeq
    assert(got == expected, s"merge tables diverge:\n got=$got\n exp=$expected")
  }

  test("txt_bpe_merges: greedy left-to-right replace never overlaps ('aaa' class)") {
    // the device itself: literal replace on the wrapped form must merge
    // 'aaa' to ['aa','a'] (2 pair occurrences in the count, ONE merge
    // applied), pinning the non-overlap contract the operator rides
    import spark.implicits._
    val seg = Seq("(a)(a)(a)").toDF("seg")
      .selectExpr("replace(seg, '(a)(a)', '(aa)') AS m").head().getString(0)
    assert(seg == "(aa)(a)", s"greedy merge broke: $seg")
    val seg4 = Seq("(a)(a)(a)(a)").toDF("seg")
      .selectExpr("replace(seg, '(a)(a)', '(aa)') AS m").head().getString(0)
    assert(seg4 == "(aa)(aa)", s"greedy merge broke on even run: $seg4")
  }

  test("txt_bpe_merges: rounds are distinct merges with non-increasing achievable freq") {
    val rows = TextAnalysis.txtBpeMerges(spark, sf0001).collect()
    assert(rows.length == 3)
    val merged = rows.map(_.getAs[String]("merged"))
    assert(merged.distinct.length == 3, s"a merge repeated: ${merged.toSeq}")
    rows.foreach(r => assert(r.getAs[Long]("freq") > 0))
    // merging can only shrink existing pair counts, and every pair the
    // new symbol participates in is bounded by the merged pair's count
    val freqs = rows.sortBy(_.getAs[Long]("round")).map(_.getAs[Long]("freq")).toSeq
    assert(freqs == freqs.sorted.reverse, s"argmax freq increased across rounds: $freqs")
  }

  test("TopKPerGroupRewrite: the rn === 1 argmax shape (q32_latest_per_key) plans through TopKPerGroupExec, result-identical") {
    // q32 is one of the 12 `rn === 1` call sites: the high-cardinality
    // per-user latest-snapshot — exactly where the bounded-heap combiner
    // beats the full per-group window sort at scale
    val (plain, plainTopK) = withoutTopKRewrite {
      val df = graft.operators.Analytics.q32LatestPerKey(spark, sf0001)
      (df.collect(), plansTopK(df))
    }
    assert(!plainTopK, "reference side must plan as a plain window")
    val df = graft.operators.Analytics.q32LatestPerKey(spark, sf0001)
    val rewritten = df.collect()
    assert(plansTopK(df),
      s"rule did not fire on the rn === 1 shape:\n${df.queryExecution.executedPlan}")
    assert(rewritten.map(_.toString).toSeq == plain.map(_.toString).toSeq,
      "rn === 1 rewrite must be result-identical")
  }

  test("dd_dup_spans: driver-recomputed ExactSubstr spans reproduce the per-doc table exactly") {
    val n = 10
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(' ').filter(_.nonEmpty)))
    // independent recompute: gram census, duplicated positions, island
    // merge with gap <= n, per-doc aggregate
    val grams = docs.flatMap { case (id, tl) =>
      (0 to tl.length - n).map(i => (id, i + 1L, tl.slice(i, i + n).mkString(" ")))
    }
    val dup = grams.groupBy(_._3).filter(_._2.length >= 2).keySet
    val expected = grams.filter(g => dup(g._3))
      .groupBy(_._1).map { case (id, hs) =>
        val ps = hs.map(_._2).sorted
        val islands = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Long]]
        ps.foreach { p =>
          if (islands.nonEmpty && p <= islands.last.last + n) islands.last += p
          else islands += scala.collection.mutable.ArrayBuffer(p)
        }
        val lens = islands.map(i => i.last + n - 1 - i.head + 1)
        (id, (islands.length.toLong, lens.sum, lens.max, ps.length.toLong))
      }
    val got = graft.operators.Dedup.ddDupSpans(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Long]("n_spans"),
        r.getAs[Long]("dup_token_span"), r.getAs[Long]("longest_span"),
        r.getAs[Long]("n_dup_grams")))).toMap
    assert(got == expected, s"span tables diverge: got ${got.size} docs, expected ${expected.size}")
    // structural floor: every span covers at least one full n-gram
    got.values.foreach { case (ns, cov, lg, ng) =>
      assert(lg >= n && cov >= ns * n && ng >= ns)
    }
  }

  test("txt_bpe_encode: savings bounded by the merge freqs; ratio column self-consistent") {
    val mergeFreqs = TextAnalysis.txtBpeMerges(spark, sf0001).collect()
      .map(_.getAs[Long]("freq")).sum
    val r = TextAnalysis.txtBpeEncode(spark, sf0001).collect().head
    val before = r.getAs[Long]("n_sym_before")
    val after = r.getAs[Long]("n_sym_after")
    val saved = before - after
    assert(saved > 0, s"3 merges must shorten something: $r")
    // each APPLIED merge removes exactly one symbol; the pair count
    // can only overcount applications (overlapping pairs like 'aaa'
    // count twice, merge once), so saved <= sum of winning freqs
    assert(saved <= mergeFreqs, s"saved $saved > claimed pair mass $mergeFreqs")
    assert(r.getAs[Long]("compression_micro") == after * 1000000L / before)
    assert(r.getAs[Long]("n_types_shortened") >= 1 &&
      r.getAs[Long]("n_types_shortened") <= r.getAs[Long]("n_types"))
  }

  test("sim_nsw_recall: per-query rows self-consistent and k pinned") {
    graft.operators.Similarity.simNswRecall(spark, sf0001).collect().foreach { r =>
      assert(r.getAs[Long]("k") == 5)
      val h = r.getAs[Long]("n_hit")
      assert(h >= 0 && h <= 5)
      assert(math.abs(r.getAs[Double]("recall_at_k") - h / 5.0) < 1e-12)
    }
  }

  test("sim_nsw_topk: recall@5 vs the exact brute-force ladder is audited and non-trivial") {
    import graft.operators.Similarity
    val nsw = Similarity.simNswTopk(spark, sf0001).collect()
    // structure: every query returns exactly 5 ranked rows, ranks 1..5
    val byQ = nsw.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5, s"expected 5 queries, got ${byQ.keySet}")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L),
        s"query $q ranks broken")
    }
    // recall@5 vs exact top-5 (the sim_recall_report pattern): the
    // synthetic labels are WEAK clusters (the IVF ladder's own recall
    // here is 0.0–0.6 per query, floor-assert 0.15 in SimilaritySpec),
    // and the cell-blocked graph bounds what any traversal can reach —
    // measured 0.44 at beam=16 (beam saturates hops: 3 ≡ 8 hops). A
    // broken traversal (empty beams, stuck at entries) lands near 0;
    // floor at 0.3 = comfortably above the IVF chance floor, with
    // margin under the measured point.
    val exact = Similarity.simTopkBruteforce(spark, sf0001).collect()
      .filter(_.getAs[Long]("rank") <= 5)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val hits = nsw.count(r =>
      exact((r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))))
    val recall = hits.toDouble / exact.size
    info(f"NSW recall@5 = $recall%.2f ($hits/${exact.size})")
    assert(recall >= 0.3, f"NSW recall@5 collapsed: $recall%.2f")
  }

  test("q177 bipartite edge snapshot: invalidates on corpus rewrite, value-identical to the inline build, releasable") {
    import spark.implicits._
    import graft.operators.Analytics
    Analytics.releaseEdgeSnapshots(spark)
    val dir = java.nio.file.Files.createTempDirectory("bip_snap").toString
    def write(custParts: Seq[(Long, Long)]): Unit = {
      custParts.map { case (c, p) => (c * 10, c) }.distinct
        .toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      custParts.map { case (c, p) => (c * 10, p) }
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    def topParts(): Seq[Long] =
      Analytics.q177Hits(spark, dir).collect().map(_.getLong(0)).toSeq
    write(Seq((1L, 100L), (1L, 101L), (2L, 100L)))
    assert(topParts().toSet == Set(100L, 101L))
    // rewrite the SAME path with different parts: a stale snapshot
    // would still rank 100/101 — the fingerprint must rebuild
    write(Seq((1L, 200L), (2L, 201L)))
    assert(topParts().toSet == Set(200L, 201L),
      "rewritten corpus must rebuild the bipartite snapshot")
    // snapshot OFF: inline build, identical values
    def hits() = Analytics.q177Hits(spark, dir).collect().map(_.toString).toSeq
    val inline = withConf("spark.graft.graph.edgeSnapshot" -> "false")(hits())
    assert(inline == hits(), "snapshot path must be value-identical to the inline build")
    Analytics.releaseEdgeSnapshots(spark)
  }

  test("TopKPerGroupRewrite: rn === k for k > 1 keeps exactly the rank-k row (Window re-ranks the k survivors)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def rank2() = Tables.orders(spark, sf0001)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") === 2)
      .orderBy(col("o_orderpriority"))
    val (plain, plainTopK) = withoutTopKRewrite {
      val df = rank2(); (df.collect(), plansTopK(df))
    }
    assert(!plainTopK, "reference side must plan as a plain window")
    val df = rank2()
    val rewritten = df.collect()
    assert(plansTopK(df), s"rule did not fire on rn === 2:\n${df.queryExecution.executedPlan}")
    assert(rewritten.map(_.toString).toSeq == plain.map(_.toString).toSeq,
      "rn === 2 must still select exactly the rank-2 row per group")
  }
}
