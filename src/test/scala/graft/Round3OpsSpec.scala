package graft

import graft.operators.{Analytics, CorpusPipeline, TextAnalysis}
import org.apache.spark.sql.functions._

/** Semantic specs for the round-3 operators: each test recomputes the
  * operator's contract independently (driver-side, from the raw
  * tables) rather than asserting row counts alone. */
class Round3OpsSpec extends SparkSpec {

  test("q46_gap_fill: dense day grid per user, counts conserved, carried state never null after first day") {
    val rows = Analytics.q46GapFill(spark, sf0001).collect()
    val byUser = rows.groupBy(_.getLong(0))
    val nEvents = Tables.events(spark, sf0001).count()
    assert(rows.map(_.getLong(2)).sum == nEvents, "gap fill must conserve event counts")
    byUser.foreach { case (_, rs) =>
      val days = rs.map(_.getDate(1).toLocalDate).sortBy(_.toEpochDay)
      // dense: every day between min and max present exactly once
      assert(days.length == days.last.toEpochDay - days.head.toEpochDay + 1)
      assert(days.distinct.length == days.length)
      // first day has events by construction; ffill keeps type non-null
      val sorted = rs.sortBy(_.getDate(1).toLocalDate.toEpochDay)
      assert(sorted.head.getLong(2) > 0)
      assert(sorted.forall(r => r.getString(3) != null))
    }
  }

  test("q47_cume_dist: bounds and a recomputed nation") {
    val rows = Analytics.q47CumeDist(spark, sf0001).collect()
    assert(rows.forall(r => r.getDouble(3) >= 0 && r.getDouble(3) <= 1))
    assert(rows.forall(r => r.getDouble(4) > 0 && r.getDouble(4) <= 1))
    val nation = rows.filter(_.getInt(1) == rows.head.getInt(1))
    val n = nation.length
    val sorted = nation.sortBy(r => (r.getDouble(2), r.getLong(0)))
    sorted.zipWithIndex.foreach { case (r, i) =>
      // unrounded since round 5 (round-6 ties at sf0.1): same IEEE division
      assert(r.getDouble(3) == (if (n == 1) 0.0 else i.toDouble / (n - 1)))
      assert(r.getDouble(4) == (i + 1).toDouble / n)
    }
  }

  test("q49_rolling_median: recompute the 7-row sliding median for one nation") {
    val rows = Analytics.q49RollingMedian(spark, sf0001).collect()
    val byNation = rows.groupBy(_.getInt(0))
    val (_, rs) = byNation.head
    val sorted = rs.sortBy(_.getDate(1).toLocalDate.toEpochDay)
    sorted.zipWithIndex.foreach { case (r, i) =>
      val win = sorted.slice(math.max(0, i - 6), i + 1).map(_.getLong(2)).sorted
      val n = win.length
      val med = if (n % 2 == 1) win(n / 2).toDouble
        else (win(n / 2 - 1) + win(n / 2)) / 2.0
      assert(r.getDouble(3) == med, s"median mismatch at index $i")
    }
  }

  test("q56_markov: probabilities row-normalize and transition counts conserve") {
    val rows = Analytics.q56Markov(spark, sf0001).collect()
    val byFrom = rows.groupBy(_.getString(0))
    byFrom.foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    }
    val total = rows.map(_.getLong(2)).sum
    val e = Tables.events(spark, sf0001)
    val nUsersWithEvents = e.select("user_id").distinct().count()
    assert(total == e.count() - nUsersWithEvents,
      "each user contributes (n_events - 1) transitions")
  }

  test("q50_dq_audit: metric values match independent recomputes") {
    val m = Analytics.q50DqAudit(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("row_count", "lineitem")) == Tables.lineitem(spark, sf0001).count())
    assert(m(("fk_orphans", "lineitem->orders")) == 0)
    assert(m(("pk_duplicates", "part")) == 0)
    val neg = Tables.customer(spark, sf0001).filter(col("c_acctbal") < 0).count()
    assert(m(("domain_violations", "customer.c_acctbal<0")) == neg)
    assert(m(("distinct_keys", "orders.o_orderkey")) ==
      Tables.orders(spark, sf0001).count())
  }

  test("q51_scd2: intervals tile each user's history; exactly one snapshot row per covered user") {
    val rows = Analytics.q51Scd2(spark, sf0001).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getTimestamp(2).getTime)
      // no consecutive equal states (SCD2 collapse)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getString(1) != b.getString(1), "uncollapsed state repeat")
          assert(a.getTimestamp(3) == b.getTimestamp(2), "intervals must tile")
        case _ => ()
      }
      assert(sorted.last.isNullAt(3), "last interval is open-ended")
      val snaps = rs.count(_.getInt(4) == 1)
      val covered = sorted.head.getTimestamp(2).getTime <=
        java.sql.Timestamp.valueOf("2024-01-15 00:00:00").getTime
      assert(snaps == (if (covered) 1 else 0))
    }
  }

  test("q55_copurchase: top pair support matches a brute-force recount") {
    val rows = Analytics.q55Copurchase(spark, sf0001).collect()
    assert(rows.length == 50)
    val baskets = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val counts = collection.mutable.Map.empty[(Long, Long), Int]
    baskets.foreach { ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length)
        counts((ps(i), ps(j))) = counts.getOrElse((ps(i), ps(j)), 0) + 1
    }
    rows.take(5).foreach { r =>
      assert(counts((r.getLong(0), r.getLong(1))) == r.getLong(2))
    }
    // descending support with deterministic tie-break
    val ns = rows.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("q52_range_band: tiers partition the lineitem table") {
    val rows = Analytics.q52RangeBandJoin(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("high", "low", "mid"))
    assert(rows.map(_.getLong(1)).sum == Tables.lineitem(spark, sf0001).count(),
      "bands must cover every quantity exactly once")
  }

  test("txt_tokenize_ids: ids decode back to the original token sequence") {
    val vocab = TextAnalysis.txtVocab(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = TextAnalysis.txtTokenizeIds(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' ').filter(_.nonEmpty).toSeq).toMap
    assert(out.length == docs.count(_._2.nonEmpty))
    out.take(20).foreach { r =>
      val toks = docs(r.getLong(0))
      assert(r.getLong(1) == toks.length)
      val decoded = r.getString(2).split(',').map(s => vocab(s.toLong)).toSeq
      assert(decoded == toks, s"roundtrip failed for doc ${r.getLong(0)}")
    }
  }

  test("q57_pagerank: ranks positive, iteration-consistent with a driver recompute") {
    val rows = Analytics.q57Pagerank(spark, sf0001).collect()
    assert(rows.length == 25)
    assert(rows.forall(_.getDouble(1) > 0.15), "rank floor is the teleport term")
    // driver recompute of the same 3 iterations from raw baskets
    val baskets = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).values.map(_.map(_._2).sorted).filter(_.length > 1)
    val pairCounts = collection.mutable.Map.empty[(Long, Long), Int]
    baskets.foreach(ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length)
        pairCounts((ps(i), ps(j))) = pairCounts.getOrElse((ps(i), ps(j)), 0) + 1)
    val pairs = pairCounts.filter(_._2 >= 2).keySet
    val edges = pairs.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var pr = adj.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val contribs = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          BigDecimal(math.rint(pr(src) / adj(src).size * 1e12) / 1e12)
        }.sum.toDouble
      }
      pr = contribs.map { case (n, s) => n -> math.rint((0.15 + 0.85 * s) * 1e12) / 1e12 }
    }
    rows.take(5).foreach { r =>
      assert(math.abs(pr(r.getLong(0)) - r.getDouble(1)) < 1e-9,
        s"rank mismatch for node ${r.getLong(0)}")
    }
  }

  test("q58_triangles: metric identities hold") {
    val m = Analytics.q58Triangles(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("n_edges") > 0 && m("n_wedges") >= m("n_triangles"))
    // each triangle contributes 3 closed wedges
    assert(math.abs(m("clustering_coeff") -
      3.0 * m("n_triangles") / m("n_wedges")) < 1e-9)
    assert(m("clustering_coeff") >= 0 && m("clustering_coeff") <= 1)
  }

  test("q59_retention: offset-0 retention is 1 and rates never exceed cohort") {
    val rows = Analytics.q59Retention(spark, sf0001).collect()
    rows.filter(_.getLong(1) == 0).foreach { r =>
      assert(r.getLong(2) == r.getLong(3) && r.getDouble(4) == 1.0,
        "every cohort member is active in its own first week")
    }
    assert(rows.forall(r => r.getLong(2) <= r.getLong(3)))
    assert(rows.forall(r => r.getLong(1) >= 0))
  }

  test("q61_streaks: recompute longest streak for every user") {
    val rows = Analytics.q61Streaks(spark, sf0001).collect()
    val days = Tables.events(spark, sf0001)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().collect()
      .map(r => r.getLong(0) -> r.getDate(1).toLocalDate.toEpochDay)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val ds = days(r.getLong(0))
      var best = 1L; var cur = 1L
      ds.sliding(2).foreach { p =>
        if (p.length == 2) {
          if (p(1) == p(0) + 1) { cur += 1; best = math.max(best, cur) } else cur = 1
        }
      }
      assert(r.getLong(1) == best && r.getLong(2) == ds.length)
    }
  }

  test("q62_ab_test: z-statistic recomputes from the emitted counts") {
    val r = Analytics.q62AbTest(spark, sf0001).collect().head
    val (n0, c0, n1, c1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n0 > 0 && n1 > 0 && c0 > 0 && c1 > 0, "both arms need both outcomes")
    val p0 = c0.toDouble / n0; val p1 = c1.toDouble / n1
    val p = (c0 + c1).toDouble / (n0 + n1)
    val z = (p0 - p1) / math.sqrt(p * (1 - p) * (1.0 / n0 + 1.0 / n1))
    // unrounded since round 5; the recompute mirrors the operator's
    // exact IEEE chain, so equality is to the last ulp-or-so
    assert(math.abs(r.getDouble(6) - z) < 1e-12)
  }

  test("q63_topk_per_group: custom operator matches the window formulation exactly") {
    val q63 = Analytics.q63TopkPerGroup(spark, sf0001)
    val custom = q63.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(plansTopK(q63))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val (window, windowTopK) = withoutTopKRewrite {
      val df = Tables.orders(spark, sf0001)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
        .drop("rn")
      (df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq,
        plansTopK(df))
    }
    assert(!windowTopK, "reference side must plan as a plain window")
    assert(custom == window, "TopKPerGroup must be result-identical to the window form")
  }

  test("sim_matryoshka: energy ratio in (0,1], cos is its sqrt, recompute spot-check") {
    val rows = graft.operators.Similarity.simMatryoshka(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getDouble(2)
      assert(e > 0 && e <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(3) - math.rint(math.sqrt(e) * 1e6) / 1e6) < 1e-3)
    }
    val emb = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.take(10).foreach { r =>
      val v = emb(r.getLong(0))
      var full = 0.0; var head = 0.0
      v.zipWithIndex.foreach { case (x, i) =>
        val d = x.toDouble * x.toDouble
        full += d; if (i < 16) head += d
      }
      assert(math.abs(r.getDouble(2) - math.rint(head / full * 1e6) / 1e6) < 1e-9)
    }
  }

  test("q64_interval_merge: spans are maximal, disjoint, and cover every event") {
    val rows = Analytics.q64IntervalMerge(spark, sf0001).collect()
    assert(rows.map(_.getLong(4)).sum == Tables.events(spark, sf0001).count())
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val spans = rs.sortBy(_.getLong(1))
        .map(r => (r.getTimestamp(2).getTime, r.getTimestamp(3).getTime))
      spans.foreach { case (s, e) => assert(e - s >= 5 * 60 * 1000) }
      spans.sliding(2).foreach { p =>
        if (p.length == 2) assert(p(1)._1 > p(0)._2,
          "merged spans must be strictly disjoint (no remaining overlap)")
      }
    }
  }

  test("q65_debounce: kept counts match a driver-side debounce replay") {
    val rows = Analytics.q65Debounce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val events = Tables.events(spark, sf0001)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
    events.groupBy(e => (e._1, e._2)).foreach { case (key, es) =>
      def us(x: java.sql.Timestamp): Long =
        math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000
      val ts = es.sortBy(e => (us(e._3), e._4)).map(_._3)
      var kept = 1; var prev = ts.head
      ts.tail.foreach { t =>
        if (us(t) - us(prev) > 30000000L) kept += 1
        prev = t
      }
      assert(rows(key) == kept, s"debounce mismatch for $key")
    }
  }

  test("q66_gini: bounds and a driver recompute per nation") {
    val rows = Analytics.q66Gini(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val bal = Tables.customer(spark, sf0001)
      .select(col("c_nationkey"),
        expr("cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)"), col("c_custkey"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val xs = bal(r.getInt(0)).sortBy(t => (t._2, t._3)).map(_._2)
      val n = xs.length.toLong
      val sx = xs.sum
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val g = (2.0 * six - (n + 1) * sx) / (n.toDouble * sx)
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - math.rint(g * 1e6) / 1e6) < 1e-9)
    }
  }

  test("q67_abc_class: monotone classes, cumulative share consistent") {
    val rows = Analytics.q67AbcClass(spark, sf0001).collect()
    assert(rows.length == 100)
    val classes = rows.map(_.getString(3))
    // once the class moves past A it never returns (monotone in rank)
    val order = Map("A" -> 0, "B" -> 1, "C" -> 2)
    assert(classes.map(order).zip(classes.map(order).tail).forall { case (a, b) => a <= b })
    val shares = rows.map(_.getDouble(2))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    rows.filter(_.getString(3) == "A").foreach(r => assert(r.getDouble(2) <= 0.8 + 1e-9))
  }

  test("q68_benford: observed distribution sums to 1 and counts match") {
    val rows = Analytics.q68Benford(spark, sf0001).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9))
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf0001).count())
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-3)
  }

  test("dd_containment: catches subset relations jaccard would miss, values in (0,1]") {
    val rows = graft.operators.Dedup.ddContainment(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= 0.5 - 1e-9 && c <= 1.0 + 1e-9)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("txt_readability: recompute for sample docs; score decreases with syllable density") {
    val rows = TextAnalysis.txtReadability(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(20).foreach { r =>
      val text = docs(r.getLong(0))
      val words = text.split(' ').count(_.nonEmpty)
      val sents = math.max("[.!?]".r.findAllIn(text).length, 1)
      val vg = math.max("[aeiouy]+".r.findAllIn(text.toLowerCase).length, 1)
      assert(r.getLong(1) == words && r.getLong(2) == sents && r.getLong(3) == vg)
      val score = 206.835 - 1.015 * (words.toDouble / sents) - 84.6 * (vg.toDouble / words)
      assert(math.abs(r.getDouble(4) - score) < 1e-9)
    }
  }

  test("txt_kn_counts: identities between bigram, prefix and continuation counts") {
    val rows = TextAnalysis.txtKnCounts(spark, sf0001).collect()
    assert(rows.length == 100)
    val docs = Tables.documents(spark, sf0001).select("text").collect()
      .map(_.getString(0).split(' ').filter(_.nonEmpty).toSeq)
    val bigrams = docs.flatMap(t => t.zip(t.drop(1)))
    val counts = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val prefix = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val contin = counts.keySet.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == counts(key))
      assert(r.getLong(3) == prefix(key._1))
      assert(r.getLong(4) == contin(key._2))
    }
  }

  test("pipe_span_corruption: spans deterministic, inside the doc, non-overlapping, stride 10") {
    val a = CorpusPipeline.pipeSpanCorruption(spark, sf0001).collect()
    val b = CorpusPipeline.pipeSpanCorruption(spark, sf0001).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "layout must be reproducible")
    val dls = Tables.documents(spark, sf0001).selectExpr("doc_id",
      "cast(size(filter(split(text, ' '), x -> x != '')) as bigint) dl").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.zipWithIndex.foreach { case (r, i) => assert(r.getLong(1) == i) }
      sorted.foreach { r =>
        assert(r.getLong(2) >= 0 && r.getLong(2) + r.getLong(3) <= dls(doc))
        assert(r.getLong(3) >= 1 && r.getLong(3) <= 3)
        assert(r.getLong(4) == 32000 + r.getLong(1))
      }
      sorted.sliding(2).foreach { p =>
        if (p.length == 2) {
          assert(p(1).getLong(2) - p(0).getLong(2) == 10, "stride must be constant")
          assert(p(0).getLong(2) + p(0).getLong(3) <= p(1).getLong(2), "spans must not overlap")
        }
      }
    }
  }

  test("q69_chi2: expected counts recompute and marginals conserve") {
    val rows = Analytics.q69Chi2(spark, sf0001).collect()
    val n = rows.map(_.getLong(2)).sum
    assert(n == Tables.events(spark, sf0001).count())
    val rowT = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val colT = rows.groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    rows.foreach { r =>
      val e = rowT(r.getString(0)).toDouble * colT(r.getInt(1)) / n
      assert(math.abs(r.getDouble(3) - math.rint(e * 1e6) / 1e6) < 1e-9)
      val term = (r.getLong(2) - e) * (r.getLong(2) - e) / e
      assert(math.abs(r.getDouble(4) - math.rint(term * 1e6) / 1e6) < 1e-6)
    }
  }

  test("pipe_sft_render: loss offset lands exactly at the assistant span") {
    val rows = CorpusPipeline.pipeSftRender(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val rendered = r.getString(1)
      val off = r.getLong(2).toInt
      assert(rendered.startsWith("<|system|>"))
      val marker = "<|assistant|>"
      val idx = rendered.indexOf(marker)
      assert(idx >= 0 && idx + marker.length == off,
        "loss_start_char must point just past the assistant marker")
      assert(r.getLong(3) == rendered.length && r.getLong(3) <= 600)
      if (r.getInt(4) == 0) assert(rendered.length < 600 || rendered.length == 600)
    }
  }

  test("dd_minhash_sigs: native signature bit-equals the interpreted HOF formulation; LSH bands derive from it") {
    val sigs = graft.operators.Dedup.ddMinhashSigs(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // interpreted reference: per perm, min md5 over 'p:shingle'
    val ref = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), graft.functions.TextOps.shingleArray("text").as("sh"))
      .filter(size(col("sh")) > 0)
      .selectExpr("doc_id",
        """array_join(transform(sequence(0, 7), i ->
          |  array_min(transform(sh, s -> md5(concat(cast(i as string), ':', s))))), ',')
          |as sig""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs == ref, "native MinHashSig must bit-match the HOF reference")
    sigs.values.foreach(s => assert(s.split(',').length == 8))
  }

  test("q71_share_of_parent: shares sum to 1 per region") {
    val rows = Analytics.q71ShareOfParent(spark, sf0001).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    }
    assert(rows.forall(r => r.getDouble(2) > 0))
  }

  test("q72_yoy: growth recomputes from consecutive-year pairs, null on gaps/first year") {
    val rows = Analytics.q72YoY(spark, sf0001).collect()
    val rev = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val prev = rev.get((r.getInt(0) - 1, r.getInt(1)))
      prev match {
        case Some(p) =>
          val g = (r.getLong(2) - p).toDouble / p
          assert(math.abs(r.getDouble(3) - math.rint(g * 1e6) / 1e6) < 1e-9)
        case None => assert(r.isNullAt(3))
      }
    }
  }

  test("dd_incremental: signature-derived bands equal the full-LSH cross-split pairs") {
    val inc = graft.operators.Dedup.ddIncremental(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: full LSH over everything, keep only cross-split pairs
    val full = graft.operators.Dedup.ddMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cross = full.collect {
      case (a, b) if a < 400 && b >= 400 => (b, a)
      case (a, b) if b < 400 && a >= 400 => (a, b)
    }.toSet
    assert(inc == cross,
      "incremental dedup from stored signatures must equal full-LSH cross pairs")
  }

  test("q73_reservoir: k per group, deterministic, selection matches hash order") {
    val rows = Analytics.q73Reservoir(spark, sf0001).collect()
    val again = Analytics.q73Reservoir(spark, sf0001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) => assert(rs.length == 5) }
    // the chosen ids are the 5 smallest md5(user:event) per user
    val byUser = Tables.events(spark, sf0001).select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(u: Long, e: Long): String =
      md.digest(s"$u:$e".getBytes).map("%02x".format(_)).mkString
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val expect = byUser(u).map(_._2).sortBy(e => (h(u, e), e)).take(5).toSeq
      assert(rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq == expect)
    }
  }

  test("pipe_quality_report: gate counts reconcile with the per-doc gopher table") {
    val m = CorpusPipeline.pipeQualityReport(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val g = TextAnalysis.txtGopher(spark, sf0001).collect()
    assert(m("docs_total") == g.length)
    assert(m("kept") == g.count(_.getBoolean(6)))
    assert(m("fail_length") == g.count(r => r.getLong(1) < 10 || r.getLong(1) > 1000))
    // a doc can fail several gates; kept + union-of-fails >= total
    assert(m("kept") + m("fail_length") + m("fail_dup_words") +
      m("fail_top_bigram") + m("fail_word_len") >= m("docs_total"))
  }

  test("dd_incremental from a persisted signature lake table: text never re-read, same pairs") {
    val sigPath = java.nio.file.Files.createTempDirectory("sigs").toString + "/signatures"
    // run 1: land the signature table
    graft.operators.Dedup.ddMinhashSigs(spark, sf0001).write.parquet(sigPath)
    // run 2: dedup the new batch against the STORED signatures
    val fromLake = graft.operators.Dedup
      .ddIncrementalFromLake(spark, sf0001, sigPath)
    val viaLake = fromLake.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recomputed = graft.operators.Dedup.ddIncremental(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLake == recomputed, "lake-table path must equal the recomputed path")
    // the history side's scan is pruned to the signature columns
    val scanSchemas = fromLake.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!scanSchemas.contains("text") || scanSchemas.contains("signature"),
      s"history scan must not read text:\n$scanSchemas")
  }

  test("pipe_mix_corpus: deterministic, a subset, and caps the dominant language") {
    val a = CorpusPipeline.pipeMixCorpus(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val b = CorpusPipeline.pipeMixCorpus(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSeq == b.toSeq, "sampling must be deterministic")
    val langTotals = Tables.documents(spark, sf0001).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_._2).view.mapValues(_.length).toMap
    langTotals.foreach { case (lang, total) =>
      val k = kept.getOrElse(lang, 0)
      if (total <= 100) assert(k == total, s"$lang under quota must keep all")
      else {
        // binomial(total, 100/total): expect ~100, allow wide slack
        assert(k > 50 && k < 160, s"$lang kept $k of $total, expected ~100")
      }
    }
  }
}
