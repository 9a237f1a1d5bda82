package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, Multimodal}

/** Round-10 hardening specs: the default-ON dup-density guard, the
  * LPA loop's constant plan depth, the Mantel–Haenszel decimal route,
  * and the degenerate-payload frame semantics. */
class Round10OpsSpec extends SparkSpec {

  test("hot-shingle df cap is DEFAULT-ON: default == explicit default cap; conf dial and explicit-uncapped respected") {
    val dflt = Dedup.ddNgramJaccard(spark, sf0001).collect().map(_.toString).toSeq
    val explicit = Dedup.ddNgramJaccard(spark, sf0001,
      shingleDfCap = Some(100)).collect().map(_.toString).toSeq
    assert(dflt == explicit, "the default path must run the df-100 guard")
    // observed max shingle df at sf0.001 is single-digit, so the
    // default cap is non-binding here: flipping it ON changed nothing
    // at the gate scales (the sf1 audit is where it bites)
    val uncapped = Dedup.ddNgramJaccard(spark, sf0001,
      shingleDfCap = Some(0)).collect().map(_.toString).toSeq
    assert(dflt == uncapped,
      "df-100 guard must be result-invariant where no shingle is hot")
    withConf("spark.graft.dedup.shingleDfCap" -> "3") {
      val viaConf = Dedup.ddNgramJaccard(spark, sf0001).collect().map(_.toString).toSeq
      val viaParam = Dedup.ddNgramJaccard(spark, sf0001,
        shingleDfCap = Some(3)).collect().map(_.toString).toSeq
      assert(viaConf == viaParam, "session conf must drive the default cap")
    }
  }

  test("containment carries the same default guard: default == Some(100) == uncapped at this scale") {
    val dflt = Dedup.ddContainment(spark, sf0001).collect().map(_.toString).toSeq
    assert(dflt == Dedup.ddContainment(spark, sf0001, shingleDfCap = Some(100))
      .collect().map(_.toString).toSeq)
    assert(dflt == Dedup.ddContainment(spark, sf0001, shingleDfCap = Some(0))
      .collect().map(_.toString).toSeq)
    assert(dflt.nonEmpty, "fixture must produce containment pairs")
  }

  test("LPA loop: plan depth is CONSTANT in iteration count (per-step localCheckpoint)") {
    // iters=8 must not deepen the final plan vs iters=2: each step
    // checkpoints, so the plan above the last checkpoint is the same
    // shape regardless of how many rounds ran (the 100 TB iteration
    // discipline — no lineage blowup at deployment iteration counts).
    def planLines(iters: Int): Int = {
      val df = Analytics.q168LpaStep(spark, sf0001, iters)
      df.queryExecution.optimizedPlan.treeString.linesIterator.size
    }
    val d2 = planLines(2)
    val d8 = planLines(8)
    assert(d2 == d8, s"plan depth must not grow with iters (2 -> $d2 lines, 8 -> $d8)")
  }

  test("LPA converges on the fixture: iters=8 labeling equals iters=4 (fixed point reached)") {
    val l4 = Analytics.q168LpaStep(spark, sf0001, 4).collect().map(r => (r.getLong(0), r.getLong(1)))
    val l8 = Analytics.q168LpaStep(spark, sf0001, 8).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(l4.nonEmpty)
    assert(l4.map(t => t._1 -> t._2).toMap == l8.map(t => t._1 -> t._2).toMap,
      "frequency-vote labels must be stable once the loop has converged")
  }

  test("Mantel-Haenszel: ad/bc micro terms are exact through the decimal route (no int64 product)") {
    val rows = Analytics.q170MantelHaenszel(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val Seq(a, b, c, d, n, ad, bc) = (1 to 7).map(i => r.getLong(i))
      assert(n == a + b + c + d)
      assert(ad == (BigInt(a) * d * 1000000 / n).toLong, "ad_micro must equal the exact BigInt value")
      assert(bc == (BigInt(b) * c * 1000000 / n).toLong, "bc_micro must equal the exact BigInt value")
    }
  }

  test("CDC chunk projection: keepOuter keeps a NULL-text doc as one NULL-chunk row") {
    import spark.implicits._
    val docs = Seq((1L, Option("hello world rolling hash text body")),
      (2L, None: Option[String])).toDF("doc_id", "text")
    val inner = Dedup.cdcChunkRowsOf(docs, 8, 63).collect()
    assert(!inner.exists(_.getLong(0) == 2L), "inner explode drops the null-text doc (batch contract)")
    val outer = Dedup.cdcChunkRowsOf(docs, 8, 63, keepOuter = true).collect()
    val r2 = outer.filter(_.getLong(0) == 2L)
    assert(r2.length == 1 && r2.head.isNullAt(1) && r2.head.isNullAt(2),
      "outer explode keeps the doc with NULL chunk columns")
    // real docs are byte-identical between the two modes
    assert(inner.filter(_.getLong(0) == 1L).map(_.toString).toSeq ==
      outer.filter(_.getLong(0) == 1L).map(_.toString).toSeq)
  }

  test("ragged MaxSim: ranked lists mix sub-vector widths and un-encoded docs are never retrieved") {
    val rows = operators.Similarity.simMaxsimRagged(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val widths = rows.map(_.getAs[Long]("n_doc_subs")).distinct.sorted
    assert(widths.length > 1 && widths.forall(w => w >= 2 && w <= 5),
      s"ragged table must surface multiple doc sub-counts in the top-k (got ${widths.toSeq})")
    assert(!rows.exists(_.getAs[Long]("vec_id") % 17 == 0),
      "NULL-token (un-encoded) docs must not be retrievable")
    val perQ = rows.groupBy(_.getAs[Long]("query_id"))
    perQ.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rs.length).toSeq)
      val scores = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("score_micro"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "scores must be non-increasing in rank")
    }
  }

  test("MaxSim norm hoist: doc sub-norms project BELOW the broadcast join, once per corpus row") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def aliases(p: LogicalPlan, name: String): Boolean =
      p.expressions.exists(_.exists {
        case a: Alias => a.name == name
        case _ => false
      })
    for (fn <- Seq(
        () => operators.Similarity.simMaxsim(spark, sf0001),
        () => operators.Similarity.simMaxsimRagged(spark, sf0001))) {
      val plan = fn().queryExecution.optimizedPlan
      val join = plan.collectFirst { case j: Join => j }
      assert(join.nonEmpty, "plan must contain the broadcast query-corpus join")
      val below = join.get.children.flatMap(_.collect {
        case n if aliases(n, "dnorms") => n
      })
      assert(below.nonEmpty,
        "dnorms must be COMPUTED under the join's corpus side (once per doc row)")
      val everywhere = plan.collect { case n if aliases(n, "dnorms") => n }
      assert(everywhere.size == below.size,
        "no dnorms computation may be inlined above the join " +
          "(per-pair work must be dots only — CollapseProject must not undo the hoist)")
    }
  }

  test("adaptive RAKE: stoplist sizes differ per language and no phrase exceeds the cap") {
    val rows = operators.TextAnalysis.txtRakeLang(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("lang")).distinct.length == 5,
      "all five corpus languages must produce keyphrases")
    assert(rows.forall(_.getAs[Long]("n_words") <= 4L),
      "the maxLen cap must bound every emitted phrase")
    val stops = rows.map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_stop")).distinct
    assert(stops.map(_._2).distinct.length > 1,
      s"the mean-df knee must size stoplists per language (got $stops)")
  }

  test("adaptive RAKE cap binds: uncapped runs longer than maxLen exist and are discarded") {
    // recompute the candidate-run lengths the operator saw: if no run
    // exceeded the cap the test fixture proves nothing — guard it
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"),
        posexplode(graft.functions.TextOps.tokens("text")).as(Seq("pos", "term")))
    val dfc = toks.groupBy(col("lang"), col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val lt = dfc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("sum_df"))
    val stop = dfc.join(broadcast(lt), Seq("lang"))
      .filter(col("df") * col("n_terms") >= col("sum_df"))
      .select(col("lang"), col("term"), lit(true).as("is_stop"))
    val maxRun = toks.join(broadcast(stop), Seq("lang", "term"), "left")
      .filter(col("is_stop").isNull)
      .withColumn("run_id", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("run_id")).agg(count(lit(1)).as("run_len"))
      .agg(max(col("run_len"))).head().getLong(0)
    assert(maxRun > 4L,
      s"fixture must contain runs longer than the cap for the cap to be exercised (max run $maxRun)")
  }

  test("IVFPQ: full driver recompute — probe cells, residual codes, and ADC top-k are exact") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"), col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_._1)
    // cell centroids: vec_id-ordered left fold (the op's pinned mean)
    val byCell = e.groupBy(_._3)
    val cellCent = byCell.map { case (l, vs) =>
      l -> Array.tabulate(64)(p =>
        vs.sortBy(_._1).map(_._2(p).toDouble).foldLeft(0.0)(_ + _) / vs.length)
    }
    val resid = e.map { case (id, emb, l) =>
      (id, l, Array.tabulate(64)(p => emb(p).toDouble - cellCent(l)(p)))
    }
    val byG = resid.groupBy(t => (t._1 % 16).toInt)
    val cb = byG.map { case (g, vs) =>
      g -> Array.tabulate(64)(p => vs.sortBy(_._1).map(_._3(p)).foldLeft(0.0)(_ + _) / vs.length)
    }
    def subDist(r: Array[Double], off: Int, cw: Array[Double]): Double =
      (0 until 8).map(j => (r(off + j) - cw(off + j)) * (r(off + j) - cw(off + j)))
        .foldLeft(0.0)(_ + _)
    val codes = resid.map { case (id, l, r) =>
      (id, l, Array.tabulate(8) { sub =>
        (0 until 16).minBy(g => (subDist(r, sub * 8, cb(g)), g))
      })
    }
    val expected = e.filter(_._1 < 3).flatMap { case (qid, qemb, _) =>
      val qd = cellCent.toSeq.map { case (l, cv) =>
        (l, (0 until 64).map(p => (qemb(p).toDouble - cv(p)) * (qemb(p).toDouble - cv(p)))
          .foldLeft(0.0)(_ + _))
      }
      val probed = qd.sortBy { case (l, d) => (d, l) }.take(2).map(_._1).toSet
      val cand = codes.filter(c => probed.contains(c._2) && c._1 != qid).map {
        case (id, l, cd) =>
          val qr = Array.tabulate(64)(p => qemb(p).toDouble - cellCent(l)(p))
          val adc = (0 until 8).map(sub => subDist(qr, sub * 8, cb(cd(sub))))
            .foldLeft(0.0)(_ + _)
          (id, l, adc)
      }
      cand.sortBy { case (id, _, d) => (d, id) }.take(5).zipWithIndex.map {
        case ((id, l, d), i) => (qid, (i + 1).toLong, id, l.toLong, d)
      }
    }.toSet
    val got = operators.Similarity.simIvfpq(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == expected,
      "distributed IVFPQ must equal the sequential recompute bit for bit")
    assert(got.map(_._4).size > 1 || got.groupBy(_._1).values.exists(_.map(_._4).size > 1)
      || got.nonEmpty, "fixture sanity")
  }

  test("chunk containment: a byte-level quote is caught; unrelated docs are not paired") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("cc_fix").toString
    Seq(
      (1L, "en", "s0", base),
      (2L, "en", "s0", base + " tail entirely new words after the shared prefix body"),
      (3L, "en", "s0", (1 to 40).map(i => s"zeta$i eta$i theta$i").mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = operators.Dedup.ddChunkContainment(spark, dir).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "doc 1 quoted inside doc 2 must surface as a chunk-containment pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc must not pair with anything")
    val r12 = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(r12.getAs[Long]("containment_micro") >= 500000L)
  }

  test("chunk containment: default df cap is result-invariant where no chunk is hot") {
    val dflt = operators.Dedup.ddChunkContainment(spark, sf0001)
      .collect().map(_.toString).toSeq
    val uncapped = operators.Dedup.ddChunkContainment(spark, sf0001,
      chunkDfCap = Some(0)).collect().map(_.toString).toSeq
    assert(dflt == uncapped && dflt.nonEmpty)
  }

  test("phash family cap: exact-hash mega-families are suppressed, cold pairs survive, dials work") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ph_cap").toString
    val fam = (1 to 5).map(i =>
      (i.toLong, "en", "s0", "payload family shared by many identical copies of media"))
    val pair = Seq(
      (10L, "en", "s0", "a distinct payload that exists exactly twice in the corpus"),
      (11L, "en", "s0", "a distinct payload that exists exactly twice in the corpus"))
    (fam ++ pair).toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairsOf(cap: Option[Int]) =
      operators.Multimodal.mmPhashDup(spark, dir, familyCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val famPairs = (for (a <- 1 to 5; b <- 1 to 5 if a < b) yield (a.toLong, b.toLong)).toSet
    // default cap (100) is far above the family size: nothing suppressed
    assert(pairsOf(None) == famPairs + ((10L, 11L)))
    // binding cap: the 5 identical payloads share one exact 60-bit hash,
    // so the family (size 5 > cap 3) drops before banding; the 2-member
    // payload keeps its pair
    assert(pairsOf(Some(3)) == Set((10L, 11L)),
      "a >cap exact-hash family must vanish from the pair report; cold pairs must survive")
    // explicit uncapped restores everything
    assert(pairsOf(Some(0)) == famPairs + ((10L, 11L)))
    // session-conf dial drives the default
    withConf("spark.graft.mm.phashFamilyCap" -> "3")(
      assert(pairsOf(None) == Set((10L, 11L)), "conf must drive the default cap"))
    // the suppressed family is exactly what the linear exact-dup pass reports
    val exact = operators.Multimodal.mmExactDup(spark, dir).collect()
    assert(exact.exists(r => r.getAs[Long]("n_copies") == 5L),
      "the mega-family must be visible through mm_exact_dup instead")
  }

  test("phash family cap is dup-density-driven: a duplication-free corpus is cap-invariant") {
    import spark.implicits._
    // every payload distinct -> every exact-hash family has size 1, so
    // even the tightest possible cap (1) must change NOTHING. Under the
    // retired per-(band, bandHash) bucket cap this failed by design:
    // 10-bit buckets fill with unrelated-doc collisions as the corpus
    // grows, and capping them silently dropped genuine near-dup pairs.
    val dir = java.nio.file.Files.createTempDirectory("ph_dd").toString
    val docs = (1 to 40).map { i =>
      (i.toLong, "en", "s0", s"unique payload number $i with shared phrasing across media rows")
    }
    docs.toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairsOf(cap: Option[Int]) =
      operators.Multimodal.mmPhashDup(spark, dir, familyCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val uncapped = pairsOf(Some(0))
    assert(pairsOf(Some(1)) == uncapped,
      "cap=1 must be a no-op when no two docs share an exact hash")
    assert(pairsOf(None) == uncapped, "default cap must also be a no-op here")
  }

  test("TextRank: full driver recompute — weighted pagerank rounds are bit-identical") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def r12(x: Double): JBD = JBD.valueOf(x).setScale(12, RoundingMode.HALF_UP)
    val docs = Tables.documents(spark, sf0001).select(col("lang"), col("text")).collect()
    val pc = scala.collection.mutable.Map.empty[(String, String, String), Long]
    docs.foreach { r =>
      val lang = r.getString(0)
      val t = Option(r.getString(1)).getOrElse("").split(" ").filter(_.nonEmpty)
      for (i <- 0 until math.max(0, t.length - 1) if t(i) != t(i + 1)) {
        val key = if (t(i) < t(i + 1)) (lang, t(i), t(i + 1)) else (lang, t(i + 1), t(i))
        pc(key) = pc.getOrElse(key, 0L) + 1L
      }
    }
    val edges = pc.filter(_._2 >= 2L).toSeq.flatMap { case ((l, a, b), w) =>
      Seq((l, a, b, w), (l, b, a, w))
    }
    val wdeg = edges.groupBy(e => (e._1, e._2)).view.mapValues(_.map(_._4).sum).toMap
    var pr = wdeg.keys.map(k => k -> 1.0).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(e => (e._1, e._3)).map { case (dst, es) =>
        val s = es.map { case (l, src, _, w) =>
          r12(pr((l, src)) * w.toDouble / wdeg((l, src)).toDouble)
        }.reduce(_ add _)
        dst -> r12(0.15 + 0.85 * s.doubleValue).doubleValue
      }
      pr = contrib
    }
    val expected = pr.groupBy(_._1._1).flatMap { case (lang, m) =>
      m.toSeq.map { case ((_, node), p) => (node, p) }
        .sortBy { case (n, p) => (-p, n) }.take(10).zipWithIndex
        .map { case ((n, p), i) => (lang, (i + 1).toLong, n, p) }
    }.toSet
    val got = operators.TextAnalysis.txtTextrank(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(got == expected,
      "distributed TextRank must equal the sequential recompute bit for bit")
  }

  test("Theil-Sen: lower median of sign-split slopes matches a direct recompute") {
    val daily = Tables.orders(spark, sf0001)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .select(col("o_orderpriority"),
        expr("datediff(day, date'1970-01-01')").cast("long"), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = daily.groupBy(_._1).map { case (p, rows) =>
      val pts = rows.map(t => (t._2, t._3)).sortBy(_._1)
      val slopes = for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield {
        val dc = pts(j)._2 - pts(i)._2
        val dd = pts(j)._1 - pts(i)._1
        (if (dc < 0) -1L else 1L) * (math.abs(dc) * 1000000L / dd)
      }
      val s = slopes.sorted
      p -> ((s.length.toLong, s((s.length + 1) / 2 - 1)))
    }
    val got = operators.Analytics.q171TheilSen(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected,
      "the two-pass distributed order statistic must equal the direct pairwise median")
    assert(got.values.exists(_._2 < 0) || expected.values.exists(_._2 < 0),
      "fixture must exercise the negative-slope sign-split branch")
  }

  test("MAD outliers: doubled medians and the 3-MAD census match a direct recompute") {
    val daily = Tables.orders(spark, sf0001)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      s((n + 1) / 2 - 1) + s((n + 2) / 2 - 1)
    }
    val expected = daily.groupBy(_._1).map { case (p, rows) =>
      val cs = rows.map(_._2).toSeq
      val m2 = med2(cs)
      val dev2 = cs.map(c => math.abs(2 * c - m2))
      val m4 = med2(dev2)
      p -> ((cs.length.toLong, m2, m4, dev2.count(d => 2 * d > 3 * m4).toLong))
    }
    val got = operators.Analytics.q172MadOutliers(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == expected)
    assert(got.values.exists(_._4 > 0L), "fixture must contain 3-MAD outliers")
    assert(got.values.forall(v => v._4 < v._1), "not everything may be an outlier")
  }

  test("IVFPQ probe curve: candidate cost monotone in nprobe, p=2 point equals the recall audit") {
    val rows = operators.Similarity.simIvfpqProbeCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // candidate sets are nested, so COST is monotone by construction.
    // Recall is typically but NOT provably monotone (a wider candidate
    // set can admit a quantization-misordered vector that pushes an
    // exact hit out of the ADC top-k — r10 advice), so it is recorded,
    // not asserted
    assert(rows.sliding(2).forall { case Array(a, b) => b._2 > a._2 },
      "candidate cost must strictly rise with probe depth")
    val p2hits = rows.find(_._1 == 2L).get._4
    val audit = operators.Similarity.simIvfpqRecall(spark, sf0001).collect()
      .map(_.getAs[Long]("n_overlap")).sum
    assert(p2hits == audit,
      "the curve's nprobe=2 point must equal sim_ivfpq_recall's total overlap")
  }

  test("frame energies: an empty payload yields NO frames (no phantom frame 0)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mm_empty").toString
    Seq((1L, "en", "src0", ""), (2L, "en", "src0", "abcdefgh12345"))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Multimodal.mmFrameEnergy(spark, dir).collect()
    assert(!rows.exists(_.getLong(0) == 1L),
      "empty text must produce zero frame rows (oracle floor-div emits an empty range)")
    val d2 = rows.filter(_.getLong(0) == 2L)
    assert(d2.length == 2, "13 bytes at frame=8 -> frames 0 (len 8) and 1 (len 5)")
    assert(d2.map(_.getAs[Long]("frame_len")).toSeq == Seq(8L, 5L))
  }
}
