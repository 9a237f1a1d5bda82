package graft

import graft.operators.{Analytics, Dedup}
import org.apache.spark.sql.functions._

/** Round-4 specs: cache hygiene, skew guards, spill guard, the
  * signature-lake write path, and the config/CLI hardening. */
class Round4OpsSpec extends SparkSpec {

  test("q57/q58: no cached blocks survive the call (no session-lifetime persist leak)") {
    def cachedCount = spark.sparkContext.getPersistentRDDs.size
    val before = cachedCount
    // <= not ==: localCheckpoint entries from EARLIER suites are
    // unpersisted asynchronously by the ContextCleaner, so the count
    // can legitimately DROP mid-probe (observed once as a full-suite
    // flake: "leaked -1"). Only an INCREASE is a leak of ours.
    assert(Analytics.q57Pagerank(spark, sf0001).count() > 0)
    assert(cachedCount <= before,
      s"q57 leaked ${cachedCount - before} cached RDD(s)")
    assert(Analytics.q58Triangles(spark, sf0001).count() == 4)
    assert(cachedCount <= before,
      s"q58 leaked ${cachedCount - before} cached RDD(s)")
  }

  test("q58 degree cap: cap above observed max degree is result-invariant; tiny cap only shrinks the graph") {
    val base = Analytics.q58Triangles(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    // observed max degree from the raw co-purchase graph
    val capped = Analytics.q58Triangles(spark, sf0001, degreeCap = Some(Int.MaxValue))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(capped == base, "a cap above every degree must be a no-op")
    // cap 1: clustering_coeff is NULL (0 triangles / 0 wedges) — read defensively
    val tiny = Analytics.q58Triangles(spark, sf0001, degreeCap = Some(1))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(tiny("n_edges") <= base("n_edges"))
    assert(tiny("n_triangles") <= base("n_triangles"))
    // degree cap 1 leaves no node with 2+ neighbours → no wedges (the
    // sum is NULL→NaN when every edge was dropped, 0 otherwise)
    assert(tiny("n_wedges") == 0.0 || tiny("n_wedges").isNaN)
  }

  test("TopKPerGroup partial-pass spill guard: a flush-forcing threshold preserves the selected rows") {
    val df = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    def run() = org.apache.spark.sql.graft.TopK.perGroup(
        df, Seq("o_custkey"), Seq(("o_totalprice", true), ("o_orderkey", false)), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unguarded = run()
    // hundreds of custkeys → many flushes
    val guarded = withConf("spark.graft.topk.maxGroupsPerTask" -> "3")(run())
    assert(guarded == unguarded,
      "chunked partial passes must select the identical top-k rows")
  }

  test("dd_embed_cos lshBits: refined result is a score-identical subset of the exact result") {
    val exact = Dedup.ddEmbedCos(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val refined = Dedup.ddEmbedCos(spark, sf0001, lshBits = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(refined.nonEmpty, "2-bit cells must retain some near-dup pairs")
    refined.foreach { case (pair, score) =>
      assert(exact.get(pair).contains(score),
        s"pair $pair not in exact result or score drifted")
    }
    // 0 bits is bit-identical to the default path
    val zero = Dedup.ddEmbedCos(spark, sf0001, lshBits = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(zero == exact)
  }

  test("dd_semdedup refineBits: refined result is a value-identical subset of the exact result") {
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val exact = asMap(Dedup.ddSemdedup(spark, sf0001).collect())
    val refined = asMap(Dedup.ddSemdedup(spark, sf0001, refineBits = 2).collect())
    assert(refined.nonEmpty, "2-bit refined cells must retain some near-dup drops")
    refined.foreach { case (dropped, (keeper, nNear, maxSim)) =>
      val (ek, en, es) = exact.getOrElse(dropped,
        fail(s"dropped vec $dropped not in exact result"))
      // cells only REMOVE candidate neighbours: the refined keeper is the
      // min over a subset (>= exact min), counts and max-sim can only shrink
      assert(keeper >= ek && nNear <= en && maxSim <= es,
        s"refined row for $dropped is not a subset view: " +
          s"($keeper,$nNear,$maxSim) vs exact ($ek,$en,$es)")
    }
    // 0 bits is bit-identical to the default path
    assert(asMap(Dedup.ddSemdedup(spark, sf0001, refineBits = 0).collect()) == exact)
  }

  test("signature lake: upsert batch, dedup next batch against it, upsert that too — table holds both, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("siglake").toString
    val path = s"$dir/sigs"
    // nightly run N: history signatures (doc_id < 400) land in the lake
    Dedup.sigLakeUpsert(spark, sf0001, path, maxDocId = 400L)
    val nHist = spark.read.parquet(path).count()
    assert(nHist > 0)
    // dedup run N+1's batch against the PERSISTED table
    val viaLake = Dedup.ddIncrementalFromLake(spark, sf0001, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recomputed = Dedup.ddIncremental(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLake == recomputed, "lake-read dedup must match the recomputed path")
    // close the loop: upsert run N+1's signatures as well
    Dedup.sigLakeUpsert(spark, sf0001, path, minDocId = 400L)
    val all = spark.read.parquet(path)
    val nAll = all.count()
    assert(nAll > nHist, "table must now contain both batches")
    assert(all.select("doc_id").distinct().count() == nAll, "doc_id stays unique")
    // re-upserting the same batch is a key-replace no-op
    Dedup.sigLakeUpsert(spark, sf0001, path, minDocId = 400L)
    assert(spark.read.parquet(path).count() == nAll, "re-upsert must be idempotent")
  }

  test("OdnsConfig: key/value before any [section] raises (configparser MissingSectionHeaderError mirror)") {
    intercept[OdnsConfig.MissingSectionHeaderException] {
      OdnsConfig.parse("stray = value\n[db-table-names]\nodnstable = t\n")
    }
    // comments and blank lines before the first header stay legal
    val ok = OdnsConfig.parse("# leading comment\n\n[db-table-names]\nodnstable = t\n")
    assert(ok.table == "t")
  }

  test("TopKPerGroupRewrite: k = Int.MinValue filter is left alone (no Int wrap to a 2^31 heap)") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.dsl.plans._
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Literal, RowNumber, SortOrder, WindowExpression, WindowSpecDefinition, SpecifiedWindowFrame, RowFrame, UnboundedPreceding, CurrentRow}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Window}
    val g = Symbol("g").long
    val o = Symbol("o").long
    val rel = LocalRelation(g, o)
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
    val spec = WindowSpecDefinition(Seq(g), Seq(SortOrder(o, Ascending)), frame)
    val rn = Alias(WindowExpression(RowNumber(), spec), "rn")()
    val win = Window(Seq(rn), Seq(g), Seq(SortOrder(o, Ascending)), rel)
    def planFor(k: Int) =
      org.apache.spark.sql.graft.TopKPerGroupRewrite(
        Filter(org.apache.spark.sql.catalyst.expressions.LessThan(
          rn.toAttribute, Literal(k)), win))
    // sane k: the rewrite fires
    assert(planFor(11).collect {
      case p: org.apache.spark.sql.graft.TopKPerGroupPlan => p }.nonEmpty)
    // rn < Int.MinValue: always-false filter, rewrite must not fire
    assert(planFor(Int.MinValue).collect {
      case p: org.apache.spark.sql.graft.TopKPerGroupPlan => p }.isEmpty)
  }

  test("OdnsApp: log lines are emitted beside the prints (reference Logger.info/error parity)") {
    val captured = collection.mutable.ArrayBuffer.empty[(String, String)]
    OdnsApp.logSink = (lvl, msg) => captured += (lvl -> msg)
    try {
      val root = java.nio.file.Files.createTempDirectory("odnsapp").toString
      val db = s"$root/db"
      val target = graft.sinks.JdbcSink.Target(
        s"jdbc:derby:$db;create=true", "odns", new java.util.Properties())
      val code = OdnsApp.run(spark, Array("--check-health"),
        Map.empty, root, target)
      assert(code == 0)
      assert(captured.contains("INFO" -> "System health check successful"))
      captured.clear()
      val dead = graft.sinks.JdbcSink.Target(
        "jdbc:derby:/nonexistent/nope", "odns", new java.util.Properties())
      val bad = OdnsApp.run(spark, Array("--check-health"),
        Map.empty, "/nonexistent/nope", dead)
      assert(bad == 1)
      assert(captured.contains("ERROR" -> "No database connection"))
      assert(captured.contains("ERROR" -> "No access to data drive"))
    } finally OdnsApp.logSink = null
  }
}
