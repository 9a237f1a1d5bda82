package graftbench

import java.math.RoundingMode
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The analytics user: a frozen list of registered queries, run by one
  * client. One cold pass in the fresh JVM (snapshot store empty), then
  * warm passes until the run's time is up; the seed shuffles the order
  * of every pass. Each query is timed through `collect()`, so no
  * optimizer shortcut a `count()` allows can shrink the work, and its
  * rows are checked, untimed, against committed expected values. */
object QueryMix {
  /** Measured passes the end-to-end figures are taken from. */
  val Passes = 4

  /** `q1_pricing_summary` → q, `sim_ivfpq` → sim. */
  def family(name: String): String = {
    val head = name.takeWhile(_ != '_')
    if (head.matches("q[0-9]+[a-z]?")) "q" else head
  }

  /** Every table loader the queries read through. */
  val Loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "lineitem" -> Tables.lineitem, "orders" -> Tables.orders,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "nation" -> Tables.nation, "region" -> Tables.region,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings,
    "events" -> Tables.events)

  final case class Expected(rows: Long, hash: Option[String])

  /** The frozen list, in file order, with each query's expected rows
    * and hash ("-" for a rows-only check). */
  def loadList(benchDir: Path): Seq[(String, Expected)] =
    Files.readAllLines(benchDir.resolve("expected-query-mix.tsv")).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, rows, hash) = l.split('\t')
        name -> Expected(rows.toLong, if (hash == "-") None else Some(hash))
      }.toSeq

  // ---- order-insensitive result hash (columns by name, floats to 9 dp) ----

  private def canon(v: Any): String = v match {
    case null => "None"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros().toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else {
      val s = new java.math.BigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
        .stripTrailingZeros().toPlainString
      if (s == "-0") "0" else s
    }

  def resultHash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(i => (columns(i), i))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  // ---- the workload ----

  final case class Sample(name: String, pass: Int, seconds: Double)

  def run(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dataDir = ctx.dataDir.toString
    val list = loadList(ctx.benchDir)
    val names = list.map(_._1)
    val expected = list.toMap
    val missing = names.filterNot(SparkEntry.queries.contains)
    ctx.checks.op(missing.isEmpty, s"queries not registered: ${missing.mkString(",")}")
    val queries = names.filter(SparkEntry.queries.contains).map(n => n -> SparkEntry.queries(n))

    // set-up: resolve every table once
    Ctx.setUp(rep)(_ => Loaders.foreach { case (_, load) => load(spark, dataDir).schema })

    // one table loader alone, as the queries call it
    if (tr.enabled) {
      tr.pass = -1
      tr.setListening(true)
      Loaders.foreach { case (n, load) => tr.span(s"tables.$n")(load(spark, dataDir).schema) }
    }

    val rnd = new Random(ctx.seed)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    // heap after GC, sampled after the first pass and after the last
    var heap = 0.0

    def runPass(pass: Int, traced: Boolean): Unit = {
      tr.pass = pass
      val order = rnd.shuffle(queries)
      var wall = 0.0
      order.foreach { case (name, fn) =>
        val fam = family(name)
        val result = ctx.checks.guard(s"query $name") {
          Clock.timed {
            if (traced) tr.span("query.run") {
              val df = tr.span(s"query.construct.$fam")(fn(spark, dataDir))
              tr.span(s"query.plan.$fam")(df.queryExecution.executedPlan)
              (df.columns.toSeq, tr.span(s"query.execute.$fam")(df.collect()))
            } else {
              val df = fn(spark, dataDir)
              (df.columns.toSeq, df.collect())
            }
          }
        }
        spark.catalog.clearCache()
        result.foreach { case ((cols, rows), secs) =>
          wall += secs
          samples += Sample(name, pass, secs)
          check(ctx.checks, name, cols, rows, expected.get(name))
        }
      }
      passWalls += ((pass, traced, wall))
      if (pass == 0) heap = Jvm.heapAfterGcMb
    }

    if (tr.enabled) tr.setListening(true)
    runPass(0, traced = tr.enabled)
    var deadline = if (ctx.warmupPasses == 0) ctx.deadlineFromNow else Long.MaxValue
    var pass = 1
    // the traced run alternates untraced and traced warm passes, so the
    // tracing overhead is measured inside one JVM
    while (ctx.morePasses(pass, passWalls.last._2, deadline, Passes)) {
      val traced = ctx.traced(pass)
      if (tr.enabled) tr.setListening(traced)
      runPass(pass, traced)
      if (pass == ctx.warmupPasses) deadline = ctx.deadlineFromNow
      pass += 1
    }

    // the p50 and the tail are taken over every sample of the counted
    // passes, 44 of them, the tail as the highest percentile with ten
    // samples above it (p77). A p50 or a max over the 11 queries' own
    // medians is one query's latency, and across runs it spread more
    val warmPasses = passWalls.filter(p => ctx.measured(p._1))
    val counted = Ctx.counted(warmPasses, Passes)(!_._2)
    val countedIds = counted.map(_._1).toSet
    val warmSamples = samples.filter(s => countedIds(s.pass)).toSeq
    val pooled = warmSamples.map(_.seconds)
    val perQuery = warmSamples.groupBy(_.name).map { case (n, xs) =>
      n -> Stats.median(xs.map(_.seconds))
    }
    val warm = perQuery.values.toSeq
    val timedPasses = counted.map(_._3)
    rep.layer("workload.first_pass_s") = passWalls.head._3
    rep.e2e("pass_s") = timedPasses.min
    rep.e2e("throughput_per_s") = queries.size / timedPasses.min
    rep.e2e("op_p50_s") = Stats.median(pooled)
    rep.e2e("op_tail_s") = Stats.quantile(pooled, Stats.tailQuantile(pooled.size))
    rep.e2e("peak_heap_mb") = math.max(heap, Jvm.heapAfterGcMb)
    rep.note("queries", queries.size.toString)
    rep.note("measured_passes", warmPasses.size.toString)
    rep.note("warm_samples", pooled.size.toString)
    rep.note("tail_quantile", f"${Stats.tailQuantile(pooled.size)}%.4f")
    rep.note("query_median_s", perQuery.toSeq.sortBy(-_._2).map { case (n, t) => f"$n=$t%.3f" }.mkString(" "))
    rep.note("pass_walls_s", passWalls.map(p => f"${p._3}%.3f").mkString(" "))

    if (tr.enabled) {
      tr.drain()
      val spans = tr.allSpans
      val tablesSpans = spans.filter(_.name.startsWith("tables."))
      rep.layer("tables.load_s") = tablesSpans.map(_.seconds).sum
      rep.layer("tables.load_jobs") = tablesSpans.map(s => tr.countsFor(s.id).jobs).sum.toDouble
      // per warm traced pass, summed over the family's queries
      val n = warmPasses.count(_._2).max(1).toDouble
      queries.map(q => family(q._1)).distinct.foreach { f =>
        def of(call: String) = (s: Span) => s.name == s"query.$call.$f" && ctx.measured(s.pass)
        rep.layer(s"query.construct_s.$f") = tr.secondsWhere(of("construct")) / n
        rep.layer(s"query.construct_jobs.$f") = tr.countsWhere(of("construct")).jobs / n
        rep.layer(s"query.plan_s.$f") = tr.secondsWhere(of("plan")) / n
        rep.layer(s"query.execute_s.$f") = tr.secondsWhere(of("execute")) / n
        rep.layer(s"query.execute_jobs.$f") = tr.countsWhere(of("execute")).jobs / n
      }
      // snapshot builds are write commands issued while a query is built
      val builds = tr.countsWhere(s => s.name.startsWith("query.construct."))
      rep.layer("query.snapshot_builds") = builds.writeCommands.toDouble
      rep.layer("query.snapshot_build_s") = builds.writeCommandNs / 1e9
      rep.tracedPasses(warmPasses.toSeq)
      rep.layer("workload.query_p50_s") = Stats.median(warm)
      rep.layer("workload.query_p90_s") = Stats.quantile(warm, 0.9)
    }
  }

  private def check(checks: Checks, name: String, cols: Seq[String], rows: Array[Row],
      exp: Option[Expected]): Unit = exp match {
    case None => checks.op(ok = false, s"$name: no expected values committed")
    case Some(e) =>
      checks.op(rows.length == e.rows, s"$name: ${rows.length} rows, expected ${e.rows}")
      e.hash.foreach { h =>
        val got = resultHash(cols, rows)
        checks.op(got == h, s"$name: hash $got, expected $h")
      }
  }

  /** Print one expected-values line per query: name, rows, hash. The
    * two sketch queries are rows-only. Used to regenerate the committed
    * file from a build whose outputs pass the DuckDB oracle. */
  def record(ctx: Ctx): Unit = {
    val sketch = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    loadList(ctx.benchDir).map(_._1).foreach { name =>
      val df = SparkEntry.queries(name)(ctx.spark, ctx.dataDir.toString)
      val rows = df.collect()
      ctx.spark.catalog.clearCache()
      val hash = if (sketch(name)) "-" else resultHash(df.columns.toSeq, rows)
      println(s"$name\t${rows.length}\t$hash")
    }
  }
}
