package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.OdnsPipeline
import graft.sinks.{JdbcSink, ParquetSink}
import graft.sources.{FileDiscovery, OdnsCsv}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two ingest workloads. Every timed pass calls the pipeline the
  * way a deployment does; a traced pass makes the same public calls
  * the pipeline makes, in its order, each inside a span, and must leave
  * the same end state (the same checks run after both). */
object Ingest {
  val Year = 2026
  val FirstDay: LocalDate = LocalDate.of(Year, 3, 1)
  val Protocols: Seq[String] = OdnsPipeline.Protocols
  private val Ext = OdnsPipeline.ArchiveExtension

  /** Measured passes the end-to-end figures are taken from. A daily
    * pass takes about 1.2 s and passes still speed up through the run;
    * across ten runs the fastest of nine spread about half as much as
    * the fastest of the first five. */
  val DailyPasses = 9
  val BacklogPasses = 4

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  private def sizeOf(paths: Seq[Path]): Long = paths.map(Files.size).sum

  private def treeFiles(dir: Path, suffix: String): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix)).toList
      finally s.close()
    }

  private def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally s.close()
  }

  // ---- the pipeline's calls, one span each (the traced shape) ----

  /** Results plus the number of archives discovery listed. */
  private def tracedRun(ctx: Ctx, root: String, target: JdbcSink.Target): (Seq[OdnsPipeline.Result], Int) = {
    val tr = ctx.tracer
    var listed = 0
    val results = Protocols.map { proto =>
      val archives = tr.span("sources.discover") {
        val dir = FileDiscovery.dataPath(root, Year, proto)
        FileDiscovery.mostRecent(dir, proto, Ext, conf(ctx.spark)).toSeq
      }
      listed += archives.size
      if (archives.isEmpty) OdnsPipeline.Result(proto, None, 0L)
      else {
        val df = tr.span("sources.read_construct")(OdnsCsv.read(ctx.spark, proto, archives: _*))
        tr.span("sinks.jdbc_delete") {
          if (JdbcSink.tableExists(target)) JdbcSink.deleteWhere(target, "protocol", proto)
        }
        tr.span("sinks.jdbc_append")(JdbcSink.append(df, target, JdbcSink.DefaultBatchSize))
        val n = tr.span("sinks.jdbc_count")(JdbcSink.count(target))
        OdnsPipeline.Result(proto, Some(archives.last), n)
      }
    }
    (results, listed)
  }

  private def tracedRunToLake(ctx: Ctx, root: String, lake: String): (Seq[OdnsPipeline.Result], Int) = {
    val tr = ctx.tracer
    var listed = 0
    val results = Protocols.map { proto =>
      val archives = tr.span("sources.discover") {
        val dir = FileDiscovery.dataPath(root, Year, proto)
        FileDiscovery.all(dir, proto, Ext, conf(ctx.spark))
      }
      listed += archives.size
      if (archives.isEmpty) OdnsPipeline.Result(proto, None, 0L)
      else {
        val df = tr.span("sources.read_construct")(OdnsCsv.read(ctx.spark, proto, archives: _*))
        tr.span("sinks.lake_write")(ParquetSink.refreshPartitions(df, lake, Seq("protocol", "scan_date")))
        val n = tr.span("sinks.lake_count") {
          ctx.spark.read.parquet(lake).filter(col("protocol") === proto).count()
        }
        OdnsPipeline.Result(proto, Some(archives.last), n)
      }
    }
    (results, listed)
  }

  /** Materialize all 20 typed columns of `archives` once and return the
    * NULLs per column: the typing cost and the typer's rejections. */
  private def typedNulls(spark: SparkSession, proto: String, archives: Seq[String]): Map[String, Long] = {
    val df = OdnsCsv.read(spark, proto, archives: _*)
    val row = df.agg(count(lit(1)), df.columns.map(c => count(col(c))): _*).head()
    val n = row.getLong(0)
    df.columns.zipWithIndex.map { case (c, i) => c -> (n - row.getLong(i + 1)) }.toMap
  }

  /** The typed read of a traced pass, timed warm: the untraced passes
    * never make it, so a first, untimed call compiles its code. */
  private def timedTypedRead(ctx: Ctx, proto: String, archives: Seq[String]): Map[String, Long] = {
    typedNulls(ctx.spark, proto, archives)
    ctx.tracer.setListening(true)
    try ctx.tracer.span("sources.read_type")(typedNulls(ctx.spark, proto, archives))
    finally ctx.tracer.setListening(false)
  }

  // ---- end-state checks ----

  private val NullCols = OdnsCsv.TableColumns

  /** (protocol, scan_date) → (rows, nulls per column) of a typed frame. */
  private def partitionStats(df: DataFrame): Map[(String, String), (Long, Map[String, Long])] = {
    val aggs = count(lit(1)) +: NullCols.map(c => count(col(c)))
    // the lake reads scan_date back as an inferred partition type
    df.groupBy(col("protocol"), col("scan_date").cast("string")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val n = r.getLong(2)
      (r.getString(0), r.getString(1)) ->
        (n, NullCols.zipWithIndex.map { case (c, i) => c -> (n - r.getLong(3 + i)) }.toMap)
    }.toMap
  }

  private def jdbcPartitionStats(target: JdbcSink.Target): Map[(String, String), (Long, Map[String, Long])] = {
    val conn = target.connection()
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT protocol, scan_date, COUNT(*), ${NullCols.map(c => s"COUNT($c)").mkString(", ")} " +
            s"FROM ${target.table} GROUP BY protocol, scan_date")
        val out = mutable.Map.empty[(String, String), (Long, Map[String, Long])]
        while (rs.next()) {
          val n = rs.getLong(3)
          out((rs.getString(1), rs.getString(2))) =
            (n, NullCols.zipWithIndex.map { case (c, i) => c -> (n - rs.getLong(4 + i)) }.toMap)
        }
        out.toMap
      } finally st.close()
    } finally conn.close()
  }

  /** Assert per-protocol rows, per-partition rows and per-column NULLs
    * against the generator's tallies (one tally per protocol). */
  private def checkState(checks: Checks, what: String,
      got: Map[(String, String), (Long, Map[String, Long])], want: Map[String, Tally]): Unit = {
    Protocols.foreach { p =>
      val rows = got.collect { case ((`p`, _), (n, _)) => n }.sum
      checks.op(rows == want(p).rows, s"$what: $p holds $rows rows, expected ${want(p).rows}")
      NullCols.foreach { c =>
        val n = got.collect { case ((`p`, _), (_, ns)) => ns(c) }.sum
        checks.op(n == want(p).nulls(c), s"$what: $p.$c has $n NULLs, expected ${want(p).nulls(c)}")
      }
    }
    val wantParts = want.values.flatMap(_.rowsByPartition).toMap
    checks.op(got.keySet == wantParts.keySet,
      s"$what: partitions ${got.keySet.toSeq.sorted} expected ${wantParts.keySet.toSeq.sorted}")
    wantParts.foreach { case (k, n) =>
      val g = got.get(k).map(_._1).getOrElse(-1L)
      checks.op(g == n, s"$what: partition $k holds $g rows, expected $n")
    }
  }

  private def tsAsnIntroduced(nulls: Map[String, Long], proto: String): (Long, Long) = {
    val ts = nulls("timestamp_request") + (if (proto == "tcp") nulls("timestamp_response") else 0L)
    val asn = Seq("asn_request", "asn_response", "asn_arecord").map(nulls).sum
    (ts, asn)
  }

  /** Per-layer figures shared by both ingest workloads, from the traced
    * passes, per pass. `typed` holds the NULLs of each typed read and
    * `want` the generator's tally of the same archives. */
  private def ingestLayers(ctx: Ctx, rep: Report, tracedPasses: Set[Int], inputBytes: Long,
      listed: Long, typed: Seq[(Map[String, Long], String)], want: Map[String, Tally]): Unit = {
    val tr = ctx.tracer
    val n = tracedPasses.size.max(1).toDouble
    def in(name: String) = (s: Span) => s.name == name && tracedPasses(s.pass)
    def secs(name: String) = tr.secondsWhere(in(name)) / n
    rep.layer("sources.discover_s") = secs("sources.discover")
    rep.layer("sources.archives_listed") = listed / n
    rep.layer("sources.read_construct_s") = secs("sources.read_construct")
    rep.layer("sources.read_construct_jobs") = tr.countsWhere(in("sources.read_construct")).jobs / n
    rep.layer("sources.read_type_s") = secs("sources.read_type")
    rep.layer("sources.input_mb") = inputBytes / (1024.0 * 1024.0)
    val written = tr.countsWhere(s => (s.name == "sinks.jdbc_append" || s.name == "sinks.lake_write") &&
      tracedPasses(s.pass))
    rep.layer("sources.rows_read") = written.recordsRead / n
    // typer rejections, measured on the typed frame, must equal the
    // malformed values the generator wrote
    var tsNulls, asnNulls = 0L
    typed.foreach { case (nulls, proto) =>
      val (t, a) = tsAsnIntroduced(nulls, proto); tsNulls += t; asnNulls += a
    }
    val wantTs = want.values.map(_.tsMalformed).sum
    val wantAsn = want.values.map(_.asnMalformed).sum
    ctx.checks.op(tsNulls == wantTs, s"timestamp NULLs introduced $tsNulls, generator wrote $wantTs malformed")
    ctx.checks.op(asnNulls == wantAsn, s"ASN NULLs introduced $asnNulls, generator wrote $wantAsn malformed")
    rep.layer("functions.ts_nulls_introduced") = tsNulls / n
    rep.layer("functions.asn_nulls_introduced") = asnNulls / n
    // typed cells: 3 ASNs plus 2 timestamps on tcp, 1 on udp
    val cells = want.map { case (p, t) => t.rows * (if (p == "tcp") 5.0 else 4.0) }.sum
    rep.layer("functions.typed_ok_ratio") = if (cells == 0) 0.0 else 1.0 - (tsNulls + asnNulls) / cells
  }

  // ---- odns-daily-jdbc ----

  def daily(ctx: Ctx, rep: Report, rowsPerArchive: Int): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val staging = ctx.workDir.resolve("staging")
    def tallyOf(day: Int): Map[String, Tally] = Protocols.map { p =>
      p -> OdnsGen.archive(staging.resolve(s"day$day"), p, FirstDay.plusDays(day), rowsPerArchive, ctx.seed)._2
    }.toMap
    def stagedArchives(day: Int): Seq[Path] =
      Protocols.map(p => staging.resolve(s"day$day").resolve(OdnsGen.fileName(p, FirstDay.plusDays(day))))

    var root: Path = null
    var processed: Path = null
    var target: JdbcSink.Target = null
    var listed = 0L

    /** Move the staged day into the archive root, run, file the archives away. */
    def pass(day: Int, traced: Boolean): (Seq[OdnsPipeline.Result], Double) = {
      val dest = stagedArchives(day).zip(Protocols).map { case (a, p) =>
        (a, s"$root/$Year/$p")
      }
      tr.span("pipeline.lifecycle") {
        dest.foreach { case (a, d) =>
          Files.createDirectories(Path.of(d)); Files.move(a, Path.of(d).resolve(a.getFileName))
        }
      }
      val (results, secs) = Clock.timed {
        if (!traced) OdnsPipeline.run(spark, root.toString, target, Year)
        else {
          val (res, n) = tracedRun(ctx, root.toString, target)
          if (ctx.measured(day - 1)) listed += n
          res
        }
      }
      tr.span("pipeline.lifecycle") {
        results.foreach { r =>
          r.archive.foreach { a =>
            ctx.checks.op(FileDiscovery.moveProcessed(a, processed.resolve(r.protocol).toString, conf(spark)),
              s"moveProcessed $a")
          }
        }
      }
      (results, secs)
    }

    def checkPass(results: Seq[OdnsPipeline.Result], t: Map[String, Tally], what: String): Unit = {
      val got = jdbcPartitionStats(target)
      checkState(ctx.checks, what, got, t)
      results.foreach { r =>
        val held = got.collect { case ((r.protocol, _), (n, _)) => n }.sum
        ctx.checks.known("pipeline_result_rows", r.rows == held,
          s"$what: Result.rows for ${r.protocol} is ${r.rows}, the table holds $held ${r.protocol} rows")
      }
    }

    // set-up: fresh store, table created as a deployment creates it,
    // day 0 generated and loaded; the last one is kept
    Ctx.setUp(rep) { k =>
      root = ctx.workDir.resolve(s"archives$k")
      processed = ctx.workDir.resolve(s"processed$k")
      val db = ctx.workDir.resolve(s"derby$k").resolve("odns")
      target = JdbcSink.Target(s"jdbc:derby:$db;create=true", "odns_entries")
      createTable(target)
      val t = tallyOf(0)
      val (res, _) = pass(0, traced = false)
      checkPass(res, t, s"setup $k")
    }

    // one reader on its own connection polls each protocol's row count
    val reader = new Reader(target, rowsPerArchive.toLong, ctx.checks)
    reader.start()
    Thread.sleep(Reader.WarmupMs)
    final case class P(day: Int, traced: Boolean, start: Long, end: Long, secs: Double, pipelineSecs: Double)
    val passes = mutable.ArrayBuffer.empty[P]
    // heap after GC, sampled after the first pass and after the last
    var heap = 0.0
    val typed = mutable.ArrayBuffer.empty[(Map[String, Long], String)]
    val typedWant = Protocols.map(_ -> new Tally).toMap
    var inputBytes = 0L
    // the run's seconds start after the warm-up passes
    var deadline = Long.MaxValue
    var day = 1
    try {
      while (ctx.morePasses(day - 1, passes.lastOption.exists(_.traced), deadline, DailyPasses)) {
        val t = tallyOf(day)
        val traced = ctx.traced(day - 1)
        if (tr.enabled) tr.setListening(traced)
        tr.pass = day
        val bytes = sizeOf(stagedArchives(day))
        val t0 = System.nanoTime()
        val (results, pipeSecs) = tr.span("pipeline.pass")(pass(day, traced))
        val t1 = System.nanoTime()
        passes += P(day, traced, t0, t1, (t1 - t0) / 1e9, pipeSecs)
        if (day - 1 == ctx.warmupPasses) deadline = ctx.deadlineFromNow
        if (tr.enabled) tr.setListening(false)
        checkPass(results, t, s"day $day")
        if (traced && ctx.measured(day - 1)) {
          inputBytes += bytes
          Protocols.foreach { p =>
            typedWant(p) += t(p)
            val a = processed.resolve(p).resolve(OdnsGen.fileName(p, FirstDay.plusDays(day))).toString
            typed += (timedTypedRead(ctx, p, Seq(a)) -> p)
          }
        }
        if (day == 1) heap = Jvm.heapAfterGcMb
        day += 1
      }
    } finally reader.stop()

    val rows = 2.0 * rowsPerArchive
    val timed = Ctx.counted(passes, DailyPasses)(p => !p.traced && ctx.measured(p.day - 1))
    val gaps = timed.map(p => Protocols.map(reader.gapSeconds(_, p.start, p.end)))
    // each protocol's refresh gap is its shortest over the passes
    val protocolGaps = gaps.transpose.map(_.min).toSeq
    rep.layer("workload.first_pass_s") = passes.head.secs
    rep.e2e("pass_s") = timed.map(_.secs).min
    rep.e2e("throughput_per_s") = timed.map(p => rows / p.pipelineSecs).max
    rep.e2e("op_p50_s") = Stats.median(protocolGaps)
    rep.e2e("op_tail_s") = protocolGaps.max
    rep.e2e("peak_heap_mb") = math.max(heap, Jvm.heapAfterGcMb)
    rep.note("passes", passes.size.toString)
    rep.note("rows_per_archive", rowsPerArchive.toString)
    rep.note("reader_probes", reader.probeCount.toString)
    rep.note("gap_samples", gaps.flatten.size.toString)
    rep.note("pass_walls_s", passes.map(p => f"${p.secs}%.3f").mkString(" "))

    if (tr.enabled) {
      tr.drain()
      val tracedP = passes.filter(p => p.traced && ctx.measured(p.day - 1))
      val tp = tracedP.map(_.day).toSet
      val n = tp.size.max(1).toDouble
      ingestLayers(ctx, rep, tp, inputBytes / tp.size.max(1), listed, typed.toSeq, typedWant)
      def in(name: String) = (s: Span) => s.name == name && tp(s.pass)
      rep.layer("sinks.jdbc_delete_s") = tr.secondsWhere(in("sinks.jdbc_delete")) / n
      val append = tr.secondsWhere(in("sinks.jdbc_append")) / n
      rep.layer("sinks.jdbc_append_s") = append
      rep.layer("sinks.jdbc_rows_per_s") = if (append > 0) rows / append else 0.0
      rep.layer("sinks.jdbc_write_tasks") = tr.countsWhere(in("sinks.jdbc_append")).tasks / n
      val probes = tracedP.flatMap(p => reader.probesIn(p.start, p.end))
      rep.layer("sinks.reader_probe_p50_ms") = Stats.median(probes.map(_.ms).toSeq)
      rep.layer("sinks.reader_blocked_s") = probes.filter(_.ms > Reader.BlockedMs).map(_.ms / 1e3).sum / n
      rep.layer("pipeline.lifecycle_s") = tr.secondsWhere(in("pipeline.lifecycle")) / n
      rep.layer("workload.ingest_rows_per_s") = rep.e2e("throughput_per_s")
      rep.layer("workload.refresh_gap_s") = rep.e2e("op_p50_s")
      rep.tracedPasses(passes.filter(p => ctx.measured(p.day - 1)).map(p => (p.day, p.traced, p.secs)).toSeq)
    }
  }

  private def createTable(target: JdbcSink.Target): Unit = {
    val cols = OdnsCsv.TableColumns.map {
      case c @ ("timestamp_request" | "timestamp_response") => s"$c TIMESTAMP"
      case c @ ("asn_request" | "asn_response" | "asn_arecord") => s"$c DOUBLE"
      case c => s"$c VARCHAR(128)"
    }
    val conn = target.connection()
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE ${target.table} (${cols.mkString(", ")})")
      finally st.close()
    } finally conn.close()
  }

  // ---- odns-backlog-lake ----

  def backlog(ctx: Ctx, rep: Report, days: Int, rowsPerArchive: Int): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    var root: Path = null
    var tally: Map[String, Tally] = Map.empty
    var archives: Seq[Path] = Nil

    // set-up: generate the backlog (days × protocols archives); the
    // last one is kept
    Ctx.setUp(rep) { k =>
      root = ctx.workDir.resolve(s"backlog$k")
      val made = for (p <- Protocols; d <- 0 until days) yield
        p -> OdnsGen.archive(root.resolve(s"$Year/$p"), p, FirstDay.plusDays(d), rowsPerArchive, ctx.seed)
      archives = made.map(_._2._1)
      tally = made.groupBy(_._1).map { case (p, xs) =>
        val t = new Tally; xs.foreach(x => t += x._2._2); p -> t
      }
    }
    val lake = ctx.workDir.resolve("lake").toString
    val inputBytes = sizeOf(archives)
    // the per-day read prunes the lake to its last three days
    val readDays = (days - 3 until days).map(d => FirstDay.plusDays(d).toString)

    // the three reads a lake user makes after a refresh
    def reads(traced: Boolean): Seq[Double] = {
      def read[A](name: String)(body: => A): (A, Double) =
        Clock.timed(if (traced) tr.span(s"lake.$name")(body) else body)
      val (perDay, t1) = read("read_day_counts") {
        spark.read.parquet(lake).filter(col("scan_date").cast("string").isin(readDays: _*))
          .groupBy(col("scan_date").cast("string")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val (top, t2) = read("read_top_asn") {
        spark.read.parquet(lake).groupBy("asn_response").count()
          .orderBy(col("count").desc, col("asn_response").asc_nulls_first).limit(10).collect()
          .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0))) -> r.getLong(1)).toSeq
      }
      val (med, t3) = read("read_median_delay") {
        spark.read.parquet(lake).filter(col("protocol") === "tcp")
          .select(median((unix_micros(col("timestamp_response")) - unix_micros(col("timestamp_request"))) / 1000.0))
          .head().getDouble(0)
      }
      val wantDays = readDays.map(d => d -> Protocols.map(p => tally(p).rowsByPartition((p, d))).sum).toMap
      ctx.checks.op(perDay == wantDays, s"lake per-day counts $perDay, expected $wantDays")
      val asnAll = tally.values.flatMap(_.asnResponse).groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      // Spark's order: count desc, then asn_response asc with NULL first
      val wantTop = asnAll.toSeq.sortBy { case (k, n) => (-n, k.isDefined, k.getOrElse(0.0)) }.take(10)
      ctx.checks.op(top.map(_._2) == wantTop.map(_._2) && top.toMap.forall { case (k, n) => asnAll(k) == n },
        s"lake top-10 asn_response $top, expected $wantTop")
      val wantMed = Stats.median(tally("tcp").tcpDelaysUs.map(_ / 1000.0).toSeq)
      ctx.checks.op(math.abs(med - wantMed) <= 1e-9 * math.max(1.0, math.abs(wantMed)),
        s"lake median tcp delay $med ms, expected $wantMed ms")
      Seq(t1, t2, t3)
    }

    final case class P(pass: Int, traced: Boolean, secs: Double, landSecs: Double, reads: Seq[Double])
    val passes = mutable.ArrayBuffer.empty[P]
    // heap after GC, sampled after the first pass and after the last
    var heap = 0.0
    val typed = mutable.ArrayBuffer.empty[(Map[String, Long], String)]
    var deadline = Long.MaxValue
    var k = 0
    var listed = 0L
    while (ctx.morePasses(k, passes.lastOption.exists(_.traced), deadline, BacklogPasses)) {
      val traced = ctx.traced(k)
      if (tr.enabled) tr.setListening(traced)
      tr.pass = k
      val ((results, land, rd), secs) = Clock.timed {
        tr.span("pipeline.pass") {
          val (res, land) = Clock.timed {
            if (!traced) OdnsPipeline.runToLake(spark, root.toString, lake, Year)
            else {
              val (res, n) = tracedRunToLake(ctx, root.toString, lake)
              if (ctx.measured(k)) listed += n
              res
            }
          }
          (res, land, reads(traced))
        }
      }
      if (tr.enabled) tr.setListening(false)
      passes += P(k, traced, secs, land, rd)
      if (k == ctx.warmupPasses) deadline = ctx.deadlineFromNow
      val got = partitionStats(spark.read.parquet(lake))
      checkState(ctx.checks, s"pass $k", got, tally)
      results.foreach { r =>
        ctx.checks.known("pipeline_result_rows", r.rows == tally(r.protocol).rows,
          s"pass $k: Result.rows for ${r.protocol} is ${r.rows}, the lake holds ${tally(r.protocol).rows}")
      }
      if (traced && ctx.measured(k)) Protocols.foreach { p =>
        val as = archives.filter(_.getFileName.toString.startsWith(p)).map(_.toString)
        typed += (timedTypedRead(ctx, p, as) -> p)
      }
      if (k == 0) heap = Jvm.heapAfterGcMb
      k += 1
    }

    val rows = tally.values.map(_.rows).sum.toDouble
    val timed = Ctx.counted(passes, BacklogPasses)(p => !p.traced && ctx.measured(p.pass))
    // each read's latency is its shortest over the passes
    val perRead = timed.map(_.reads).transpose.map(_.min).toSeq
    rep.layer("workload.first_pass_s") = passes.head.secs
    rep.e2e("pass_s") = timed.map(_.secs).min
    rep.e2e("throughput_per_s") = timed.map(p => rows / p.landSecs).max
    rep.e2e("op_p50_s") = Stats.median(perRead)
    rep.e2e("op_tail_s") = perRead.max
    rep.e2e("peak_heap_mb") = math.max(heap, Jvm.heapAfterGcMb)
    rep.note("passes", passes.size.toString)
    rep.note("archives", archives.size.toString)
    rep.note("rows_per_pass", rows.toLong.toString)
    rep.note("pass_walls_s", passes.map(p => f"${p.secs}%.3f").mkString(" "))

    if (tr.enabled) {
      tr.drain()
      val tp = passes.filter(p => p.traced && ctx.measured(p.pass)).map(_.pass).toSet
      val n = tp.size.max(1).toDouble
      val typedWant = Protocols.map(_ -> new Tally).toMap
      (1 to typed.size / Protocols.size).foreach(_ => Protocols.foreach(p => typedWant(p) += tally(p)))
      ingestLayers(ctx, rep, tp, inputBytes, listed, typed.toSeq, typedWant)
      def in(name: String) = (s: Span) => s.name == name && tp(s.pass)
      rep.layer("sinks.lake_write_s") = tr.secondsWhere(in("sinks.lake_write")) / n
      val files = treeFiles(Path.of(lake), ".parquet")
      rep.layer("sinks.lake_files_written") = files.size.toDouble
      rep.layer("sinks.lake_bytes_per_input_byte") = sizeOf(files).toDouble / inputBytes
      rep.layer("workload.ingest_rows_per_s") = rep.e2e("throughput_per_s")
      rep.layer("workload.lake_read_s") = timed.map(_.reads.sum).min
      rep.tracedPasses(passes.filter(p => ctx.measured(p.pass)).map(p => (p.pass, p.traced, p.secs)).toSeq)
    }
    deleteTree(Path.of(lake))
  }
}

/** One reader on its own connection, polling each protocol's row
  * count in turn while the refreshes run. A probe is one operation. */
final class Reader(target: JdbcSink.Target, completeRows: Long, checks: Checks) {
  final case class Probe(proto: String, startNs: Long, endNs: Long, rows: Long) {
    def ms: Double = (endNs - startNs) / 1e6
    def complete: Boolean = rows == completeRows
  }
  private val probes = new java.util.concurrent.ConcurrentLinkedQueue[Probe]()
  @volatile private var running = true
  @volatile private var failures = 0L
  @volatile private var attempts = 0L
  private val thread = new Thread(() => {
    val conn = target.connection()
    try {
      val st = conn.prepareStatement(s"SELECT COUNT(*) FROM ${target.table} WHERE protocol = ?")
      while (running) {
        Ingest.Protocols.foreach { p =>
          val t0 = System.nanoTime()
          attempts += 1
          try {
            st.setString(1, p)
            val rs = st.executeQuery()
            rs.next()
            probes.add(Probe(p, t0, System.nanoTime(), rs.getLong(1)))
            rs.close()
          } catch { case _: java.sql.SQLException => failures += 1 }
        }
        Thread.sleep(Reader.PollMs)
      }
    } finally conn.close()
  }, "graftbench-reader")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = {
    running = false
    thread.join()
    checks.attempted += attempts
    checks.failed += failures
    checks.op(failures == 0, s"reader: $failures of $attempts probes failed")
  }
  def probeCount: Long = attempts

  def probesIn(startNs: Long, endNs: Long): Seq[Probe] =
    probes.asScala.filter(p => p.endNs >= startNs && p.endNs <= endNs).toSeq

  /** Longest span in [startNs, next complete view) during which the
    * reader could not see `proto`'s complete row set: between the end
    * of the last complete probe before or at the pass start and the end
    * of each later complete probe. Blocked and short counts both fall
    * inside such a span. */
  def gapSeconds(proto: String, startNs: Long, endNs: Long): Double = {
    val mine = probes.asScala.filter(_.proto == proto).toSeq.sortBy(_.endNs)
    var last = mine.filter(p => p.complete && p.endNs <= startNs).lastOption.map(_.endNs).getOrElse(startNs)
    var worst = 0L
    // the view is restored by the first complete probe after the pass,
    // which may land just after the pass ends
    val after = mine.filter(p => p.endNs > startNs)
    val it = after.iterator
    var done = false
    while (it.hasNext && !done) {
      val p = it.next()
      if (p.complete) {
        worst = math.max(worst, p.endNs - last)
        last = p.endNs
        if (p.endNs >= endNs) done = true
      }
    }
    worst / 1e9
  }
}

object Reader {
  val PollMs = 20L
  /** Probes before the first timed pass, so the reader's statement is
    * compiled and its code warm when the refreshes start. */
  val WarmupMs = 1000L
  val BlockedMs = 50.0
}
