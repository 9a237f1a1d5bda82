package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, workDir: Path,
    benchDir: Path, dataDir: Path, cores: Int, checks: Checks, tracer: Tracer,
    warmupPasses: Int) {
  /** Pass 0 is the JVM's first and is reported on its own; the next
    * `warmupPasses` are run but not reported, because the JIT is still
    * compiling through them; the passes after those are measured. */
  def measured(k: Int): Boolean = k > warmupPasses

  /** Whether a run goes on after `done` passes. It measures at least
    * `atLeast` passes and goes on until its seconds are up. The
    * end-to-end figures use only the first `atLeast` untraced measured
    * passes ([[Ctx.counted]]), so a faster commit, which fits more
    * passes into its seconds, gets no more draws for its fastest pass
    * than a slower one. A traced run alternates untraced and traced
    * measured passes, measures at least four and ends on an untraced
    * one, so every traced pass has an untraced pass either side. */
  def morePasses(done: Int, lastTraced: Boolean, deadlineNs: Long, atLeast: Int): Boolean =
    done < 1 + warmupPasses + (if (tracer.enabled) atLeast max 4 else atLeast) ||
      System.nanoTime() < deadlineNs || (tracer.enabled && lastTraced)

  /** In a traced run, the first pass and every second measured pass
    * are traced. */
  def traced(k: Int): Boolean =
    tracer.enabled && (k == 0 || (measured(k) && (k - warmupPasses) % 2 == 0))

  /** The time the measured passes may run for, counted from now. */
  def deadlineFromNow: Long = System.nanoTime() + (seconds * 1e9).toLong
}

object Ctx {
  /** Warm-up passes per workload. On the ingest workloads the pass
    * after the first still ran 30-50 % slower than those after it.
    * query-mix's first pass is its cold pass, which already runs every
    * query once (about 20 s); at the same run length, counting the pass
    * after it instead of discarding it spread the query figures less. */
  val WarmupPasses: Map[String, Int] =
    Map("odns-daily-jdbc" -> 1, "odns-backlog-lake" -> 1, "query-mix" -> 0)
  /** Set-ups per run; the first is run but not reported. */
  val SetupRuns = 3

  /** The first `n` passes of `passes` that are measured and untraced:
    * the passes the end-to-end figures are taken from. */
  def counted[P](passes: Iterable[P], n: Int)(measuredUntraced: P => Boolean): Seq[P] =
    passes.filter(measuredUntraced).take(n).toSeq

  /** Run the workload's set-up [[SetupRuns]] times. `setup_s` is the
    * median time of all but the first, which carries the JVM's first
    * Spark job (and on odns-daily-jdbc Derby's boot); every time goes
    * into the report. `setUp(k)` must leave run `k`'s state in place;
    * the workload keeps the last. */
  def setUp(rep: Report)(setUp: Int => Unit): Unit = {
    val times = (0 until SetupRuns).map(k => Clock.timed(setUp(k))._2)
    rep.e2e("setup_s") = Stats.median(times.tail)
    rep.note("setup_s_each", times.map(t => f"$t%.3f").mkString(" "))
  }
}

/** What a workload reports: end-to-end figures, per-layer figures of
  * the traced run, free-form notes, and which passes were traced. */
final class Report {
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val notes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  var tracedPassIds: Set[Int] = Set.empty
  var overheadS: Double = Double.NaN
  def note(k: String, v: String): Unit = notes(k) = v
  /** Record the measured passes of a traced run as (pass, traced, seconds). */
  def tracedPasses(measured: Seq[(Int, Boolean, Double)]): Unit = {
    tracedPassIds = measured.collect { case (k, true, _) => k }.toSet
    overheadS = Report.overhead(measured)
  }
}

object Report {
  /** Tracing overhead: each traced pass against the mean of the
    * untraced passes either side of it, so a warming trend cancels;
    * the median over the traced passes. */
  def overhead(passes: Seq[(Int, Boolean, Double)]): Double = {
    val byPass = passes.map(p => p._1 -> p).toMap
    val diffs = passes.collect {
      case (k, true, secs) if Seq(k - 1, k + 1).forall(i => byPass.get(i).exists(!_._2)) =>
        secs - (byPass(k - 1)._3 + byPass(k + 1)._3) / 2
    }
    Stats.median(diffs)
  }
}

/** One metric of BENCHMARK.json: its name and unit. */
final case class Metric(name: String, unit: String)

object Metrics {
  /** The end-to-end and per-layer lists of BENCHMARK.json, the one
    * place they are kept. */
  def load(spec: Path): (Seq[Metric], Seq[Metric]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(spec.toFile)
    def list(key: String): Seq[Metric] =
      root.get(key).elements().asScala.map(m => Metric(m.get("name").asText, m.get("unit").asText)).toSeq
    (list("end_to_end"), list("per_layer"))
  }
}

object Main {
  val Workloads: Seq[String] = Seq("odns-daily-jdbc", "odns-backlog-lake", "query-mix")

  // sizes: small enough that every run fits the benchmark's time
  // budget. At these sizes on 4 cores Derby still takes about 20k rows/s
  // and the lake about 59k rows/s, near the rates at 20-40 times the
  // rows (25k and 57-67k rows/s), so per-row work dominates a pass
  val DailyRowsPerArchive = 10000
  val BacklogDays = 4
  val BacklogRowsPerArchive = 10000

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    System.err.println("usage: graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> " +
      "--bench-dir <dir> --work-dir <dir> --out-dir <dir> --data-dir <dir> [--record-expected]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val record = args.contains("--record-expected")
    val workload = opt("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = if (record) 0.0 else opt("seconds").toDouble
    val traced = !record && opt("trace") == "1"
    val workDir = Path.of(opt("work-dir")).toAbsolutePath
    val benchDir = Path.of(opt("bench-dir")).toAbsolutePath
    val outDir = Path.of(opt("out-dir")).toAbsolutePath
    val dataDir = Path.of(opt("data-dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(workDir)
    Files.createDirectories(outDir)
    System.setProperty("derby.system.home", workDir.toString)
    System.setProperty("derby.stream.error.file", workDir.resolve("derby.log").toString)

    val (endToEnd, perLayer) = Metrics.load(benchDir.getParent.resolve("BENCHMARK.json"))

    val spark = Session.create(cores, workDir)
    val checks = new Checks
    val tracer = new Tracer(traced, spark)
    val ctx = Ctx(spark, seed, seconds, workDir, benchDir, dataDir, cores, checks, tracer,
      Ctx.WarmupPasses(workload))
    val origin = System.nanoTime()
    val rep = new Report
    if (record) {
      QueryMix.record(ctx)
      spark.stop()
      return
    }
    try workload match {
      case "odns-daily-jdbc" => Ingest.daily(ctx, rep, DailyRowsPerArchive)
      case "odns-backlog-lake" => Ingest.backlog(ctx, rep, BacklogDays, BacklogRowsPerArchive)
      case "query-mix" => QueryMix.run(ctx, rep)
    } catch {
      case e: Throwable =>
        checks.op(ok = false, s"workload aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }

    if (traced) traceLayers(ctx, rep, perLayer)
    val errorRate = checks.failed.toDouble / checks.attempted.max(1L)
    val metrics = if (traced) perLayer else endToEnd
    val values = if (traced) rep.layer else rep.e2e
    val missing = metrics.map(_.name).filterNot(n => values.get(n).exists(v => !v.isNaN))
    checks.op(missing.isEmpty, s"metrics missing: ${missing.mkString(",")}")

    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    if (traced) tracer.writeSpans(outDir.resolve(s"$tag.spans.jsonl"), origin)
    val report = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "session" -> Json.obj(Session.describe(cores).map { case (k, v) => k -> Json.str(v) }),
      "error_rate" -> Json.num(errorRate),
      "notes" -> Json.obj(rep.notes.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "known_defects" -> checks.knownJson,
      "failures" -> checks.failureLines.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> Json.obj(rep.e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(rep.layer.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.write(outDir.resolve(s"$tag.report.json"), (report + "\n").getBytes("UTF-8"))
    println(report)

    val correct = checks.failed == 0
    val out = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> checks.attempted.toString,
      "failed" -> checks.failed.toString,
      "metrics" -> Json.obj(metrics.map { m =>
        m.name -> Json.obj(Seq("value" -> Json.num(values.getOrElse(m.name, Double.NaN)), "unit" -> Json.str(m.unit)))
      })))
    spark.stop()
    println(out)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Figures every traced workload reports: the engine's counts over
    * the traced passes, how much of their wall the named layer spans
    * cover, and the tracing overhead. A layer the workload does not
    * call did no work in it, so its per-layer metrics read 0. */
  private def traceLayers(ctx: Ctx, rep: Report, perLayer: Seq[Metric]): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val spans = tr.allSpans
    val n = rep.tracedPassIds.size.max(1).toDouble
    val parents = spans.map(_.parent).toSet
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    // a timed pass is the subtree of its `pipeline.pass` / `query.run` roots
    val inPass = spans.filter(s => rep.tracedPassIds(s.pass) && Set("pipeline.pass", "query.run")(root(s).name))
    val roots = inPass.filter(_.parent < 0)
    val leaves = inPass.filter(s => !parents(s.id))
    val rootSecs = roots.map(_.seconds).sum
    val leafSecs = leaves.map(_.seconds).sum
    rep.layer("trace.coverage") = if (rootSecs > 0) leafSecs / rootSecs else 0.0
    rep.layer("trace.overhead_s") = rep.overheadS
    rep.layer("pipeline.self_s") =
      roots.filter(_.name == "pipeline.pass").map(_.seconds).sum / n -
        leaves.filter(root(_).name == "pipeline.pass").map(_.seconds).sum / n
    val c = new SpanCounts
    roots.foreach(r => c += tr.subtreeCounts(r.id))
    rep.layer("spark.jobs") = c.jobs / n
    rep.layer("spark.stages") = c.stages / n
    rep.layer("spark.tasks") = c.tasks / n
    rep.layer("spark.task_cpu_s") = c.taskCpuNs / 1e9 / n
    rep.layer("spark.task_busy_frac") = if (rootSecs > 0) c.taskRunMs / 1e3 / (rootSecs * ctx.cores) else 0.0
    rep.layer("spark.shuffle_write_mb") = c.shuffleWriteBytes / (1024.0 * 1024.0) / n
    rep.layer("spark.spill_mb") = c.spillBytes / (1024.0 * 1024.0) / n
    rep.layer("spark.gc_s") = roots.map(r => r.gcEndS - r.gcStartS).sum / n
    rep.note("traced_passes", rep.tracedPassIds.size.toString)
    perLayer.foreach(m => if (!rep.layer.contains(m.name)) rep.layer(m.name) = 0.0)
  }
}

/** The production session: graft's extensions on, UTC, one shuffle
  * partition per core, everything it writes under the run's work dir. */
object Session {
  def describe(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false")

  def create(cores: Int, workDir: Path): SparkSession = {
    val b = SparkSession.builder().appName("graftbench")
    describe(cores).foreach { case (k, v) => b.config(k, v) }
    b.config("spark.local.dir", workDir.resolve("spark-local").toString)
    b.config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
