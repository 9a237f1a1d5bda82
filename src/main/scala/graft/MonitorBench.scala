package graft

import java.nio.file.Files

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming-monitor throughput benchmark — the deployment question
  * for the drift/shift tier: how fast do the two O(#buckets)/O(1)-state
  * monitors consume their feeds?
  *
  *  - `psi`: [[Streams.sourceDriftStream]] — documents stream against a
  *    persisted PSI reference lake ([[Streams.driftLmWrite]], built once
  *    per nightly — its cost is reported separately); throughput is
  *    docs/s through the per-source bucket accumulator.
  *  - `ph`: [[Streams.pageHinkleyStream]] — a synthetic daily revenue
  *    series (deterministic arithmetic, no RNG) at `nRows` rows across
  *    5 priorities; throughput is daily rows/s through the six-long
  *    accumulator.
  *
  * Usage: runMain graft.MonitorBench [lmSfDir] [docsParquet] [phRows]
  * Defaults: lm = /root/testdata/sf0.1, docs = target/sf1/documents.parquet,
  * phRows = 1000000. Prints one JSON line with both records.
  */
object MonitorBench {
  def main(args: Array[String]): Unit = {
    val lmDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docsPath = args.lift(1).getOrElse("target/sf1/documents.parquet")
    val phRows = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val spark = GraftSession.create("graft-monitor-bench", GraftSession.cpus(32))
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def runStream(df: org.apache.spark.sql.DataFrame, name: String): (Boolean, Double) =
      time {
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Update).trigger(Trigger.AvailableNow()).start()
        val done = q.awaitTermination(600000)
        if (!done) q.stop()
        done
      }
    def num(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    spark.range(1000).count() // session warmup

    // --- PSI drift monitor over the document corpus ---
    val lake = Files.createTempDirectory("mb_drift").toString
    val (_, tLake) = time(Streams.driftLmWrite(spark, lmDir, lake))
    val docs = spark.read.parquet(docsPath)
      .select(col("doc_id"), col("source"), col("text"))
    val nDocs = docs.count()
    val psiSrc = Files.createTempDirectory("mb_docs")
    docs.write.mode("overwrite").parquet(psiSrc.toString)
    val psiStream = spark.readStream.schema(docs.schema)
      .parquet(psiSrc.toString).as[Streams.SourcedDoc]
    val (psiDone, tPsi) = runStream(
      Streams.sourceDriftStream(psiStream, lake).toDF(), "mb_psi")
    val psiSnaps = spark.sql("select count(*) from mb_psi").head().getLong(0)
    val psiSeen = spark.sql("select sum(n_s) from (select max(n_s) n_s from mb_psi group by source)")
      .head().getLong(0)

    // --- Page-Hinkley over a synthetic daily series ---
    // deterministic cents (no RNG — replays identically); 5 priorities
    // interleaved so the per-key state machine sees every batch
    val daily = spark.range(phRows).select(
      concat(lit("P"), (col("id") % 5).cast("string")).as("priority"),
      (col("id") / 5).cast("long").as("day_epoch"),
      (((col("id") * 7919) % 100000) + 1000).cast("long").as("cents"))
    val phSrc = Files.createTempDirectory("mb_daily")
    daily.write.mode("overwrite").parquet(phSrc.toString)
    val phStream = spark.readStream.schema(daily.schema)
      .parquet(phSrc.toString).as[Streams.DailyCents]
    val (phDone, tPh) = runStream(
      Streams.pageHinkleyStream(phStream).toDF(), "mb_ph")
    val phSeen = spark.sql("select sum(n_days) from (select max(n_days) n_days from mb_ph group by priority)")
      .head().getLong(0)

    // throughput over rows actually CONSUMED (psiSeen/phSeen), not the
    // full input count — on a timeout the stream stops mid-feed and
    // input/t would overstate the rate (CleanerBench's discipline)
    if (!psiDone || !phDone)
      System.err.println("[monitor-bench] WARNING: stream timed out — " +
        "rates are over partial output; do not record them")
    println(s"""{"metric":"monitor_throughput","psi":{"n_docs":$nDocs,"docs_seen":$psiSeen,""" +
      s""""snapshots":$psiSnaps,"lake_build_sec":${num(tLake)},"stream_sec":${num(tPsi)},""" +
      s""""docs_per_sec":${num(psiSeen / tPsi)},"timed_out":${!psiDone}},""" +
      s""""ph":{"n_rows":$phRows,"rows_seen":$phSeen,"stream_sec":${num(tPh)},""" +
      s""""rows_per_sec":${num(phSeen / tPh)},"timed_out":${!phDone}},"lm_dir":"$lmDir"}""")
    spark.stop()
  }
}
