package graft

import java.nio.file.Files

import graft.streaming.Streams
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming-cleaner throughput benchmark — the deployment question
  * for the quality tier: how many documents per second does the
  * one-pass three-signal gate (entropy + unigram-LM + KN-bigram-LM,
  * Streams.qualityGateStream) clean in flight? Reference-LM lakes are
  * built once from the corpus at `lmDir` (the snapshot cost every
  * nightly build pays ONCE), then `docsDir`'s documents stream through
  * the gate with an AvailableNow trigger into a counting sink.
  *
  * Usage: runMain graft.CleanerBench [lmSfDir] [docsParquet] [gate]
  * Defaults: lm = /root/testdata/sf0.1, docs = target/sf1/documents.parquet
  * (50k docs — the replicated corpus is fine here: throughput, not
  * liveness). `gate` = "quality" (default: the three-signal
  * qualityGateStream) or "dsir" (the importance-selection gate,
  * Streams.docDsirStream over the dsirLmWrite lake — kept = selected).
  * Prints one JSON line: lake-build sec, stream sec, docs/s.
  */
object CleanerBench {
  def main(args: Array[String]): Unit = {
    val lmDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docsPath = args.lift(1).getOrElse("target/sf1/documents.parquet")
    val spark = GraftSession.create("graft-cleaner-bench", GraftSession.cpus(32))
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    spark.range(1000).count() // session warmup

    val gate = args.lift(2).getOrElse("quality")
    require(gate == "quality" || gate == "dsir" || gate == "editgate",
      s"unknown gate '$gate'")

    val uniLake = Files.createTempDirectory("cb_uni").toString
    val knLake = Files.createTempDirectory("cb_kn").toString
    val dsirLake = Files.createTempDirectory("cb_dsir").toString
    val editLake = Files.createTempDirectory("cb_edit").toString
    val (_, tLakes) = time {
      if (gate == "dsir") Streams.dsirLmWrite(spark, lmDir, dsirLake)
      else if (gate == "editgate")
        // the WHOLE lm corpus is the dedup history (splitId past any id)
        Streams.editLakeWrite(spark, lmDir, editLake, Long.MaxValue)
      else {
        Streams.refLmWrite(spark, lmDir, uniLake)
        Streams.knLmWrite(spark, lmDir, knLake)
      }
    }

    val docs = spark.read.parquet(docsPath)
      .select(col("doc_id"), col("lang"), col("text"))
    val nDocs = docs.count()
    val src = Files.createTempDirectory("cb_docs")
    docs.write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream.schema(docs.schema).parquet(src.toString)
      .as[Streams.DocText]
    val gated =
      if (gate == "dsir") Streams.docDsirStream(stream, dsirLake).toDF()
        .withColumnRenamed("selected", "keep")
      else if (gate == "editgate") Streams.editGateStream(stream, editLake)
        .toDF().withColumn("keep", !col("is_dup"))
      else Streams.qualityGateStream(stream, uniLake, knLake).toDF()
    val (finished, tStream) = time {
      val q = gated
        .writeStream.format("memory").queryName("cleaner_bench")
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      // awaitTermination(timeout) returns false if the stream is STILL
      // RUNNING at the deadline — in that case emitted/kept would count
      // partial output and docs_per_sec would be silently wrong, so the
      // record must carry the marker. Stop the query before the sink is
      // read so the timed-out counts are at least a consistent snapshot
      // (not racing in-flight micro-batches).
      val done = q.awaitTermination(600000)
      if (!done) q.stop()
      done
    }
    val emitted = spark.sql("select count(*) from cleaner_bench").head().getLong(0)
    val kept = spark.sql("select count(*) from cleaner_bench where keep").head().getLong(0)
    def num(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    println(s"""{"metric":"cleaner_throughput","gate":"$gate","n_docs":$nDocs,"verdicts":$emitted,""" +
      s""""kept":$kept,"lake_build_sec":${num(tLakes)},"stream_sec":${num(tStream)},""" +
      s""""docs_per_sec":${num(emitted / tStream)},"timed_out":${!finished},""" +
      s""""lm_dir":"$lmDir"}""")
    if (!finished)
      System.err.println("CleanerBench: stream did not finish within 10 min — " +
        "docs_per_sec above is over PARTIAL output; do not record it")
    spark.stop()
  }
}
