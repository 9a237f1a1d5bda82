package graft

import graft.sinks.JdbcSink
import graft.sources.{FileDiscovery, OdnsCsv}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** End-to-end ODNS ingest — the Spark-native re-expression of the
  * reference's main() flow (dataimporter.py:203-306):
  * discover latest archive per protocol → typed distributed read →
  * refresh-by-protocol JDBC load. Health checks mirror
  * dataimporter.py:309-326.
  */
object OdnsPipeline {

  val Protocols = Seq("tcp", "udp")
  val ArchiveExtension = "csv.gz"

  /** `rows` is what the store holds for `protocol` after the call. */
  case class Result(protocol: String, archive: Option[String], rows: Long)

  /** Ingest the most recent archive for each protocol (the reference's
    * per-run unit, dataimporter.py:252-296). `ingestAll = true` instead
    * loads every outstanding archive in one distributed read — the shape
    * you want on a cluster. */
  def run(spark: SparkSession, archiveRoot: String, target: JdbcSink.Target,
      year: Int, ingestAll: Boolean = false,
      batchSize: Int = JdbcSink.DefaultBatchSize): Seq[Result] =
    Protocols.map { proto =>
      val dir = FileDiscovery.dataPath(archiveRoot, year, proto)
      val conf = spark.sparkContext.hadoopConfiguration
      val archives =
        if (ingestAll) FileDiscovery.all(dir, proto, ArchiveExtension, conf)
        else FileDiscovery.mostRecent(dir, proto, ArchiveExtension, conf).toSeq
      if (archives.isEmpty) Result(proto, None, 0L)
      else {
        val df = OdnsCsv.read(spark, proto, archives: _*)
        JdbcSink.refreshPartition(df, target, "protocol", proto, batchSize)
        Result(proto, Some(archives.last),
          JdbcSink.countWhere(target, "protocol", proto))
      }
    }

  /** Lake variant: land every outstanding archive as partitioned
    * parquet (protocol/scan_date directories), refreshing only the
    * partitions present in this batch — the 100 TB shape, where the
    * JDBC store holds summaries and the lake holds the full scans. */
  def runToLake(spark: SparkSession, archiveRoot: String, lakePath: String,
      year: Int): Seq[Result] =
    Protocols.map { proto =>
      val dir = FileDiscovery.dataPath(archiveRoot, year, proto)
      val conf = spark.sparkContext.hadoopConfiguration
      val archives = FileDiscovery.all(dir, proto, ArchiveExtension, conf)
      if (archives.isEmpty) Result(proto, None, 0L)
      else {
        val df = OdnsCsv.read(spark, proto, archives: _*)
        graft.sinks.ParquetSink.refreshPartitions(df, lakePath,
          Seq("protocol", "scan_date"))
        val n = spark.read.parquet(lakePath)
          .filter(org.apache.spark.sql.functions.col("protocol") === proto).count()
        Result(proto, Some(archives.last), n)
      }
    }

  /** Health check: JDBC connectivity + archive root readability
    * (dataimporter.py:309-326). */
  def healthy(spark: SparkSession, archiveRoot: String,
      target: JdbcSink.Target): Boolean =
    checkJdbc(target) && checkArchiveRoot(spark, archiveRoot)

  def checkJdbc(target: JdbcSink.Target): Boolean =
    try { target.connection().close(); true }
    catch { case _: Exception => false }

  def checkArchiveRoot(spark: SparkSession, archiveRoot: String): Boolean =
    try {
      val p = new Path(archiveRoot)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    } catch { case _: Exception => false }
}
