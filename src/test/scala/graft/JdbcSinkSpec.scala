package graft

import java.nio.file.Files

import graft.sinks.JdbcSink
import graft.sources.OdnsCsv

/** Integration tests against embedded Derby (ships with Spark's jars) —
  * a real JDBC round-trip, same code path as a Postgres target.
  */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshTarget(name: String): JdbcSink.Target = {
    val dbDir = Files.createTempDirectory("derby").resolve(name)
    JdbcSink.Target(s"jdbc:derby:$dbDir;create=true", "odns_entries")
  }

  /** Derby maps Spark StringType to CLOB (not comparable/indexable), so
    * pre-create the table the way a real deployment would. */
  private def createOdnsTable(target: JdbcSink.Target): Unit = {
    val varchars = OdnsCsv.TableColumns.collect {
      case c @ ("timestamp_request" | "timestamp_response") => s"$c TIMESTAMP"
      case c @ ("asn_request" | "asn_response" | "asn_arecord") => s"$c DOUBLE"
      case c => s"$c VARCHAR(128)"
    }
    val conn = target.connection()
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE ${target.table} (${varchars.mkString(", ")})")
      finally st.close()
    } finally conn.close()
  }

  private def odnsDf(protocol: String, n: Int) = {
    val dir = Files.createTempDirectory(s"sink_$protocol")
    val (header, rows) =
      if (protocol == "tcp") (OdnsFixtures.TcpHeader, OdnsFixtures.tcpRows(n))
      else (OdnsFixtures.UdpHeader, OdnsFixtures.udpRows(n))
    OdnsFixtures.writeArchive(dir, s"${protocol}_scan_2026-08-01.csv.gz", header, rows)
    OdnsCsv.read(spark, protocol, dir.toString)
  }

  test("append writes batched rows over JDBC") {
    val t = freshTarget("append_db")
    createOdnsTable(t)
    JdbcSink.append(odnsDf("tcp", 5), t, batchSize = 2)
    assert(JdbcSink.count(t) == 5)
  }

  test("refreshPartition replaces one protocol, leaves the other intact") {
    val t = freshTarget("refresh_db")
    createOdnsTable(t)
    JdbcSink.refreshPartition(odnsDf("tcp", 5), t, "protocol", "tcp")
    JdbcSink.refreshPartition(odnsDf("udp", 3), t, "protocol", "udp")
    assert(JdbcSink.count(t) == 8)
    // re-ingest tcp with different size — must replace, not accumulate
    JdbcSink.refreshPartition(odnsDf("tcp", 2), t, "protocol", "tcp")
    assert(JdbcSink.count(t) == 5)
    // and the JDBC read path sees typed values (Derby uppercases names)
    val back = spark.read.format("jdbc")
      .option("url", t.url).option("dbtable", t.table).load()
    assert(back.filter($"PROTOCOL" === "udp").count() == 3)
    assert(JdbcSink.countWhere(t, "protocol", "udp") == 3)
    val asnField = back.schema.find(_.name.equalsIgnoreCase("asn_request")).get
    assert(asnField.dataType.typeName == "double")
  }

  test("deleteWhere rejects unsafe column identifiers") {
    val t = freshTarget("guard_db")
    intercept[IllegalArgumentException] {
      JdbcSink.deleteWhere(t, "protocol; DROP TABLE x", "tcp")
    }
    intercept[IllegalArgumentException] {
      JdbcSink.countWhere(t, "protocol; DROP TABLE x", "tcp")
    }
  }

  test("tableExists distinguishes present and missing tables") {
    val t = freshTarget("exists_db")
    assert(!JdbcSink.tableExists(t))
    createOdnsTable(t)
    assert(JdbcSink.tableExists(t))
  }
}
