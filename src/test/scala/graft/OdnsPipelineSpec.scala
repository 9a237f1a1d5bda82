package graft

import java.nio.file.Files

import graft.sinks.JdbcSink
import graft.sources.OdnsCsv

/** End-to-end: archive layout → discovery → typed read → Derby refresh —
  * the reference's whole main() in one test (dataimporter.py:203-306). */
class OdnsPipelineSpec extends SparkSpec {

  test("run ingests newest archive per protocol and refresh is idempotent") {
    val root = Files.createTempDirectory("odns_root")
    val tcpDir = root.resolve("2026/tcp")
    val udpDir = root.resolve("2026/udp")
    OdnsFixtures.writeArchive(tcpDir, "tcp_scan_2026-08-01.csv.gz",
      OdnsFixtures.TcpHeader, OdnsFixtures.tcpRows(4))
    val newer = OdnsFixtures.writeArchive(tcpDir, "tcp_scan_2026-08-02.csv.gz",
      OdnsFixtures.TcpHeader, OdnsFixtures.tcpRows(6))
    newer.toFile.setLastModified(System.currentTimeMillis() + 10000)
    OdnsFixtures.writeArchive(udpDir, "udp_scan_2026-08-02.csv.gz",
      OdnsFixtures.UdpHeader, OdnsFixtures.udpRows(3))

    val dbDir = Files.createTempDirectory("derby").resolve("pipe_db")
    val target = JdbcSink.Target(s"jdbc:derby:$dbDir;create=true", "odns_entries")
    createOdnsTable(target)

    val results = OdnsPipeline.run(spark, root.toString, target, 2026)
    assert(results.map(_.protocol) == Seq("tcp", "udp"))
    // newest tcp archive (6 rows) chosen, not the older 4-row one
    assert(results.head.archive.exists(_.endsWith("tcp_scan_2026-08-02.csv.gz")))
    assert(results.map(_.rows) == Seq(6, 3), "rows are per protocol, not the whole table")
    assert(JdbcSink.count(target) == 9)

    // re-running refreshes in place — no duplicate accumulation
    OdnsPipeline.run(spark, root.toString, target, 2026)
    assert(JdbcSink.count(target) == 9)

    // scan_date landed from the filename, not load time
    val back = spark.read.format("jdbc")
      .option("url", target.url).option("dbtable", target.table).load()
    val dates = back.select("protocol", "scan_date").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(dates == Set(("tcp", "2026-08-02"), ("udp", "2026-08-02")))
  }

  test("lake variant ingests ALL archives into refreshable partitions") {
    val root = Files.createTempDirectory("odns_lake_root")
    OdnsFixtures.writeArchive(root.resolve("2026/tcp"), "tcp_scan_2026-08-01.csv.gz",
      OdnsFixtures.TcpHeader, OdnsFixtures.tcpRows(4))
    OdnsFixtures.writeArchive(root.resolve("2026/tcp"), "tcp_scan_2026-08-02.csv.gz",
      OdnsFixtures.TcpHeader, OdnsFixtures.tcpRows(6))
    OdnsFixtures.writeArchive(root.resolve("2026/udp"), "udp_scan_2026-08-02.csv.gz",
      OdnsFixtures.UdpHeader, OdnsFixtures.udpRows(3))
    val lake = Files.createTempDirectory("odns_lake").toString + "/scans"

    val results = OdnsPipeline.runToLake(spark, root.toString, lake, 2026)
    // unlike the reference's newest-only unit, the lake run takes BOTH
    // tcp archives in one distributed read
    assert(results.head.rows == 10 && results(1).rows == 3)
    val back = spark.read.parquet(lake)
    assert(back.count() == 13)
    // partition dirs exist per (protocol, scan_date)
    val parts = back.select("protocol", "scan_date").distinct().count()
    assert(parts == 3)
    // re-running refreshes in place (dynamic overwrite, no duplicates)
    OdnsPipeline.runToLake(spark, root.toString, lake, 2026)
    assert(spark.read.parquet(lake).count() == 13)
  }

  test("health check reflects JDBC and archive-root state") {
    val root = Files.createTempDirectory("odns_health")
    val dbDir = Files.createTempDirectory("derby").resolve("health_db")
    val target = JdbcSink.Target(s"jdbc:derby:$dbDir;create=true", "t")
    assert(OdnsPipeline.healthy(spark, root.toString, target))
    assert(!OdnsPipeline.checkArchiveRoot(spark, "/no/such/dir"))
    val dead = JdbcSink.Target("jdbc:derby:/nonexistent/denied;create=false", "t")
    assert(!OdnsPipeline.checkJdbc(dead))
  }

  private def createOdnsTable(target: JdbcSink.Target): Unit = {
    val cols = OdnsCsv.TableColumns.collect {
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
}
