package graft

import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference container's invocation
  * surface (dataimporter.py:203-232): `--check-health` probes the
  * JDBC target and the archive root and exits 0 (healthy) / 1, with
  * the same message shapes; without flags it runs the ingest
  * (discover latest archive per protocol → typed read → refresh
  * load). Configuration comes from a config.ini-style file
  * (`--config <path>`, default `config.ini`) — see [[OdnsConfig]].
  *
  * Exit codes are the reference's health-check contract
  * (dataimporter.py:212-227): 0 healthy, 1 any probe failed.
  */
object OdnsApp {

  /** Log sink mirroring the reference's `Logger.info/error` calls
    * beside each print (dataimporter.py:216-227: the health-check
    * branch prints "[*] ..." for the operator AND emits a structured
    * log line for the deployment — e.g. print("[*] System healthy.")
    * + Logger.info("System health check successful")). The default
    * sink is slf4j (Spark's bundled log4j2 backend); the spec swaps
    * in a capturing sink to assert the emitted lines. */
  private[graft] var logSink: (String, String) => Unit = null // (level, msg)
  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)
  private def info(print: String, log: String): Unit = {
    println(print)
    if (logSink != null) logSink("INFO", log) else logger.info(log)
  }
  private def error(print: String, log: String): Unit = {
    println(print)
    if (logSink != null) logSink("ERROR", log) else logger.error(log)
  }

  def main(args: Array[String]): Unit = {
    val argMap = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    val configPath = argMap.getOrElse("--config", "config.ini")
    val cfg = OdnsConfig.load(configPath)
    val target = cfg.target
    val archiveRoot = argMap.get("--archive-root")
      .orElse(cfg.archiveRoot)
      .getOrElse(sys.error("config: missing [paths] archive-root"))

    // spark-submit chooses the master; cores only size the shuffle
    val spark = GraftSession.create("odns-importer", GraftSession.cpus(32),
      local = false)
    // compute the exit code first: sys.exit inside the try would skip
    // the finally, leaving the session to the shutdown hook
    val exitCode =
      try run(spark, args, argMap, archiveRoot, target)
      finally spark.stop()
    sys.exit(exitCode)
  }

  /** The CLI body, factored out of main so the spec can drive it
    * without sys.exit/session teardown. Returns the exit code. */
  private[graft] def run(spark: SparkSession, args: Array[String],
      argMap: Map[String, String], archiveRoot: String,
      target: graft.sinks.JdbcSink.Target): Int = {
    if (args.contains("--check-health")) {
      println("[*] Health check...")
      val pg = OdnsPipeline.checkJdbc(target)
      val drive = OdnsPipeline.checkArchiveRoot(spark, archiveRoot)
      if (pg && drive) {
        // print + log pairing per dataimporter.py:217-219
        info("[*] System healthy.", "System health check successful")
        0
      } else {
        if (!pg) error("[*] No database connection.", "No database connection")
        if (!drive) error("[*] Failed to access data drive.", "No access to data drive")
        1
      }
    } else {
      println("[*] Processing data.")
      val year = argMap.get("--year").map(_.toInt)
        .getOrElse(java.time.Year.now().getValue)
      val results = OdnsPipeline.run(spark, archiveRoot, target, year,
        ingestAll = args.contains("--all"))
      results.foreach { r =>
        info(s"[*] ${r.protocol}: ${r.archive.getOrElse("no archive")} -> ${r.rows} rows",
          s"Ingested ${r.rows} rows for ${r.protocol} from ${r.archive.getOrElse("no archive")}")
      }
      0
    }
  }
}
