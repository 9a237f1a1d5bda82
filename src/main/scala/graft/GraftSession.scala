package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a session: [[GraftExtensions]] on (the SQL
  * functions, the TopKPerGroup rewrite and the TopKPerGroup / as-of
  * planner strategies), UTC session time zone, one shuffle partition
  * per core, UI off, log level WARN, a codegen cache that holds a warm
  * pass of the query mix. Every main and the test harness
  * call this; nothing else uses `SparkSession.builder` or installs
  * graft's rules on a live session.
  *
  * `local = true` runs the driver at `local[cpus]`; `local = false`
  * leaves the master and the log configuration to spark-submit, so a
  * deployment's log4j2 setup still sees the app's own INFO lines. */
object GraftSession {
  /** Generated classes the JVM-wide codegen cache keeps. Spark's default
    * of 100 is smaller than one warm pass of the benchmark query mix
    * (about 160 classes), and an LRU smaller than a cyclic working set
    * never hits: every warm pass recompiled every class. */
  private val CodegenCacheEntries = 2000

  def create(appName: String, cpus: Int, local: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    if (local) b.master(s"local[$cpus]")
    val spark = b.getOrCreate()
    if (local) spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores from `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
