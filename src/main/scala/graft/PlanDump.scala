package graft

/** Dev tool: dump `.explain("formatted")` for a comma-separated list of
  * registered queries (SPARK_GRAFT_PLAN_QUERIES) into
  * SPARK_GRAFT_PLAN_DIR/<name>_<SPARK_GRAFT_PLAN_TAG>.txt — the
  * before/after plan evidence the optimization rounds commit under
  * plans/. Not part of the driver contract. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/root/repo/plans/r14")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val names = sys.env.getOrElse("SPARK_GRAFT_PLAN_QUERIES", "")
      .split(',').map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.create("graft-plandump", GraftSession.cpus(8))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          // bounded-result queries collect inside materializeAndRelease
          // and return a LocalRelation; the hook below makes them dump
          // the pre-collect pipeline plan as <name>_<tag>_inner.txt
          System.setProperty("graft.explain.inner",
            java.nio.file.Paths.get(outDir, s"${n}_${tag}_inner.txt").toString)
          val df =
            try fn(spark, sfDir)
            finally System.clearProperty("graft.explain.inner")
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"), plan)
          System.err.println(s"[plandump] wrote $n ($tag)")
        case None => System.err.println(s"[plandump] UNKNOWN query: $n")
      }
    }
    spark.stop()
  }
}
