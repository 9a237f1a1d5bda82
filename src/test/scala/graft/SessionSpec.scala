package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared test session is the production session, and nothing in
  * the source tree builds a session or installs graft's rules any other
  * way than through [[GraftSession]]. */
class SessionSpec extends SparkSpec {

  test("shared test session carries GraftExtensions and UTC") {
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("a plain row_number() <= k filter plans through TopKPerGroup with no setup") {
    val df = spark.range(100).selectExpr("id % 7 as g", "id")
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy(col("id").desc)))
      .filter(col("rn") <= 2)
    assert(df.count() == 14)
    assert(plansTopK(df), df.queryExecution.executedPlan.toString)
  }

  test("only GraftSession builds a session or installs rules on one") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val factory = root.resolve("main/scala/graft/GraftSession.scala")
    assert(files.contains(factory))
    val builder = """SparkSession\s*\.\s*builder""".r
    val install = """experimental\s*\.\s*extra(Strategies|Optimizations)\s*=(?!=)""".r
    def offends(p: Path): Boolean = {
      val text = Files.readString(p)
      install.findFirstIn(text).nonEmpty || (p != factory && builder.findFirstIn(text).nonEmpty)
    }
    val bad = files.filter(offends)
    assert(bad.isEmpty, s"session built or rules installed outside GraftSession: ${bad.mkString(", ")}")
  }
}
