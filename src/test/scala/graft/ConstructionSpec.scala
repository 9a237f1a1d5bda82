package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graft.SparkCounters

/** Building a query's DataFrame runs no Spark job: the work waits for
  * the action. Checked on the frozen benchmark mix, each query built
  * once to warm the per-snapshot stores and then counted on a second
  * build. */
class ConstructionSpec extends SparkSpec {

  /** Jobs a warm construction may run. Only ever shrink this list:
    * dd_components collects one bounded probe of its pair table to
    * choose between driver union-find and distributed propagation. */
  private val allowedJobs = Map("dd_components" -> 1).withDefaultValue(0)

  private lazy val mix: Seq[String] =
    Files.readAllLines(Paths.get("graftbench/expected-query-mix.tsv")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.takeWhile(_ != '\t'))

  test("a warm construction of each query-mix query runs no job beyond its allowance") {
    assert(mix.size == 11, mix)
    val counts = mix.map { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sf0001)
      name -> SparkCounters.jobs(spark)(fn(spark, sf0001))._2
    }
    val over = counts.filter { case (n, c) => c > allowedJobs(n) }
    assert(over.isEmpty, s"jobs run while constructing: ${over.mkString(", ")} (all: ${counts.mkString(", ")})")
  }

  test("a warm rerun of the query mix compiles no new classes") {
    def pass(): Seq[(String, Long)] = mix.map { name =>
      name -> SparkCounters.compilations(SparkEntry.queries(name)(spark, sf0001).collect())._2
    }
    // the second pass settles adaptive re-planning, whose first rerun
    // of q57 still numbers a few codegen stages differently
    pass()
    pass()
    val compiled = pass()
    assert(compiled.forall(_._2 == 0), s"classes compiled on a warm pass: ${compiled.mkString(", ")}")
  }
}
