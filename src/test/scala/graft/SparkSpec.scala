package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session), built
  * by the production factory. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Exact-integer column decoder across the engine's three output-edge
    * carriers (BIGINT, exact-decimal TEXT, internal DecimalType in
    * pre-output tests) — shared so the next carrier change cannot
    * desynchronize sibling suites. */
  def big(r: org.apache.spark.sql.Row, i: Int): BigInt = r.get(i) match {
    case d: java.math.BigDecimal => BigInt(d.toBigInteger)
    case l: java.lang.Long       => BigInt(l)
    case i2: java.lang.Integer   => BigInt(i2.intValue)
    case s: String               => BigInt(s)
    case o => sys.error(s"unexpected type for exact-int column: $o")
  }

  /** Run `body` with session confs set, restoring each key's previous
    * value (or unsetting it) afterwards. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` with the TopKPerGroup rewrite excluded from the
    * optimizer, so a `row_number() <= k` filter plans as a plain
    * window: the independent reference side of a TopK equivalence. */
  def withoutTopKRewrite[A](body: => A): A =
    withConf("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.graft.TopKPerGroupRewrite")(body)

  /** Whether `df`'s executed plan runs the TopKPerGroup operator. */
  def plansTopK(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("TopKPerGroup")
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create("graft-test", cpus = 4)
}
