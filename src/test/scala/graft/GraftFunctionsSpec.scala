package graft

import graft.functions.JoinOps
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class GraftFunctionsSpec extends SparkSpec {

  test("native vector functions are callable from SQL") {
    val r = spark.sql(
      """SELECT float_vec_dot(array(float(1.0), float(2.0)), array(float(3.0), float(4.0))) AS d,
        |       float_vec_norm(array(float(3.0), float(4.0))) AS n""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 5.0)
  }

  test("salted join returns exactly the plain join rows") {
    val orders = Tables.orders(spark, sf0001)
    val customer = Tables.customer(spark, sf0001)
    val plain = orders.join(customer, orders("o_custkey") === customer("c_custkey"))
      .select("o_orderkey", "c_name").collect().map(_.toString).sorted
    val salted = JoinOps.saltedJoin(
        orders.withColumnRenamed("o_custkey", "k"),
        customer.withColumnRenamed("c_custkey", "k"),
        "k", 8, col("o_orderkey"))
      .select("o_orderkey", "c_name").collect().map(_.toString).sorted
    assert(salted.sameElements(plain))
  }

  test("components form valid transitive clusters over near-dup pairs") {
    val comp = Dedup.ddComponents(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    val pairs = Dedup.ddNgramJaccard(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(comp.nonEmpty)
    // every edge's endpoints share a component, and the label is the min
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b)) }
    comp.foreach { case (n, l) => assert(l <= n) }
  }

  test("top terms are ranked consistently within each language") {
    val rows = TextAnalysis.txtTopTerms(spark, sf0001).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet == Set("de", "en", "es", "fr", "zh"))
    byLang.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.sameElements(scores.sorted.reverse))
    }
  }
}
