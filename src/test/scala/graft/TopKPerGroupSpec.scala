package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopK

class TopKPerGroupSpec extends SparkSpec {

  test("custom operator selects exactly the window-formulation rows") {
    val li = Tables.lineitem(spark, sf0001)
    val (viaWindow, windowTopK) = withoutTopKRewrite {
      val df = li
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
        .filter(col("rn") <= 7).drop("rn")
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      (df.collect().map(_.toString).sorted, plansTopK(df))
    }
    assert(!windowTopK, "reference side must plan as a plain window")
    val custom = TopK.perGroup(li, Seq("l_returnflag"),
        Seq("l_extendedprice" -> true, "l_orderkey" -> false, "l_linenumber" -> false), 7)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
    val viaCustom = custom.collect().map(_.toString).sorted
    assert(plansTopK(custom))
    assert(viaCustom.sameElements(viaWindow))
  }

  test("physical plan contains the partial+final TopKPerGroup execs") {
    val df = TopK.perGroup(Tables.orders(spark, sf0001),
      Seq("o_custkey"), Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), plan)
    // both the pre-shuffle partial and post-shuffle final instances
    assert("TopKPerGroup".r.findAllIn(plan).length >= 2, plan)
  }

  test("k larger than any group degenerates to the full input") {
    val n = TopK.perGroup(Tables.orders(spark, sf0001),
      Seq("o_custkey"), Seq("o_orderkey" -> false), 1000000).count()
    assert(n == Tables.orders(spark, sf0001).count())
  }

  test("rewrite rule: window row_number<=k auto-plans through TopKPerGroupExec, result-identical") {
    def windowTopk() = Tables.orders(spark, sf0001)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
      .orderBy(col("o_orderpriority"), col("rn"))
    val (plain, plainTopK) = withoutTopKRewrite {
      val df = windowTopk(); (df.collect(), plansTopK(df))
    }
    assert(!plainTopK, "reference side must plan as a plain window")
    val df = windowTopk()
    val rewritten = df.collect()
    assert(plansTopK(df), s"rule did not fire:\n${df.queryExecution.executedPlan}")
    assert(rewritten.map(_.toString).toSeq == plain.map(_.toString).toSeq,
      "rewrite must be result-identical including the rn column")
  }

  test("q73_reservoir under the production extensions: rewrite fires on the per-user window, result identical") {
    // the gated q73 has a HIGH-cardinality partition key (per-user),
    // the case the partial-pass spill guard exists for
    val (plain, plainTopK) = withoutTopKRewrite {
      val df = graft.operators.Analytics.q73Reservoir(spark, sf0001)
      (df.collect(), plansTopK(df))
    }
    assert(!plainTopK, "reference side must plan as a plain window")
    val df = graft.operators.Analytics.q73Reservoir(spark, sf0001)
    val rewritten = df.collect()
    assert(plansTopK(df), s"rule did not fire on q73:\n${df.queryExecution.executedPlan}")
    assert(rewritten.map(_.toString).toSeq == plain.map(_.toString).toSeq)
  }
}
