package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextExpressions

/** The native text expressions must be bit-identical to the HOF
  * formulation they replaced (which is what the DuckDB oracle mirrors).
  * The HOF reference shapes are reconstructed here verbatim from the
  * pre-native operators. */
class TextExpressionsSpec extends SparkSpec {

  /** The round-2 lambda-bound HOF n-gram shape (the former
    * TextOps.ngramArray body) — kept as the reference semantics. */
  private def hofNgrams(textCol: String, n: Int) = {
    val gram = (0 until n).map(j => s"element_at(t, i + $j)").mkString(", ")
    expr(
      s"""element_at(transform(array(filter(split($textCol, ' '), x -> x != '')),
         |  t -> if(size(t) < $n, cast(array() as array<string>),
         |    transform(sequence(1, size(t) - ${n - 1}),
         |      i -> concat_ws(' ', $gram)))),
         |1)""".stripMargin)
  }

  test("cdc_boundaries matches the per-position HOF polynomial over the corpus") {
    val pows = Array.iterate(1L, 8)(_ * 31L)
    val h = (0 until 8)
      .map(j => s"cast(ascii(substring(text, i - $j, 1)) as bigint) * ${pows(j)}")
      .mkString(" + ")
    val both = Tables.documents(spark, sf0001)
      .select(col("text"), expr("cast(length(text) as int)").as("n"))
      .withColumn("native", TextExpressions.cdcBoundaries(col("text"), 8, 63))
      .withColumn("hof", expr(
        s"filter(transform(sequence(8, greatest(n - 1, 8)), i ->" +
          s" IF(i > n - 1, -1, IF(($h) % 64 = 0, i, -1))), x -> x <> -1)"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0,
      "native rolling hash must equal the per-position polynomial")
    assert(both.filter(size(col("native")) > 0).count() > 0,
      "fixture must produce boundaries")
    // short strings: no interior boundary possible
    val edge = spark.sql("SELECT cast(array() as array<int>) e")
      .select(TextExpressions.cdcBoundaries(lit("tiny"), 8, 63).as("b")).head()
    assert(edge.getSeq[Int](0).isEmpty)
  }

  test("word_ngrams matches the HOF shape for n=2,3,5 over the corpus") {
    val docs = Tables.documents(spark, sf0001)
    Seq(2, 3, 5).foreach { n =>
      val bad = docs
        .withColumn("a", TextExpressions.wordNgrams(col("text"), n))
        .withColumn("b", hofNgrams("text", n))
        .filter(col("a") =!= col("b"))
        .count()
      assert(bad == 0, s"n=$n mismatch")
    }
  }

  test("word_ngrams edge cases: empties, extra spaces, short docs") {
    import spark.implicits._
    val df = Seq("", " ", "a", "a b", "a b c", "  a   b  ", "a  b c  d")
      .toDF("text")
      .withColumn("a", TextExpressions.wordNgrams(col("text"), 3))
      .withColumn("b", hofNgrams("text", 3))
    assert(df.filter(col("a") =!= col("b")).count() == 0)
    val r = df.collect().map(_.getSeq[String](1))
    assert(r(0).isEmpty && r(2).isEmpty && r(3).isEmpty)
    assert(r(4) == Seq("a b c"))
    assert(r(6) == Seq("a b c", "b c d"))
  }

  test("minhash_bands matches the HOF signature + band-hash shape") {
    val sh = Tables.documents(spark, sf0001)
      .select(col("doc_id"), TextExpressions.wordNgrams(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val bad = sh
      .withColumn("native", TextExpressions.minhashBands(col("sh"), 8, 4))
      .withColumn("sig", expr(
        """element_at(transform(array(sh), v ->
          |  transform(sequence(0, 7), p ->
          |    array_min(transform(v, s -> md5(concat(cast(p as string), ':', s)))))), 1)""".stripMargin))
      .withColumn("hof", expr(
        """transform(sequence(0, 3), b ->
          |  md5(concat(element_at(sig, 2*b+1), element_at(sig, 2*b+2), ':', cast(b as string))))""".stripMargin))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(bad == 0)
  }

  test("md5_min matches array_min(transform(md5)) and is null on empty") {
    import spark.implicits._
    val sh = Tables.documents(spark, sf0001)
      .select(TextExpressions.wordNgrams(col("text"), 3).as("sh"))
    val bad = sh.filter(size(col("sh")) > 0)
      .withColumn("a", TextExpressions.md5Min(col("sh")))
      .withColumn("b", expr("array_min(transform(sh, s -> md5(s)))"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(bad == 0)
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(TextExpressions.md5Min(col("sh")))
      .collect()
    assert(empty.head.isNullAt(0))
  }

  test("SQL registration: word_ngrams/minhash_bands/md5_min/simhash60 callable from SQL") {
    val r = spark.sql(
      """SELECT md5_min(word_ngrams('a b c d', 3)) m,
        |       minhash_bands(word_ngrams('a b c d', 3), 8, 4) bands,
        |       simhash60('a b c d') sh,
        |       simhash60('   ') sh_null""".stripMargin)
      .collect().head
    assert(r.getString(0).length == 32)
    assert(r.getSeq[String](1).length == 4)
    assert(r.getLong(2) >= 0 && r.getLong(2) < (1L << 60))
    assert(r.isNullAt(3), "zero tokens must yield NULL")
  }
  test("simhash60 is bit-identical to the interpreted HOF cascade") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val native = docs.select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions.simhash60(col("text")).as("h"))
      .filter(col("h").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = docs
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(expr("size(toks) >= 1"))
      .withColumn("hs", expr(
        "transform(toks, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"))
      .withColumn("h", expr(
        """aggregate(sequence(0, 59), cast(0 as bigint), (acc, j) ->
          |acc + if(aggregate(hs, 0, (c, h) -> c + if(((h >> j) & 1) = 1, 1, -1)) > 0, shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""".stripMargin))
      .select(col("doc_id"), col("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == hof, "native SimHash must be bit-identical to the reference fold")
  }
}
