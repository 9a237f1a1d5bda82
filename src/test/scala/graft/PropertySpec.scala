package graft

import graft.functions.{JoinOps, Typers}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopK
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style checks over randomized inputs for the algebraic
  * invariants the example-based specs can't sweep (plain ScalaCheck
  * generators driven from ScalaTest; fixed seed per case index for
  * reproducibility). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("typers: alpha strings null out, numeric strings round-trip") {
    samples(Gen.alphaStr.suchThat(_.nonEmpty), 10).foreach { s =>
      val out = Seq(s).toDF("v").select(Typers.tryDouble(col("v"))).collect().head
      assert(out.isNullAt(0), s"'$s' unexpectedly parsed")
    }
    samples(Gen.chooseNum(-1e12, 1e12), 10).foreach { d =>
      val out = Seq(d.toString).toDF("v")
        .select(Typers.tryDouble(col("v"))).collect().head
      assert(!out.isNullAt(0) && out.getDouble(0) == d)
    }
  }

  test("TopKPerGroup equals the window formulation on random tables") {
    val gen = for {
      n <- Gen.chooseNum(1, 300)
      k <- Gen.chooseNum(1, 12)
      groups <- Gen.chooseNum(1, 8)
    } yield (n, k, groups)
    samples(gen, 8).foreach { case (n, k, groups) =>
      val df = spark.range(n.toLong).selectExpr(
        s"cast(id % $groups as bigint) as g",
        "cast(hash(id) as double) as v",
        "id")
      val (viaWindow, windowTopK) = withoutTopKRewrite {
        val w = df.withColumn("rn", row_number().over(
            Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))))
          .filter(col("rn") <= k).drop("rn")
        (w.collect().map(_.toString).sorted, plansTopK(w))
      }
      assert(!windowTopK, "reference side must plan as a plain window")
      val custom = TopK.perGroup(df, Seq("g"), Seq("v" -> true, "id" -> false), k)
      val viaCustom = custom.collect().map(_.toString).sorted
      assert(plansTopK(custom))
      assert(viaCustom.sameElements(viaWindow), s"mismatch at n=$n k=$k groups=$groups")
    }
  }

  test("salted join equals plain join for any salt bucket count") {
    val left = spark.range(200).selectExpr("id % 17 as k", "id as lv")
    val right = spark.range(17).selectExpr("id as k", "id * 100 as rv")
    val plain = left.join(right, "k").select("k", "lv", "rv")
      .collect().map(_.toString).sorted
    samples(Gen.chooseNum(1, 32), 6).foreach { buckets =>
      val salted = JoinOps.saltedJoin(left, right, "k", buckets, col("lv"))
        .select("k", "lv", "rv").collect().map(_.toString).sorted
      assert(salted.sameElements(plain), s"mismatch at buckets=$buckets")
    }
  }

  test("log2_fixed: monotone, 2^-20-accurate, and exact at powers of two across the domain") {
    import org.apache.spark.sql.graft.Log2Fixed
    val xs = samples(Gen.chooseNum(1L, (1L << 43) - 1), 200).sorted
    xs.foreach { x =>
      val lg = Log2Fixed.compute(x)
      val approx = lg.toDouble / (1L << 20)
      val truth = math.log(x.toDouble) / math.log(2.0)
      assert(math.abs(approx - truth) <= 2.5e-6,
        s"fixed-point log off by ${approx - truth} at $x")
    }
    xs.zip(xs.tail).foreach { case (a, b) =>
      assert(Log2Fixed.compute(a) <= Log2Fixed.compute(b),
        s"monotonicity violated between $a and $b")
    }
    (0 to 42).foreach { k =>
      assert(Log2Fixed.compute(1L << k) == k.toLong * (1L << 20), s"2^$k not exact")
    }
    // shifted form agrees with compute inside the domain and stays
    // monotone across the 2^43 boundary
    samples(Gen.chooseNum(1L, (1L << 43) - 1), 50).foreach { x =>
      assert(Log2Fixed.shifted(x) == Log2Fixed.compute(x))
    }
    val boundary = Seq((1L << 43) - 2, (1L << 43) - 1, 1L << 43, (1L << 43) + 1,
      Long.MaxValue - 1, Long.MaxValue)
    boundary.zip(boundary.tail).foreach { case (a, b) =>
      assert(Log2Fixed.shifted(a) <= Log2Fixed.shifted(b),
        s"shifted monotonicity violated between $a and $b")
    }
  }
}
