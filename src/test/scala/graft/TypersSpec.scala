package graft

import graft.functions.Typers
import org.apache.spark.sql.functions._

class TypersSpec extends SparkSpec {
  import spark.implicits._

  test("timestamp typer parses the reference format and nulls failures") {
    val df = Seq(
      "2024-03-01 10:20:30.123456",
      "2024-03-01 10:20:30.5",   // Python %f accepts 1-6 fraction digits
      "2024-03-01 10:20:30",     // no fraction → reference %f also fails this
      "not a timestamp",
      "").toDF("s")
      .select(Typers.tryOdnsTimestamp(col("s")).as("t"))
    val out = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(out(0).contains("2024-03-01 10:20:30.123456"))
    assert(out(1).contains("2024-03-01 10:20:30.5"), s"short fraction: ${out(1)}")
    assert(out(2).isEmpty && out(3).isEmpty && out(4).isEmpty)
  }

  test("float typer nulls non-numeric input") {
    // Python's float() rejects a Java float-type suffix ("7d", "1f")
    // and accepts exponents, infinities and surrounding spaces
    val in = Seq("12345", "3.14", "AS1234", "", "7d", "1f", " 2.5D ", "3.F",
      "1e3", "inf", "-Infinity", " 4.5 ")
    val out = in.toDF("s").select(Typers.tryDouble(col("s")).as("d"))
      .collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(Some(12345.0), Some(3.14), None, None, None, None, None, None,
      Some(1000.0), Some(Double.PositiveInfinity), Some(Double.NegativeInfinity), Some(4.5)))
  }

  test("empty string maps to null, other values pass through") {
    val df = Seq("", "DE", " ").toDF("s")
      .select(Typers.emptyToNull(col("s")).as("v"))
    val out = df.collect().map(r => Option(r.getString(0)))
    assert(out(0).isEmpty)
    assert(out(1).contains("DE"))
    assert(out(2).contains(" ")) // reference only nulls exact ""
  }

  test("scan date extraction from archive names") {
    val df = Seq(
      "tcp_scan_2026-08-01.csv.gz",
      "udp-2025-12-31-full.csv.gz",
      "no_date_here.csv.gz").toDF("f")
      .select(Typers.extractScanDate(col("f")).as("d"))
    val out = df.collect().map(r => Option(r.getString(0)))
    assert(out(0).contains("2026-08-01"))
    assert(out(1).contains("2025-12-31"))
    assert(out(2).isEmpty)
  }
}
