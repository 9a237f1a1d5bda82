package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Registration lint: no DecimalType may leave a gated query — the
    * driver's hash is dtype-sensitive and Spark-parquet DECIMAL vs
    * DuckDB-computed DECIMAL hash differently even when every value
    * matches (r4 HUGEINT, r5 DECIMAL episodes). Exact integers leave
    * as BIGINT; >2^63 statistics as STRING. Factored out so the spec
    * can prove the red path fires. */
  def assertNoDecimalOutput(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    // recurse: a DecimalType nested inside a struct/array/map output must
    // fail here too, matching tools/oracle_check.py's stringified-type ban
    // (DataType.existsRecursively is private[spark], so walk by hand)
    import org.apache.spark.sql.types._
    def hasDecimal(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
      case a: ArrayType => hasDecimal(a.elementType)
      case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    val decCols = df.schema.fields.collect {
      case f if hasDecimal(f.dataType) => f.name
    }
    require(decCols.isEmpty,
      s"$name emits DecimalType column(s) ${decCols.mkString(", ")} — " +
        "cast to BIGINT (bounded) or STRING (past 2^63) at the output edge")
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional dev-loop filter: extra args restrict the dump to named
    // queries (the driver always calls with exactly two args → full run)
    val only = args.drop(2).toSet
    val spark = GraftSession.create("graft-verify", GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertNoDecimalOutput(df, name)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // drop any stale dump from a previous run so the checker can't
        // silently pass this query on old results
        val dir = Paths.get(outDir, name)
        if (Files.exists(dir)) {
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        }
      }
      finally spark.catalog.clearCache() // internal persists must not leak across queries
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // subset dev runs dump only the named queries — the oracle file
    // must match, or the checker's missing-dump completeness test
    // (which is how a lint-failed query stays RED on full runs) would
    // flag every un-dumped query
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
