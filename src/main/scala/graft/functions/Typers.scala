package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Null-on-failure field typers — the Spark-native equivalent of the
  * reference's per-field converter map (fieldtypers.py:13-31): a failed
  * parse yields NULL, never an error, and `""` maps to NULL
  * (dataimporter.py:148-155). All are built-in codegen'd expressions
  * (`try_to_timestamp` / `try_cast`), no UDFs — they stay inside
  * whole-stage codegen and vectorize over 100 TB scans.
  */
object Typers {
  /** Python's `%Y-%m-%d %H:%M:%S.%f` ≡ this Spark datetime pattern. */
  val OdnsTimestampFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** timestampTyper: parse or NULL (fieldtypers.py:13-17). */
  def tryOdnsTimestamp(c: Column): Column =
    try_to_timestamp(c, lit(OdnsTimestampFormat))

  /** floatTyper: numeric parse or NULL (fieldtypers.py:19-23). Python's
    * `float()` rejects a Java float-type suffix (`7d`, `1f`, ` 2.5D `)
    * that Spark's cast accepts, so a number ending in one is NULL;
    * `inf` keeps its value. */
  def tryDouble(c: Column): Column =
    when(c.rlike("[0-9.][dDfF]\\s*$"), lit(null).cast(DoubleType))
      .otherwise(c.try_cast(DoubleType))

  /** The reference keeps None for empty strings (dataimporter.py:152-155). */
  def emptyToNull(c: Column): Column = nullif(c, lit(""))

  /** scan_date from an archive filename via `\d{4}-\d{2}-\d{2}`
    * (zipFileUtils.py:25-35); NULL when absent. */
  def extractScanDate(c: Column): Column =
    nullif(regexp_extract(c, "\\d{4}-\\d{2}-\\d{2}", 0), lit(""))
}
