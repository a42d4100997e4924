package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive row digest, computed by the one action that forces
  * a result.
  *
  * Each row becomes a canonical string (columns sorted by name, joined
  * with U+001F; NULL as `\N`; fractional numbers as HALF_UP decimals
  * with 6 places; timestamps with microseconds). The digest is
  * `<rows>:<sum of the first 15 hex digits of each row's MD5>`, a
  * multiset hash. `oracle.py` computes the same canonical form from
  * DuckDB rows, so the two sides compare as strings. */
object Digest {

  private def canon(df: DataFrame, name: String): org.apache.spark.sql.Column = {
    val c = df.col(s"`$name`")
    val s = df.schema(name).dataType match {
      case FloatType | DoubleType | _: DecimalType =>
        // try_cast: NaN/Inf have no decimal form and become \N
        expr(s"try_cast(`$name` AS DECIMAL(38,6))").cast("string")
      case TimestampType | TimestampNTZType => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
      case DateType => date_format(c, "yyyy-MM-dd")
      case BooleanType | ByteType | ShortType | IntegerType | LongType | StringType =>
        c.cast("string")
      case other => throw new IllegalArgumentException(
        s"column $name: no canonical form for $other")
    }
    coalesce(s, lit("\\N"))
  }

  /** Forces `df` and returns (rows, digest). */
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(canon(df, _))
    val row = df.select(conv(substring(md5(concat_ws("\u001f", cols: _*)), 1, 15), 16, 10)
        .cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    val n = row.getLong(0)
    (n, s"$n:${row.getDecimal(1).toBigInteger}")
  }
}
