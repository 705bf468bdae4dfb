package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's whole output: every column of
  * every row is hashed, so Spark cannot prune columns the way it does
  * for `count()`, and the result does not depend on row order or
  * partitioning.
  *
  * Doubles and floats are rendered with ten significant digits first,
  * so a different summation order (shuffle arrival order varies between
  * runs) does not change the digest. -0.0 counts as 0.0. */
object Digest {

  /** (row count, digest) — the digest is the decimal sum of one 64-bit
    * hash per row, which no row order can change and no overflow can
    * wrap. */
  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(quote(f.name)), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .collect().head
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  private def quote(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Rewrite `c` into a value that hashes the same however it was
    * computed: floating point rounded, maps as sorted entry arrays. */
  def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.9e", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(et, _) if needsRewrite(et) =>
      transform(c, x => normalize(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), kt).as("key"),
          normalize(e.getField("value"), vt).as("value"))))
    case StructType(fs) if fs.exists(f => needsRewrite(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def needsRewrite(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsRewrite(et)
    case StructType(fs) => fs.exists(f => needsRewrite(f.dataType))
    case _ => false
  }
}
