package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a whole DataFrame: the row count plus the sum,
  * mod 2^64, of one 64-bit hash per row over every column.
  *
  * The sum makes it a multiset hash: row order and partitioning do not
  * change it, while a duplicated or missing row does. Hashing every column
  * forces the engine to compute every output column, which a `count()`
  * does not (Catalyst prunes the columns a count never reads).
  *
  * Canonical form, the same as `tools/check.py` compares: columns in name
  * order, integers of any width as bigint, floats as doubles with the sign
  * of zero kept, dates and timestamps as strings, and a null flag per value
  * so that a null never hashes like an absent column. The column names, in
  * that order, are hashed into every row, so that a renamed column changes
  * the digest even where it keeps its place in the order. */
object Digest {

  final case class Value(rows: Long, hash: Long) {
    override def toString: String = f"$rows%d:$hash%016x"
  }

  def parse(s: String): Value = {
    val Array(r, h) = s.split(":")
    Value(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case FloatType | DoubleType =>
      val d = c.cast(DoubleType)
      // xxhash64 folds -0.0 into 0.0; check.py compares IEEE bits, so keep the sign
      struct(d, when(d === 0.0, d.cast(StringType).startsWith("-")).otherwise(lit(false)))
    case t: DecimalType if t.scale == 0 => c.cast(LongType)
    case _: DecimalType => canon(c.cast(DoubleType), DoubleType)
    case DateType | TimestampType | TimestampNTZType => c.cast(StringType)
    case NullType => lit(null).cast(LongType)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fields) => struct(fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** One aggregate job over every row and column of `df`. */
  def of(df: DataFrame): Value = {
    // positional names first: output columns may repeat a name
    val renamed = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val inNameOrder = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val names = inNameOrder.toIndexedSeq.map { case (f, _) => lit(f.name) }
    val parts = inNameOrder.toIndexedSeq.flatMap { case (f, i) =>
      val c = col(s"_c$i")
      Seq(c.isNull, canon(c, f.dataType))
    }
    val r = renamed.select(xxhash64(names ++ parts: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    // sum(lo) + 2^32 * sum(hi) is the sum of the row hashes mod 2^64
    Value(r.getLong(0), r.getLong(1) + (r.getLong(2) << 32))
  }
}
