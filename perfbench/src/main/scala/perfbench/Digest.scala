package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The consuming action of every query operation: an order-independent
  * digest over every output column.
  *
  * A bare `.count()` lets Catalyst prune every column the count does not
  * need, so the query's projections would never run. Here each row is
  * hashed over all of its columns, with doubles rounded to float
  * precision (about seven significant digits, so summation order inside
  * the engine does not change the digest) and maps put in key order, and
  * the hashes are summed: the result ignores row order but not row
  * multiplicity.
  */
object Digest {

  final case class Result(rows: Long, schema: String, digest: String)

  private def canonical(c: Column, t: DataType): Column = t match {
    // + 0.0 folds -0.0 into 0.0
    case DoubleType | FloatType => (c.cast(DoubleType) + lit(0.0)).cast(FloatType)
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canonical(e.getField("key"), kt), canonical(e.getField("value"), vt))))
    case StructType(fields) =>
      struct(fields.toSeq.map(f => canonical(c.getField(f.name), f.dataType)): _*)
    case _ => c
  }

  /** Runs one job that reads every column of `df`. */
  def of(df: DataFrame): Result = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = named.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType)) :+ lit(0)
    val row = named.agg(count(lit(1)),
      sum(xxhash64(cells: _*).cast(DecimalType(38, 0))),
      sum(hash(cells: _*).cast(LongType))).first()
    val rows = row.getLong(0)
    val digest = if (rows == 0) "0" else s"$rows:${row.getDecimal(1)}:${row.getLong(2)}"
    Result(rows, df.schema.simpleString, digest)
  }
}
