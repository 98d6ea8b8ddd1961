package graft.etl

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Distributed type vote as a typed Aggregator (the §2b UDAF surface).
  *
  * The reference votes by collecting a sampled value list to the client and
  * reducing a Python set (T3/T4, load_tables_daily.py:286–327). This is the
  * full-scan, fully-distributed equivalent: per-partition partial votes
  * reduce through the widening lattice (commutative/associative, so
  * map-side combine is sound), then merge. Buffer is the lattice element's
  * name; "" = bottom (no values seen).
  */
object TypeVoteAggregator extends Aggregator[String, String, String] {
  override def zero: String = ""

  private def widenNames(a: String, b: String): String =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else TypeInference.widen(DType.fromName(a), DType.fromName(b)).name

  override def reduce(buf: String, value: String): String =
    if (value == null) buf
    else widenNames(buf, TypeInference.guessType(value.trim).name)

  override def merge(b1: String, b2: String): String = widenNames(b1, b2)

  override def finish(buf: String): String =
    if (buf.isEmpty) DType.Text.name else buf

  override def bufferEncoder: Encoder[String] = Encoders.STRING
  override def outputEncoder: Encoder[String] = Encoders.STRING
}
