package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Try

/** Inferred logical column types — the reference's PG type vocabulary.
  *
  * Mirrors `guess_type` (reference load_tables_daily.py:118–152) and its
  * per-value detectors (:86–116). The widening lattice fixes the reference's
  * fall-through holes (`_determine_final_type`, load_tables_daily.py:307–327,
  * e.g. `{date, smallint}` silently widening to text) with a proper
  * commutative/associative/idempotent `widen` (property-tested).
  */
sealed abstract class DType(val name: String) extends Serializable
object DType {
  case object SmallInt  extends DType("smallint")
  case object Int32     extends DType("integer")
  case object Int64     extends DType("bigint")
  case object Num       extends DType("numeric")
  case object Bool      extends DType("boolean")
  case object DateD     extends DType("date")
  case object Timestamp extends DType("timestamp")
  case object Text      extends DType("text")

  val all: Seq[DType] =
    Seq(SmallInt, Int32, Int64, Num, Bool, DateD, Timestamp, Text)

  def fromName(n: String): DType =
    all.find(_.name == n).getOrElse(Text)

  /** Spark physical type for each inferred logical type. */
  def toSpark(t: DType): DataType = t match {
    case SmallInt  => ShortType
    case Int32     => IntegerType
    case Int64     => LongType
    case Num       => DecimalType(38, 18)
    case Bool      => BooleanType
    case DateD     => DateType
    case Timestamp => TimestampType
    case Text      => StringType
  }
}

object TypeInference {
  import DType._

  def isBool(s: String): Boolean =
    Set("true", "false", "t", "f").contains(s.toLowerCase)

  def isNumeric(s: String): Boolean =
    decimalSyntax(s) && { val d = s.trim.toDouble; !d.isNaN && !d.isInfinite }

  def isInteger(s: String): Boolean =
    Try(s.trim.toDouble).toOption.exists(d => d == Math.floor(d) && !d.isInfinite)

  /** The syntax `toDouble` accepts minus its letters (NaN, Infinity, hex,
    * the `d`/`f` suffixes): [sign] digits [. digits] [e [sign] digits],
    * surrounding whitespace allowed. Checked before `toDouble`, so a
    * non-numeric value costs no exception. */
  private def decimalSyntax(raw: String): Boolean = {
    val s = raw.trim
    val n = s.length
    def digitsFrom(i: Int): Int = { var j = i; while (j < n && s.charAt(j) >= '0' && s.charAt(j) <= '9') j += 1; j }
    var i = if (n > 0 && (s.charAt(0) == '+' || s.charAt(0) == '-')) 1 else 0
    var j = digitsFrom(i)
    var mantissa = j - i
    i = j
    if (i < n && s.charAt(i) == '.') { j = digitsFrom(i + 1); mantissa += j - i - 1; i = j }
    if (mantissa == 0) return false
    if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      i += 1
      if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
      j = digitsFrom(i)
      if (j == i) return false
      i = j
    }
    i == n
  }

  /** Per-value classifier — rule-for-rule mirror of guess_type
    * (load_tables_daily.py:118–152):
    *   - ""            → text        (:119–120)
    *   - "0"/"1"       → smallint    (:125–126, before the leading-zero rule)
    *   - leading zero  → text        (:128–129, preserves MRN-style IDs)
    *   - |v| ≤ 32767   → smallint    (:131)
    *   - |v| ≤ 2³¹−1   → integer     (:134)
    *   - other integer → bigint      (:136)
    *   - non-integer   → numeric     (:138)
    *   - true/false/t/f→ boolean     (:141–142)
    *   - temporal, midnight → date, else timestamp (:144–150), by the
    *     shapes of [[TemporalGrammar]]
    */
  def guessType(raw: String): DType = guessType(raw, lenient = false)

  /** [[guessType]] with the opt-in free-form date grammar: `lenient = true`
    * first canonicalizes word-month shapes ("March 4th, 2020") through
    * [[LenientTemporal.normalize]] — the deterministic stand-in for the
    * reference's dateutil leniency — and then classifies exactly as the
    * strict path does. Non-temporal values are untouched by normalize, so
    * every strict verdict is preserved.
    */
  def guessType(raw: String, lenient: Boolean): DType = {
    val s0 = raw.trim
    val s = if (lenient) LenientTemporal.normalize(s0) else s0
    if (s.isEmpty) return Text
    if (isNumeric(s)) {
      if (isInteger(s)) {
        if (s == "0" || s == "1") return SmallInt
        if (s.charAt(0) == '0') return Text
        val v = s.toDouble
        if (v >= -32768 && v <= 32767) SmallInt
        else if (v >= -2147483648.0 && v <= 2147483647.0) Int32
        // Beyond long range the reference still says "bigint"
        // (load_tables_daily.py:136 has no upper bound) and its ALTER then
        // fails at load time; we degrade to numeric while the value fits
        // DecimalType(38,18)'s 20 integer digits, else text — so narrow()
        // never feeds an unrepresentable value to an ANSI cast.
        else if (math.abs(v) <= 9.2e18) Int64
        else if (math.abs(v) < 1e20) Num
        else Text
      } else Num
    } else if (isBool(s)) Bool
    else TemporalGrammar.classify(s)
  }

  /** Pairwise widening — a proper join-semilattice (top = Text).
    * Chains: smallint < integer < bigint < numeric < text;
    *         date < timestamp < text; boolean < text.
    * Cross-chain combinations widen to text (fixing the reference's
    * `{date, integer} → integer` surprise and the `{date, smallint} → text`
    * silent fall-through by making every combination explicit).
    */
  def widen(a: DType, b: DType): DType = {
    if (a == b) return a
    def rankNum(t: DType): Option[Int] = t match {
      case SmallInt => Some(0); case Int32 => Some(1)
      case Int64 => Some(2);    case Num => Some(3)
      case _ => None
    }
    def rankTemporal(t: DType): Option[Int] = t match {
      case DateD => Some(0); case Timestamp => Some(1); case _ => None
    }
    (rankNum(a), rankNum(b)) match {
      case (Some(x), Some(y)) => if (x >= y) a else b
      case _ =>
        (rankTemporal(a), rankTemporal(b)) match {
          case (Some(x), Some(y)) => if (x >= y) a else b
          case _                  => Text
        }
    }
  }

  /** Column vote resolution (reference `_determine_final_type`,
    * load_tables_daily.py:307–327) — ours is `reduce(widen)`, total and
    * order-independent. Empty vote (all-null column) stays text, matching
    * the reference's all-text default.
    */
  def meet(types: Iterable[DType]): DType =
    if (types.isEmpty) Text else types.reduce(widen)

  /** Adaptive sample sizing (load_tables_daily.py:269–280). */
  def sampleSizeFor(recordCount: Long): Int =
    if (recordCount > 10000) 1000
    else if (recordCount > 1000) 500
    else recordCount.toInt

  /** Rows the sample-size probe counts at most: [[sampleSizeFor]] only
    * tells ≤1000 / ≤10000 / more apart — versus the reference's full
    * `count(*)` (load_tables_daily.py:258), which at 100 TB is a full scan
    * spent on picking a sample size. */
  private val CountCap = 10001

  /** The samples [[sampleSizeFor]] can pick once the count is past 1 000. */
  private val SamplePrefixes = Seq(500, 1000)

  /** Sampled per-column inference (Q1/Q2/Q5/Q6/T3) in ONE Spark job: each
    * partition counts its rows (up to 10 001) and votes every column over
    * its first rows, guess → widen per value; the caller then picks the
    * sample size from the count and combines the partitions' votes over
    * the file's first n rows. The sample is the first n rows in partition
    * order, so a scan split across cores votes the same rows as one split.
    *
    * A partition reports its running vote only where it widened (at most
    * five steps per column on the lattice), so the vote over any prefix is
    * the widening of each earlier partition's whole vote and one
    * partition's vote at a row index.
    *
    * The reference runs one `SELECT col WHERE col IS NOT NULL LIMIT n` per
    * column (load_tables_daily.py:287); a naive port launches one Spark job
    * per column — 500 job rounds on a 500-column extract, and each
    * `IS NOT NULL … LIMIT` probe can scan arbitrarily deep on a
    * mostly-null column. This job reads at most 10 001 rows per partition
    * regardless of table size or column count. Null values inside the
    * sample are skipped by the vote (an all-null column stays text,
    * matching the reference's all-text default). `sampleRows` fixes n and
    * skips the count.
    */
  def inferColumnTypes(df: DataFrame, sampleRows: Option[Int] = None,
                       lenient: Boolean = false): Map[String, DType] = {
    if (df.columns.isEmpty) return Map.empty
    val prefixes = sampleRows.fold(SamplePrefixes)(Seq(_))
    val (rows, votes) = prefixVotes(df, prefixes, sampleRows.fold(CountCap)(_ => 0), lenient)
    val n = sampleRows.getOrElse(sampleSizeFor(rows))
    // n ≤ 1000: with n = rows every prefix at or past it holds all rows
    val vote = votes(prefixes.find(_ >= n).getOrElse(prefixes.last))
    df.columns.zip(vote).map { case (c, v) => c -> (if (v < 0) Text else DType.all(v)) }.toMap
  }

  private val widenCode: Array[Array[Int]] =
    Array.tabulate(DType.all.size, DType.all.size)((a, b) =>
      DType.all.indexOf(widen(DType.all(a), DType.all(b))))

  /** The row count (each partition counting up to `countCap`) and, per
    * prefix length, the vote of every column over the first that many
    * rows as an index into [[DType.all]] (-1: no non-null value). */
  private def prefixVotes(df: DataFrame, prefixes: Seq[Int], countCap: Int,
                          lenient: Boolean): (Long, Map[Int, Array[Int]]) = {
    val width = df.columns.length
    val depth = prefixes.max
    val reads = math.max(depth, countCap)
    val join = widenCode
    val text = df.select(df.columns.map(c => col(c).cast(StringType)).toSeq: _*)
    // (partition, rows, per column the (row, vote) steps packed as row << 4 | vote)
    val parts = text.queryExecution.toRdd.mapPartitionsWithIndex { (p, it) =>
      val vote = Array.fill(width)(-1)
      val steps = Array.fill(width)(new scala.collection.mutable.ArrayBuilder.ofLong)
      var n = 0
      while (n < reads && it.hasNext) {
        val r = it.next()
        if (n < depth) {
          var c = 0
          while (c < width) {
            if (!r.isNullAt(c)) {
              val g = DType.all.indexOf(guessType(r.getUTF8String(c).toString, lenient))
              val w = if (vote(c) < 0) g else join(vote(c))(g)
              if (w != vote(c)) { vote(c) = w; steps(c) += (n.toLong << 4 | w) }
            }
            c += 1
          }
        }
        n += 1
      }
      Iterator.single((p, n, steps.map(_.result())))
    }.collect().sortBy(_._1)
    def voteOver(prefix: Int): Array[Int] = Array.tabulate(width) { c =>
      var acc = -1
      var left = prefix
      for ((_, n, steps) <- parts if left > 0) {
        val seen = math.min(left, n)
        // the partition's running vote after its first `seen` rows
        val last = steps(c).lastIndexWhere(s => (s >> 4) < seen)
        if (last >= 0) {
          val v = (steps(c)(last) & 15).toInt
          acc = if (acc < 0) v else join(acc)(v)
        }
        left -= seen
      }
      acc
    }
    (parts.map(_._2.toLong).sum, prefixes.map(p => p -> voteOver(p)).toMap)
  }

  /** D3 equivalent: one-shot functional cast rewrite instead of per-column
    * `ALTER COLUMN TYPE` mutations (load_tables_daily.py:296–305,422–426).
    * A single `select` keeps the whole narrowing inside one projection —
    * one pass over the data, fully codegen'd.
    *
    * Casts are inference-consistent, not plain ANSI casts: `guessType`
    * accepts integer-valued decimal/scientific strings ('2.0', '1.5e3') as
    * integral and non-ISO temporals ('3/14/2024') as date/timestamp, both of
    * which a direct ANSI `CAST` would reject at runtime. Integral targets
    * therefore route through a decimal intermediate (ANSI decimal→integral
    * truncates the fraction and only errors on overflow, which inference's
    * range rules already exclude) and temporals through `temporal_parse`,
    * the codegen'd form of the [[TemporalGrammar]] the vote used, so a
    * temporal value narrows exactly when the vote would have accepted it.
    * `try_cast` semantics throughout: a value
    * the sample never saw degrades to null instead of failing the load —
    * the sampled-inference contract (SURVEY §7 hard-part 1).
    */
  def narrow(df: DataFrame, types: Map[String, DType],
             lenient: Boolean = false): DataFrame = {
    graft.functions.NativeTextExpressions.register(df.sparkSession)
    val cols: Seq[Column] = df.columns.toSeq.map { c =>
      types.get(c) match {
        case Some(t) if t != Text => narrowColumn(col(c), t, lenient).as(c)
        case _                    => col(c)
      }
    }
    df.select(cols: _*)
  }

  private def narrowColumn(c: Column, t: DType, lenient: Boolean): Column = {
    // lenient narrowing canonicalizes free-form shapes scan-locally (the
    // codegen'd `lenient_temporal_norm`) before the same strict grammar —
    // so the cast path accepts exactly what lenient inference voted DATE
    def temporal(col: Column) = call_function("temporal_parse",
      if (lenient) call_function("lenient_temporal_norm", col) else col)
    t match {
      case SmallInt | Int32 | Int64 =>
        c.try_cast(DecimalType(38, 18)).try_cast(DType.toSpark(t))
      case Num       => c.try_cast(DecimalType(38, 18))
      case Bool      => c.try_cast(BooleanType)
      case DateD     => temporal(c).cast(DateType)
      case Timestamp => temporal(c)
      case Text      => c
    }
  }

  def inferAndNarrow(df: DataFrame, lenient: Boolean = false): DataFrame =
    narrow(df, inferColumnTypes(df, lenient = lenient), lenient)

  /** S6/D6: schema report DataFrame (column_name, inferred_type) — the
    * Spark analogue of data-type-pandas.py:15–31's `TABLE,COLUMN,TYPE` dump
    * and build_query's information_schema probe (vertica_upload.py:237–243).
    */
  def schemaReport(df: DataFrame, sampleRows: Option[Int] = None): Seq[(String, String)] =
    inferColumnTypes(df, sampleRows).toSeq
      .map { case (c, t) => (c, t.name) }
      .sortBy(_._1)

  /** D6 — DDL generation: emit a `CREATE TABLE` statement for a DataFrame's
    * schema, the analogue of `build_query`'s cross-engine DDL
    * (vertica_upload.py:245–283, including its `text→varchar` style type
    * rewrite — here the rewrite is Spark-type → SQL-type). Column order
    * follows the DataFrame; names are backtick-quoted.
    */
  def ddlFor(df: DataFrame, table: String): String = {
    val cols = df.schema.map { f =>
      val sqlType = f.dataType.sql
      s"`${f.name}` $sqlType"
    }
    s"CREATE TABLE IF NOT EXISTS `$table` (${cols.mkString(", ")})"
  }
}
