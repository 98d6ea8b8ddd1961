package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TimeZoneAwareExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native (single-eval-per-row) expressions for the dedup hot path.
  *
  * The higher-order-function formulations in [[TextFunctions]] are correct
  * and fully declarative, but Spark evaluates HOF lambdas interpretively
  * per element — a 400-shingle × 16-lane signature costs ~6 400 interpreted
  * expression evaluations per document. These expressions do the identical
  * work in one tight JVM loop per row (CodegenFallback: one virtual call
  * per row, loops JIT-compiled), which is the preference order the engine
  * follows: built-ins first, then a native expression, before ever reaching
  * for mapPartitions. Hashes are XXH64, same family as Spark's `xxhash64`.
  *
  * CodegenFallback is the right trade for PER-DOCUMENT expressions (one
  * virtual call per row amortizes over the loop inside), but NOT for the
  * PER-PAIR verify kernels ([[SortedDot]], [[SortedLongJaccard]]): those
  * run 10⁷+ times per query inside a join's inner loop, where the
  * fallback's per-call row adaptor and boxed eval dominated the whole
  * query (measured 41 µs/pair on the q148 verify — ~400× the merge loop
  * itself). Those two implement `doGenCode` as one call into their merge
  * kernel ([[jaccardSorted]], [[sortedDot]]), which their eval also
  * calls, so the merge stays inside whole-stage codegen.
  */
object NativeTextExpressions {

  /** Distinct sorted XXH64 hashes of the character k-shingles of the input
    * string (which should be pre-lowercased; sorting makes the set
    * canonical and enables merge-join Jaccard).
    */
  case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes"

    override def nullSafeEval(input: Any): Any = {
      // r18 (guide §1.2 step 2): the original loop called
      // `s.substring(i, i+k)` per character position — UTF8String
      // re-walks from byte 0 to find the i-th char boundary on EVERY
      // call, making the pass O(n²) in document length (measured 1.7 s
      // of q36's 3.5 s at sf0.1 over ~5 KB docs; 100 KB documents would
      // pay 400× more per byte) — and boxed every hash into a HashSet.
      // Now: ONE linear pass records each character's byte offset, each
      // shingle hashes its byte slice in place (same bytes, same seed —
      // hash values bit-identical, spec-pinned vs the substring form),
      // and dedup is sort + squeeze on a primitive array.
      val s = input.asInstanceOf[UTF8String]
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val nBytes = s.numBytes
      val nChars = s.numChars()
      val offs = new Array[Int](nChars + 1)
      var ci = 0
      var b = 0
      while (b < nBytes) {
        offs(ci) = b
        b += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
        ci += 1
      }
      offs(nChars) = nBytes
      val last = math.max(nChars - k, 0)
      val hs = new Array[Long](last + 1)
      var i = 0
      while (i <= last) {
        val from = offs(i)
        val until = offs(math.min(i + k, nChars))
        hs(i) = XXH64.hashUnsafeBytes(base, off + from, until - from, 42L)
        i += 1
      }
      new GenericArrayData(sortedDistinct(hs, hs.length))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Winnowing fingerprints (the MOSS scheme) in ONE fused pass: base-31
    * rolling hashes of the character `k`-grams (the q175/q197 portable
    * fold — (acc·31 + codepoint) mod 1e9+7, replayable in any engine),
    * then the minimum of every window of `w` consecutive gram hashes,
    * deduplicated and sorted. Bit-identical to the HOF formulation
    * (filter/transform/slice/array_min — parity-spec'd) but without the
    * interpreted per-element lambda evaluation: the HOF form costs ~10×
    * (5.3 s vs 0.5 s for its family at sf0.01) because every gram hash
    * and window min is an interpreted expression-tree walk.
    */
  case class WinnowHashes(child: Expression, k: Int, w: Int)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "winnow_hashes"

    override def nullSafeEval(input: Any): Any = {
      val cps = input.asInstanceOf[UTF8String].toString
        .codePoints().toArray
      val n = cps.length
      if (n < k + w - 1) return new GenericArrayData(Array.emptyLongArray)
      val nh = n - k + 1
      val hashes = new Array[Long](nh)
      var i = 0
      while (i < nh) {
        var h = 0L
        var j = 0
        while (j < k) { h = (h * 31 + cps(i + j)) % 1000000007L; j += 1 }
        hashes(i) = h
        i += 1
      }
      val mins = new Array[Long](nh - w + 1)
      var s = 0
      while (s <= nh - w) {
        var m = hashes(s)
        var j = 1
        while (j < w) { if (hashes(s + j) < m) m = hashes(s + j); j += 1 }
        mins(s) = m
        s += 1
      }
      new GenericArrayData(sortedDistinct(mins, mins.length))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Content-defined chunk boundaries in ONE fused pass: 1-based
    * positions i ∈ [w, len] where the base-31 fold of the trailing
    * `w`-codepoint window ≡ 0 mod `mask` — the q175 boundary rule with
    * the identical portable arithmetic ((acc·31 + codepoint) mod 1e9+7),
    * minus the interpreted per-position lambda walk (the q197 lesson:
    * ~30× on the same math). Chunk slicing/hashing stays declarative on
    * top, so the DuckDB oracle replay is unchanged.
    */
  case class CdcCuts(child: Expression, w: Int, mask: Int)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "cdc_cuts"

    override def nullSafeEval(input: Any): Any = {
      val cps = input.asInstanceOf[UTF8String].toString
        .codePoints().toArray
      val n = cps.length
      if (n < w) return new GenericArrayData(Array.emptyIntArray)
      val out = new scala.collection.mutable.ArrayBuffer[Int]()
      var i = w - 1
      while (i < n) {
        var h = 0L
        var j = i - (w - 1)
        while (j <= i) { h = (h * 31 + cps(j)) % 1000000007L; j += 1 }
        if (h % mask == 0) out += i + 1
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** MinHash signature from a shingle-hash array: lane i = min over the set
    * of XXH64(h, seed=i). Min over a multiset equals min over the set, so
    * no dedup is needed here.
    */
  case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"minhash_sig expects array<bigint>, got ${other.simpleString}")
    }

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = hs.getLong(i)
        var lane = 0
        while (lane < numHashes) {
          val v = XXH64.hashLong(h, lane)
          if (v < sig(lane)) sig(lane) = v
          lane += 1
        }
        i += 1
      }
      new GenericArrayData(sig)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Jaccard similarity of two SORTED long arrays via a single merge pass —
    * O(|a|+|b|) with no per-element boxing (vs hash-set based
    * array_intersect/array_union). Eval and codegen both call
    * [[jaccardSorted]].
    */
  case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "jaccard_sorted"
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("jaccard_sorted expects two array<bigint>")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) =>
        s"${ev.value} = graft.functions.NativeTextExpressions.jaccardSorted($x, $y);")

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The merge-pass Jaccard of two ascending long sets: |x ∩ y| / |x ∪ y|
    * in long counts, 0.0 when both are empty. The one kernel of
    * `jaccard_sorted` (eval and generated code) and of the grid verify
    * ([[graft.operators.Dedup.gridJaccardVerify]]), so every verify route
    * gives the same doubles.
    */
  def jaccardSorted(x: ArrayData, y: ArrayData): Double = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val union = nx.toLong + ny - inter
    if (union == 0L) 0.0 else inter.toDouble / union
  }

  /** Sparse dot product over two vectors stored as (sorted key array,
    * aligned value array) — one merge-join pass, O(|a| + |b|). The
    * verify step of the weighted prefix join runs this per candidate
    * pair; a map<long,double> formulation costs O(|a|·|b|) because
    * Catalyst map lookup is a linear scan, which turned the verify into
    * the bottleneck at 10⁷ candidates. Keys MUST be sorted ascending
    * (the builder sorts by (df, tok) then re-sorts by tok for this).
    * Eval and codegen both call [[sortedDot]].
    */
  case class SortedDot(children: Seq[Expression])
    extends Expression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = children.exists(_.nullable)
    override def prettyName: String = "sorted_dot"
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = children.length == 4 &&
        children(0).dataType.isInstanceOf[ArrayType] &&
        children(0).dataType.asInstanceOf[ArrayType].elementType == LongType &&
        children(1).dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
        children(2).dataType.asInstanceOf[ArrayType].elementType == LongType &&
        children(3).dataType.asInstanceOf[ArrayType].elementType == DoubleType
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "sorted_dot expects (array<bigint>, array<double>, array<bigint>, array<double>)")
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val ka = children(0).eval(input); val va = children(1).eval(input)
      val kb = children(2).eval(input); val vb = children(3).eval(input)
      if (ka == null || va == null || kb == null || vb == null) null
      else sortedDot(ka.asInstanceOf[ArrayData], va.asInstanceOf[ArrayData],
        kb.asInstanceOf[ArrayData], vb.asInstanceOf[ArrayData])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val gs = children.map(_.genCode(ctx))
      val resultCode =
        code"""
          |${gs(0).code}
          |${gs(1).code}
          |${gs(2).code}
          |${gs(3).code}
          |boolean ${ev.isNull} = ${gs(0).isNull} || ${gs(1).isNull} ||
          |  ${gs(2).isNull} || ${gs(3).isNull};
          |double ${ev.value} = 0.0d;
          |if (!${ev.isNull}) {
          |  ${ev.value} = graft.functions.NativeTextExpressions.sortedDot(
          |    ${gs(0).value}, ${gs(1).value}, ${gs(2).value}, ${gs(3).value});
          |}
        """.stripMargin
      ev.copy(code = resultCode)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
  }

  /** The merge-pass dot product of two sparse vectors (ascending keys,
    * aligned values), accumulated in key order: the one kernel of
    * `sorted_dot`'s eval and generated code.
    */
  def sortedDot(xk: ArrayData, xv: ArrayData, yk: ArrayData, yv: ArrayData): Double = {
    val nx = xk.numElements(); val ny = yk.numElements()
    var i = 0; var j = 0; var dot = 0.0d
    while (i < nx && j < ny) {
      val a = xk.getLong(i); val b = yk.getLong(j)
      if (a == b) { dot += xv.getDouble(i) * yv.getDouble(j); i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    dot
  }

  /** Membership probe against a serialized `spark.util.sketch`
    * BloomFilter riding the plan as a (foldable) binary literal — the
    * scan-local prune of [[graft.operators.BloomJoin]]. The filter is
    * deserialized lazily once per task, so the per-row cost is the
    * bloom's k hash probes, no closure capture and no driver traffic.
    *
    * Codegen'd (not CodegenFallback): this sits in scan-side FILTERs of
    * arbitrarily large fact scans, where the fallback's per-row virtual
    * eval + Long boxing is the q148 per-pair lesson in per-row form.
    * Same shape as the engine's own runtime-filter probe
    * (`BloomFilterMightContain`): the deserialized filter rides the
    * generated class's references array via `addReferenceObj`
    * (`BloomFilterImpl` is `java.io.Serializable`), so executors get it
    * with the plan, once, not per row.
    */
  case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "bloom_might_contain"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (LongType, BinaryType) if right.foldable => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          "bloom_might_contain expects (bigint, foldable binary)")
      }
    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(right.eval(null).asInstanceOf[Array[Byte]]))
    override def nullSafeEval(k: Any, b: Any): Any =
      bloom.mightContainLong(k.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bf = ctx.addReferenceObj("graftBloomFilter", bloom,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      val leftGen = left.genCode(ctx)
      val resultCode =
        code"""
          |${leftGen.code}
          |boolean ${ev.isNull} = ${leftGen.isNull};
          |boolean ${ev.value} = false;
          |if (!${ev.isNull}) {
          |  ${ev.value} = $bf.mightContainLong(${leftGen.value});
          |}
        """.stripMargin
      ev.copy(code = resultCode)
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** 64-bit SimHash over whitespace tokens of the lowercased input — one
    * pass, no intermediate arrays: per bit, the sign of the ±1 votes of
    * the tokens' hashes. It splits on `Character.isWhitespace`, which
    * also takes unicode separators, so it keeps its own char walk rather
    * than the regex-`\s` [[Tokens]] cursor of the other word-level
    * expressions.
    */
  case class SimHash(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64_native"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toLowerCase.toString
      val counts = new Array[Int](64)
      var start = 0
      val len = s.length
      var i = 0
      while (i <= len) {
        if (i == len || Character.isWhitespace(s.charAt(i))) {
          if (i > start) {
            val tok = UTF8String.fromString(s.substring(start, i))
            val h = XXH64.hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset, tok.numBytes, 42L)
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
              b += 1
            }
          }
          start = i + 1
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The one word tokenizer of the word-level expressions: a cursor over
    * the tokens `split(s, "\\s+")` gives minus its empty strings, i.e. the
    * maximal runs outside the regex `\s` class (space, `\t`, `\n`,
    * `\u000B`, `\f`, `\r` — not Character.isWhitespace, which also takes
    * unicode separators). The separators are ASCII and every byte of a
    * multibyte UTF-8 character has its high bit set, so walking the bytes
    * finds the same boundaries as walking the chars. A token is never
    * copied: after `next()` returns true it is the bytes
    * `[start, end)` of `s`.
    */
  private[graft] final class Tokens(s: UTF8String) {
    private val base = s.getBaseObject
    private val off = s.getBaseOffset
    private val n = s.numBytes
    var start = 0
    var end = 0

    /** Moves to the next token; false once there is none. */
    def next(): Boolean = {
      var i = end
      while (i < n && isSpace(i)) i += 1
      if (i == n) return false
      start = i
      while (i < n && !isSpace(i)) i += 1
      end = i
      true
    }

    // ' ' or one of \t \n \u000B \f \r (0x09–0x0D)
    private def isSpace(i: Int): Boolean = {
      val b = Platform.getByte(base, off + i)
      b == ' ' || (b >= '\t' && b <= '\r')
    }

    /** XXH64 (seed 42, Catalyst's `xxhash64`) of the token's bytes. */
    def hash: Long = XXH64.hashUnsafeBytes(base, off + start, end - start, 42L)

    /** The token as a view on `s`'s bytes. */
    def token: UTF8String = UTF8String.fromAddress(base, off + start, end - start)

    /** The token's length in code points, as Spark's `length()` counts:
      * one per byte that does not continue a UTF-8 sequence. */
    def numChars: Int = {
      var chars = 0
      var i = start
      while (i < end) {
        if ((Platform.getByte(base, off + i) & 0xC0) != 0x80) chars += 1
        i += 1
      }
      chars
    }
  }

  /** The distinct values of `hs[0, n)`, sorted — in place, then trimmed. */
  private def sortedDistinct(hs: Array[Long], n: Int): Array[Long] = {
    if (n == 0) return Array.emptyLongArray
    java.util.Arrays.sort(hs, 0, n)
    var w = 0
    var r = 1
    while (r < n) {
      if (hs(r) != hs(w)) { w += 1; hs(w) = hs(r) }
      r += 1
    }
    java.util.Arrays.copyOf(hs, w + 1)
  }

  /** Per-document term frequencies in ONE scan-local pass (r18, guide
    * §2.3 "aggregate before you shuffle"): lowercases like `lower()`
    * (the same UTF8String.toLowerCase), tokenizes with [[Tokens]],
    * XXH64-hashes each token's bytes in place (seed 42 = Catalyst's
    * `xxhash64`), and run-length encodes the sorted hashes into
    * `array<struct<tok:long, tf:long>>`. Term frequency is a
    * PER-DOCUMENT quantity, so the explode → groupBy(id, term)
    * formulation paid a full exchange of every term occurrence to
    * compute it; exploding this array instead yields the identical
    * (id, tok, tf) rows with zero shuffle — hashes, tokens, and counts
    * bit-identical to the relational form (spec-pinned on random
    * unicode).
    */
  case class WordTfEntries(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("tok", LongType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "word_tf_entries"

    override def nullSafeEval(input: Any): Any = {
      val cur = new Tokens(input.asInstanceOf[UTF8String].toLowerCase)
      var hs = new Array[Long](16)
      var cnt = 0
      while (cur.next()) {
        if (cnt == hs.length) hs = java.util.Arrays.copyOf(hs, cnt * 2)
        hs(cnt) = cur.hash
        cnt += 1
      }
      if (cnt == 0) return new GenericArrayData(Array.empty[Any])
      java.util.Arrays.sort(hs, 0, cnt)
      val out = new java.util.ArrayList[Any](cnt)
      var r = 0
      while (r < cnt) {
        var e = r + 1
        while (e < cnt && hs(e) == hs(r)) e += 1
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](hs(r), (e - r).toLong)))
        r = e
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Count of non-empty whitespace-separated tokens — one pass, no token
    * array materialized. Same result as
    * `size(filter(split(lower(text), "\\s+"), t => length(t) > 0))`
    * ([[TextFunctions.tokenCount]]) at one scan-local loop per row; the
    * filter/quality hot path (q32/q34) runs this per document.
    * Lowercasing changes no separator, so the count skips it.
    */
  case class TokenCount(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "token_count_native"

    override def nullSafeEval(input: Any): Any = {
      val cur = new Tokens(input.asInstanceOf[UTF8String])
      var count = 0
      while (cur.next()) count += 1
      count
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Count of lowercased tokens that are stopwords (the q32 quality
    * signal) — single pass, one set probe per token by its bytes, no
    * arrays.
    */
  case class StopwordCount(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "stopword_count_native"

    override def nullSafeEval(input: Any): Any = {
      val cur = new Tokens(input.asInstanceOf[UTF8String].toLowerCase)
      var count = 0
      while (cur.next()) if (stopwordSet.contains(cur.token)) count += 1
      count
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct XXH64 hashes of the space-joined lowercased word n-grams —
    * exactly the values of `xxhash64(explode(wordNgrams(text, n)))` (seed
    * 42, same clipped-final-window semantics incl. the single
    * whole-document gram for docs shorter than n and the "" gram for empty
    * docs), in one loop per row instead of per-element interpreted HOF
    * lambdas. The decontamination hot path: only hashes ever leave the
    * scan; each gram's bytes are joined in one reused buffer.
    */
  case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression with StringInput with CodegenFallback {
    require(n > 0, "n must be positive")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "word_ngram_hashes"

    override def nullSafeEval(input: Any): Any = {
      val cur = new Tokens(input.asInstanceOf[UTF8String].toLowerCase)
      val toks = new java.util.ArrayList[UTF8String]()
      while (cur.next()) toks.add(cur.token)
      val t = toks.size
      val lastStart = math.max(t - n, 0)
      val hs = new Array[Long](lastStart + 1)
      var buf = new Array[Byte](64)
      var st = 0
      while (st <= lastStart) {
        var len = 0
        var j = st
        val end = math.min(st + n, t)
        while (j < end) {
          val tok = toks.get(j)
          val need = len + 1 + tok.numBytes
          if (need > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
          if (j > st) { buf(len) = ' '; len += 1 }
          tok.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += tok.numBytes
          j += 1
        }
        hs(st) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
        st += 1
      }
      new GenericArrayData(sortedDistinct(hs, hs.length))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** All four repetition/diversity signals in one token walk per document:
    * token count, distinct-token count, total token length (in code
    * points, as Spark's `length()` counts), and the count of the most
    * frequent adjacent bigram. Replaces a 2-scan + 2-shuffle + join
    * relational formulation in QualityRules with a single scan-local
    * eval — the quantity is per-document, so nothing about it needs to
    * leave the row. Tokens are keyed by their bytes; a bigram is the
    * pair of its tokens' first-seen ordinals.
    */
  case class TokenProfile(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("distinct_tokens", IntegerType, nullable = false),
      StructField("sum_token_len", LongType, nullable = false),
      StructField("top_bigram_count", IntegerType, nullable = false)))
    override def prettyName: String = "token_profile"

    override def nullSafeEval(input: Any): Any = {
      val cur = new Tokens(input.asInstanceOf[UTF8String].toLowerCase)
      val ids = new java.util.HashMap[UTF8String, Int]()
      val bigrams = new java.util.HashMap[Long, Int]()
      var n = 0
      var sumLen = 0L
      var top = 0
      var prev = -1L
      while (cur.next()) {
        n += 1
        sumLen += cur.numChars
        val id = ids.computeIfAbsent(cur.token, _ => ids.size)
        if (prev >= 0) {
          val c = bigrams.merge((prev << 32) | id, 1, Integer.sum)
          if (c > top) top = c
        }
        prev = id
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, ids.size, sumLen, top))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Punctuation character ratio (0.0 when empty) — same result as the
    * regexp_replace-based [[TextFunctions.punctRatio]] without running a
    * regex engine per row: punctuation count over the length in code
    * points (Spark's `length()`). The punctuation set is ASCII, and no
    * byte of a multibyte UTF-8 character is, so the count walks the
    * bytes in place.
    */
  case class PunctRatio(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "punct_ratio_native"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val n = s.numChars
      if (n == 0) 0.0
      else {
        val base = s.getBaseObject
        val off = s.getBaseOffset
        var punct = 0
        var i = 0
        while (i < s.numBytes) {
          val c = Platform.getByte(base, off + i)
          if (c == '.' || c == '!' || c == '?' || c == ',' || c == ';' || c == ':')
            punct += 1
          i += 1
        }
        punct.toDouble / n
      }
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** DEFLATE-compressed byte length of the input string's UTF-8 bytes
    * (raw deflate, no zlib/gzip header, fixed compression level). The
    * compression-ratio quality signal of the Gopher/CCNet family: highly
    * repetitive machine-generated text compresses far below natural
    * language, and near-random strings don't compress at all — so
    * `deflate_len(text) / octet_length(text)` separates the two ends with
    * a single scan-local number. One Deflater per (thread, expression),
    * reset per row — no per-row allocation; output depends only on the
    * input bytes and level, so the signal is deterministic and cacheable.
    */
  case class DeflateLen(child: Expression, level: Int)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "deflate_len"

    @transient private lazy val deflater: ThreadLocal[java.util.zip.Deflater] =
      ThreadLocal.withInitial(() => new java.util.zip.Deflater(level, true))
    @transient private lazy val outBuf: ThreadLocal[Array[Byte]] =
      ThreadLocal.withInitial(() => new Array[Byte](16 * 1024))

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val d = deflater.get()
      d.reset()
      d.setInput(bytes)
      d.finish()
      val buf = outBuf.get()
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val stopwordSet: java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    TextFunctions.stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** The type check of the expressions over one string: `StringType`
    * only, failing as "<name> expects string, got <type>". */
  private[graft] trait StringInput extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${child.dataType.simpleString}")
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def litBool(e: Expression, what: String): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(s"$what must be a boolean literal, got $other")
  }

  private def litDbl(e: Expression, what: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, DoubleType) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v.toDouble
    // the SQL parser types `0.5999` as DECIMAL — accept it (exact decimal
    // → nearest double, the same binding Scala gives the source literal)
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.sql.types.Decimal, _: DecimalType) =>
      v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  /** Pack one block of sorted sparse vectors — (id, sorted key array,
    * aligned value array) rows — into a single blob:
    * [n:int][ids: n×long][offs: (n+1)×int cumulative entry counts]
    * [keys: total×long][vals: total×double], rows sorted by id.
    * The blocked brute verify ([[SortedDotBlockPairs]]) walks pairs of
    * these blobs so candidate PAIRS never exist as join rows — the r18
    * NLJ brute regime paid ~10 µs of per-pair row machinery around a
    * ~1 µs merge loop (guide §1.2 step 2).
    */
  case class PackSparseVecBlock(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "pack_sparse_vec_block"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(s: StructType, _)
        if s.length == 3 && s(0).dataType == LongType &&
          s(1).dataType.isInstanceOf[ArrayType] &&
          s(1).dataType.asInstanceOf[ArrayType].elementType == LongType &&
          s(2).dataType.isInstanceOf[ArrayType] &&
          s(2).dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pack_sparse_vec_block expects array<struct<id:long,ks:array<bigint>,vs:array<double>>>, got ${other.simpleString}")
    }

    override def nullSafeEval(input: Any): Any = {
      val entries = input.asInstanceOf[ArrayData]
      val n = entries.numElements()
      val rows = Array.tabulate(n) { i =>
        val e = entries.getStruct(i, 3)
        (e.getLong(0), e.getArray(1).toLongArray(), e.getArray(2).toDoubleArray())
      }.sortBy(_._1)
      var total = 0
      rows.foreach { case (_, ks, vs) =>
        require(ks.length == vs.length,
          "pack_sparse_vec_block: key/value arrays misaligned")
        total += ks.length
      }
      val buf = java.nio.ByteBuffer.allocate(
        4 + n * 8 + (n + 1) * 4 + total * 8 + total * 8)
      buf.putInt(n)
      rows.foreach { case (id, _, _) => buf.putLong(id) }
      var off = 0
      buf.putInt(0)
      rows.foreach { case (_, ks, _) => off += ks.length; buf.putInt(off) }
      rows.foreach { case (_, ks, _) => ks.foreach(buf.putLong) }
      rows.foreach { case (_, _, vs) => vs.foreach(buf.putDouble) }
      buf.array()
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Decoded view of one packed block. Decoding materializes the blob
    * into primitive arrays ONCE per kernel call — the merge loops then
    * run on plain long[]/double[] indexing. (The first cut read every
    * element through ByteBuffer.getLong inside the merge: bounds check +
    * big-endian assembly per step made the blocked q136 5× SLOWER than
    * the per-pair NLJ at sf1; one bulk decode per call is ~60× fewer
    * buffer reads than per-merge access at blockRows=32.)
    */
  private final class SparseBlock(blob: Array[Byte]) {
    private val buf = java.nio.ByteBuffer.wrap(blob)
    val n: Int = buf.getInt()
    val ids: Array[Long] = Array.fill(n)(buf.getLong())
    val offs: Array[Int] = Array.fill(n + 1)(buf.getInt())
    private val total = offs(n)
    val keys: Array[Long] = Array.fill(total)(buf.getLong())
    val vals: Array[Double] = Array.fill(total)(buf.getDouble())
  }

  /** All qualifying pairs between two [[PackSparseVecBlock]] blobs — the
    * blocked form of `sorted_dot` + threshold: for every cross pair (or
    * i<j within one blob when `same`), one merge-join dot in the exact
    * [[SortedDot]] accumulation order; pairs with dot ≥ `minDot` emit as
    * (id_a, id_b, dot), id_a < id_b. `minDot` must carry the caller's
    * rounding slack (round-to-4 moves a value by ≤ 5e-5): the kernel
    * PRUNES, the relational round+filter downstream DECIDES membership —
    * the PPJoin stance, so the emitted dots are bit-identical to the
    * per-pair NLJ form's.
    */
  case class SortedDotBlockPairs(first: Expression, second: Expression,
                                 minDot: Double, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {
    override def third: Expression = fourth
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("dot", DoubleType, nullable = false))), containsNull = false)
    override def prettyName: String = "sorted_dot_block_pairs"
    override def checkInputDataTypes(): TypeCheckResult =
      if (first.dataType == BinaryType && second.dataType == BinaryType &&
        fourth.dataType == BooleanType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "sorted_dot_block_pairs expects (binary, binary, <minDot literal>, boolean)")

    override def nullSafeEval(a: Any, b: Any, s: Any): Any = {
      val ba = new SparseBlock(a.asInstanceOf[Array[Byte]])
      val bb = new SparseBlock(b.asInstanceOf[Array[Byte]])
      val same = s.asInstanceOf[Boolean]
      val (na, aIds, aOffs, aKeys, aVals) = (ba.n, ba.ids, ba.offs, ba.keys, ba.vals)
      val (nb, bIds, bOffs, bKeys, bVals) = (bb.n, bb.ids, bb.offs, bb.keys, bb.vals)
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      var i = 0
      while (i < na) {
        val ps = aOffs(i); val pe = aOffs(i + 1); val ida = aIds(i)
        var j = if (same) i + 1 else 0
        while (j < nb) {
          // [[sortedDot]]'s merge, over ranges of the decoded arrays: the
          // ArrayData kernel would need a copy per pair, or a branch on
          // which caller it serves
          var p = ps
          var q = bOffs(j); val qe = bOffs(j + 1)
          var dot = 0.0d
          while (p < pe && q < qe) {
            val x = aKeys(p); val y = bKeys(q)
            if (x == y) { dot += aVals(p) * bVals(q); p += 1; q += 1 }
            else if (x < y) p += 1
            else q += 1
          }
          if (dot >= minDot && ida != bIds(j)) {
            val (lo, hi) = if (ida < bIds(j)) (ida, bIds(j)) else (bIds(j), ida)
            out += org.apache.spark.sql.catalyst.InternalRow(lo, hi, dot)
          }
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, fourth = newThird)
  }

  /** Unicode canonical form for dedup/join keys: lowercase → NFKD
    * decomposition → drop combining marks (é→e, ﬁ→fi via the
    * compatibility mapping) → every non-alphanumeric run becomes one
    * space → trim. One code-point loop per row (surrogate-pair safe, so
    * non-BMP letters survive), no regex engine in the hot path. The
    * canonical form is what exact-dedup families (q30, q77) should key
    * on when the corpus carries case/diacritic/punctuation noise —
    * without it "Café  Noir!" and "cafe noir" land in different buckets.
    */
  case class CanonText(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "canon_text"

    override def nullSafeEval(input: Any): Any = {
      // NFKD BEFORE lowercasing: compatibility forms can decompose to
      // uppercase (𝒜 → A), which a pre-normalization lowercase would miss
      val norm = java.text.Normalizer.normalize(
        input.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFKD)
        .toLowerCase(java.util.Locale.ROOT)
      val sb = new java.lang.StringBuilder(norm.length)
      var pendingSpace = false
      var i = 0
      while (i < norm.length) {
        val cp = norm.codePointAt(i)
        val t = Character.getType(cp)
        if (t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
            t == Character.ENCLOSING_MARK) {
          () // dropped diacritic: not a separator, not emitted
        } else if (Character.isLetterOrDigit(cp)) {
          if (pendingSpace && sb.length > 0) sb.append(' ')
          pendingSpace = false
          sb.appendCodePoint(cp)
        } else {
          pendingSpace = true
        }
        i += Character.charCount(cp)
      }
      UTF8String.fromString(sb.toString)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[graft.etl.TemporalGrammar]] as a native expression: the value as a
    * session-zone timestamp if it has one of the grammar's shapes, else
    * null. It is the narrowing cast of date and timestamp columns
    * (TypeInference.narrow), one parse per value, and it accepts exactly
    * the strings the type vote calls temporal; `temporal_parse(s, true)`
    * adds the lenient word-order shapes, as the lenient vote does. Codegen
    * keeps one reusable field holder per task, so a value parses without
    * allocating or throwing.
    */
  case class TemporalParse(child: Expression, lenient: Boolean = false,
                           timeZoneId: Option[String] = None)
    extends UnaryExpression with StringInput with TimeZoneAwareExpression {
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = true
    override def prettyName: String = "temporal_parse"
    override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
      copy(timeZoneId = Option(timeZoneId))

    @transient private lazy val fields = new graft.etl.TemporalFields

    override def nullSafeEval(input: Any): Any =
      if (graft.etl.TemporalGrammar.parse(input.asInstanceOf[UTF8String].toString, fields, lenient))
        graft.etl.TemporalGrammar.toMicros(fields, zoneId)
      else null

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val holder = classOf[graft.etl.TemporalFields].getName
      val f = ctx.addMutableState(holder, "temporalFields", v => s"$v = new $holder();")
      val zone = ctx.addReferenceObj("zoneId", zoneId, classOf[java.time.ZoneId].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"""
           |if (graft.etl.TemporalGrammar.parse($c.toString(), $f, $lenient)) {
           |  ${ev.value} = graft.etl.TemporalGrammar.toMicros($f, $zone);
           |} else {
           |  ${ev.isNull} = true;
           |}
         """.stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** (name → builder) for every native function. `GraftExtensions` puts
    * them on a session, with [[VectorFunctions.builders]]: at session build
    * through `spark.sql.extensions`, or by `GraftExtensions.install`.
    *
    * `graft_bloom_agg` is Spark's own `BloomFilterAggregate` (the
    * runtime-filter aggregate, a `TypedImperativeAggregate`) under a graft
    * name: its buffer is the live `util.sketch.BloomFilter`, serialized
    * (its `writeTo`, the bytes `SkippingIndex.scanEquals` reads back) only
    * at partial-aggregate shuffle boundaries, never per row.
    */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "shingle_hashes" -> (c => ShingleHashes(c.head, litInt(c(1), "k"))),
    "word_tf_entries" -> (c => WordTfEntries(c.head)),
    "minhash_sig" -> (c => MinHashSig(c.head, litInt(c(1), "numHashes"))),
    "jaccard_sorted" -> (c => SortedLongJaccard(c.head, c(1))),
    "simhash64_native" -> (c => SimHash(c.head)),
    "token_count_native" -> (c => TokenCount(c.head)),
    "word_ngram_hashes" -> (c => WordNgramHashes(c.head, litInt(c(1), "n"))),
    "token_profile" -> (c => TokenProfile(c.head)),
    "stopword_count_native" -> (c => StopwordCount(c.head)),
    "punct_ratio_native" -> (c => PunctRatio(c.head)),
    "deflate_len" -> (c => DeflateLen(c.head, litInt(c(1), "level"))),
    "canon_text" -> (c => CanonText(c.head)),
    "temporal_parse" -> (c => TemporalParse(c.head, c.length > 1 && litBool(c(1), "lenient"))),
    "sorted_dot" -> (c => SortedDot(c)),
    "pack_sparse_vec_block" -> (c => PackSparseVecBlock(c.head)),
    "sorted_dot_block_pairs" -> (c =>
      SortedDotBlockPairs(c.head, c(1), litDbl(c(2), "minDot"), c(3))),
    "bloom_might_contain" -> (c => BloomMightContain(c.head, c(1))),
    "graft_bloom_agg" -> (c => new BloomFilterAggregate(c.head, c(1), c(2))),
    "winnow_hashes" -> (c => WinnowHashes(c.head, litInt(c(1), "k"), litInt(c(2), "w"))),
    "cdc_cuts" -> (c => CdcCuts(c.head, litInt(c(1), "w"), litInt(c(2), "mask"))))
}
