package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TimeZoneAwareExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
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
  * itself). Those two implement `doGenCode`, so the merge stays inside
  * whole-stage codegen.
  */
object NativeTextExpressions {

  /** Distinct sorted XXH64 hashes of the character k-shingles of the input
    * string (which should be pre-lowercased; sorting makes the set
    * canonical and enables merge-join Jaccard).
    */
  case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"shingle_hashes expects string, got ${child.dataType.simpleString}")

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
        b += UTF8String.numBytesForFirstByte(
          org.apache.spark.unsafe.Platform.getByte(base, off + b))
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
      java.util.Arrays.sort(hs)
      var w = 0
      var r = 1
      while (r < hs.length) {
        if (hs(r) != hs(w)) { w += 1; hs(w) = hs(r) }
        r += 1
      }
      val arr = java.util.Arrays.copyOf(hs, w + 1)
      new GenericArrayData(arr)
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
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "winnow_hashes"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"winnow_hashes expects string, got ${child.dataType.simpleString}")

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
      val set = new java.util.HashSet[java.lang.Long](math.max(nh / w, 16))
      var s = 0
      while (s <= nh - w) {
        var m = hashes(s)
        var j = 1
        while (j < w) { if (hashes(s + j) < m) m = hashes(s + j); j += 1 }
        set.add(m)
        s += 1
      }
      val arr = new Array[Long](set.size)
      val it = set.iterator()
      var p = 0
      while (it.hasNext) { arr(p) = it.next(); p += 1 }
      java.util.Arrays.sort(arr)
      new GenericArrayData(arr)
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
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "cdc_cuts"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"cdc_cuts expects string, got ${child.dataType.simpleString}")

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
    * array_intersect/array_union).
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

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
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

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        val inter = ctx.freshName("inter"); val union = ctx.freshName("union")
        s"""
           |int $nx = $x.numElements();
           |int $ny = $y.numElements();
           |int $i = 0; int $j = 0; long $inter = 0L;
           |while ($i < $nx && $j < $ny) {
           |  long $xv = $x.getLong($i);
           |  long $yv = $y.getLong($j);
           |  if ($xv == $yv) { $inter++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; } else { $j++; }
           |}
           |long $union = (long) $nx + (long) $ny - $inter;
           |${ev.value} = ($union == 0L) ? 0.0d : (double) $inter / (double) $union;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Sparse dot product over two vectors stored as (sorted key array,
    * aligned value array) — one merge-join pass, O(|a| + |b|). The
    * verify step of the weighted prefix join runs this per candidate
    * pair; a map<long,double> formulation costs O(|a|·|b|) because
    * Catalyst map lookup is a linear scan, which turned the verify into
    * the bottleneck at 10⁷ candidates. Keys MUST be sorted ascending
    * (the builder sorts by (df, tok) then re-sorts by tok for this).
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
      else {
        val xk = ka.asInstanceOf[ArrayData]; val xv = va.asInstanceOf[ArrayData]
        val yk = kb.asInstanceOf[ArrayData]; val yv = vb.asInstanceOf[ArrayData]
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
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val gs = children.map(_.genCode(ctx))
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val a = ctx.freshName("a"); val b = ctx.freshName("b")
      val dot = ctx.freshName("dot")
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
          |  int $nx = ${gs(0).value}.numElements();
          |  int $ny = ${gs(2).value}.numElements();
          |  int $i = 0; int $j = 0; double $dot = 0.0d;
          |  while ($i < $nx && $j < $ny) {
          |    long $a = ${gs(0).value}.getLong($i);
          |    long $b = ${gs(2).value}.getLong($j);
          |    if ($a == $b) {
          |      $dot += ${gs(1).value}.getDouble($i) * ${gs(3).value}.getDouble($j);
          |      $i++; $j++;
          |    } else if ($a < $b) { $i++; } else { $j++; }
          |  }
          |  ${ev.value} = $dot;
          |}
        """.stripMargin
      ev.copy(code = resultCode)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
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
    * pass, no intermediate arrays. Same semantics as
    * [[TextFunctions.simhash64]] modulo hash family internals.
    */
  case class SimHash(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64_native"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"simhash64_native expects string, got ${child.dataType.simpleString}")

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

  /** Matches Java regex `\s` — the charset Spark's `split(col, "\\s+")`
    * tokenizes on (NOT Character.isWhitespace, which also matches unicode
    * separators): identical token boundaries to the HOF formulation.
    */
  @inline private def isJavaSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Per-document term frequencies in ONE scan-local pass (r18, guide
    * §2.3 "aggregate before you shuffle"): lowercases like `lower()`
    * (the same UTF8String.toLowerCase), tokenizes on the exact regex-\s
    * class `split(…, "\\s+")` uses, XXH64-hashes each token's byte
    * slice in place (seed 42 = Catalyst's `xxhash64`), and run-length
    * encodes the sorted hashes into `array<struct<tok:long, tf:long>>`.
    * Term frequency is a PER-DOCUMENT quantity, so the
    * explode → groupBy(id, term) formulation paid a full exchange of
    * every term occurrence to compute it; exploding this array instead
    * yields the identical (id, tok, tf) rows with zero shuffle —
    * hashes, tokens, and counts bit-identical to the relational form
    * (spec-pinned on random unicode). Separators are ASCII bytes, so
    * the byte walk needs no char-offset pass (UTF-8 continuation bytes
    * have the high bit set and cannot collide with them).
    */
  case class WordTfEntries(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("tok", LongType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "word_tf_entries"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"word_tf_entries expects string, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toLowerCase
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes
      var hs = new Array[Long](16)
      var cnt = 0
      var start = 0
      var i = 0
      while (i <= n) {
        val isSep = i == n || {
          val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
          b == ' '.toByte || b == '\t'.toByte || b == '\n'.toByte ||
            b == 0x0B.toByte || b == '\f'.toByte || b == '\r'.toByte
        }
        if (isSep) {
          if (i > start) {
            if (cnt == hs.length) hs = java.util.Arrays.copyOf(hs, cnt * 2)
            hs(cnt) = XXH64.hashUnsafeBytes(base, off + start, i - start, 42L)
            cnt += 1
          }
          start = i + 1
        }
        i += 1
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
    */
  case class TokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "token_count_native"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"token_count_native expects string, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      var count = 0
      var inTok = false
      var i = 0
      while (i < s.length) {
        if (isJavaSpace(s.charAt(i))) inTok = false
        else if (!inTok) { count += 1; inTok = true }
        i += 1
      }
      count
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Count of lowercased tokens that are stopwords (the q32 quality
    * signal) — single pass, set membership per token, no arrays.
    */
  case class StopwordCount(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "stopword_count_native"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"stopword_count_native expects string, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toLowerCase.toString
      var count = 0
      var start = 0
      var i = 0
      while (i <= s.length) {
        if (i == s.length || isJavaSpace(s.charAt(i))) {
          if (i > start && NativeTextExpressions.stopwordSet.contains(s.substring(start, i)))
            count += 1
          start = i + 1
        }
        i += 1
      }
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
    * scan, gram strings die inside this eval.
    */
  case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
    require(n > 0, "n must be positive")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "word_ngram_hashes"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"word_ngram_hashes expects string, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toLowerCase.toString
      val toks = new java.util.ArrayList[String]()
      var start = 0
      var i = 0
      while (i <= s.length) {
        if (i == s.length || isJavaSpace(s.charAt(i))) {
          if (i > start) toks.add(s.substring(start, i))
          start = i + 1
        }
        i += 1
      }
      val t = toks.size
      val lastStart = math.max(t - n, 0)
      val set = new java.util.HashSet[java.lang.Long](math.max((lastStart + 1) * 2, 16))
      val sb = new java.lang.StringBuilder
      var st = 0
      while (st <= lastStart) {
        sb.setLength(0)
        var j = st
        val end = math.min(st + n, t)
        while (j < end) {
          if (j > st) sb.append(' ')
          sb.append(toks.get(j))
          j += 1
        }
        val g = UTF8String.fromString(sb.toString)
        set.add(XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L))
        st += 1
      }
      val arr = new Array[Long](set.size)
      val it = set.iterator()
      var k = 0
      while (it.hasNext) { arr(k) = it.next(); k += 1 }
      java.util.Arrays.sort(arr)
      new GenericArrayData(arr)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** All four repetition/diversity signals in one token walk per document:
    * token count, distinct-token count, total token length, and the count
    * of the most frequent adjacent bigram. Replaces a 2-scan + 2-shuffle +
    * join relational formulation in QualityRules with a single scan-local
    * eval — the quantity is per-document, so nothing about it needs to
    * leave the row. (Tokens cannot contain spaces, so `prev + ' ' + tok`
    * is an unambiguous bigram key.)
    */
  case class TokenProfile(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("distinct_tokens", IntegerType, nullable = false),
      StructField("sum_token_len", LongType, nullable = false),
      StructField("top_bigram_count", IntegerType, nullable = false)))
    override def prettyName: String = "token_profile"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"token_profile expects string, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toLowerCase.toString
      val distinct = new java.util.HashSet[String]()
      val bigrams = new java.util.HashMap[String, Int]()
      var n = 0
      var sumLen = 0L
      var top = 0
      var prev: String = null
      var start = 0
      var i = 0
      while (i <= s.length) {
        if (i == s.length || isJavaSpace(s.charAt(i))) {
          if (i > start) {
            val tok = s.substring(start, i)
            n += 1
            sumLen += tok.length
            distinct.add(tok)
            if (prev != null) {
              val key = prev + " " + tok
              val c = bigrams.merge(key, 1, Integer.sum)
              if (c > top) top = c
            }
            prev = tok
          }
          start = i + 1
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, distinct.size, sumLen, top))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Punctuation character ratio (0.0 when empty) — same result as the
    * regexp_replace-based [[TextFunctions.punctRatio]] without running a
    * regex engine per row.
    */
  case class PunctRatio(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "punct_ratio_native"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"punct_ratio_native expects string, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      if (s.isEmpty) 0.0
      else {
        var punct = 0
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == '.' || c == '!' || c == '?' || c == ',' || c == ';' || c == ':')
            punct += 1
          i += 1
        }
        punct.toDouble / s.length
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
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "deflate_len"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"deflate_len expects string, got ${child.dataType.simpleString}")

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

  private[graft] val stopwordSet: java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.stopwords.foreach(s.add)
    s
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
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
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "canon_text"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"canon_text expects string, got ${child.dataType.simpleString}")

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

  /** [[graft.etl.LenientTemporal.normalize]] as a native expression — the
    * scan-local canonicalization step of opt-in lenient date narrowing
    * (TypeInference.narrow(lenient = true)). Free-form word-month shapes
    * rewrite to the strict grammar's "M/d/yyyy[ H:mm:ss]"; anything else
    * passes through verbatim. The narrowing projection is per-row-hot on
    * a bulk load, so codegen is one static call inside the fused stage,
    * not an interpreted dispatch per value.
    */
  case class LenientTemporalNorm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "lenient_temporal_norm"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"lenient_temporal_norm expects string, got ${child.dataType.simpleString}")

    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(
        graft.etl.LenientTemporal.normalize(input.asInstanceOf[UTF8String].toString))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
           |  graft.etl.LenientTemporal.normalize($c.toString()));
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[graft.etl.TemporalGrammar]] as a native expression: the value as a
    * session-zone timestamp if it has one of the grammar's shapes, else
    * null. It is the narrowing cast of date and timestamp columns
    * (TypeInference.narrow), one parse per value, and it accepts exactly
    * the strings the type vote calls temporal. Codegen keeps one reusable
    * field holder per task, so a value parses without allocating or
    * throwing.
    */
  case class TemporalParse(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = true
    override def prettyName: String = "temporal_parse"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"temporal_parse expects string, got ${child.dataType.simpleString}")
    override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
      copy(timeZoneId = Option(timeZoneId))

    @transient private lazy val fields = new graft.etl.TemporalFields

    override def nullSafeEval(input: Any): Any =
      if (graft.etl.TemporalGrammar.parse(input.asInstanceOf[UTF8String].toString, fields))
        graft.etl.TemporalGrammar.toMicros(fields, zoneId)
      else null

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val holder = classOf[graft.etl.TemporalFields].getName
      val f = ctx.addMutableState(holder, "temporalFields", v => s"$v = new $holder();")
      val zone = ctx.addReferenceObj("zoneId", zoneId, classOf[java.time.ZoneId].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"""
           |if (graft.etl.TemporalGrammar.parse($c.toString(), $f)) {
           |  ${ev.value} = graft.etl.TemporalGrammar.toMicros($f, $zone);
           |} else {
           |  ${ev.isNull} = true;
           |}
         """.stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** (name → builder) for every native function — the single source both
    * registration paths consume: session-level [[register]] and the
    * cluster-level `GraftExtensions` injection (so a function added here
    * is automatically available under
    * `--conf spark.sql.extensions=graft.GraftExtensions` too).
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
    "lenient_temporal_norm" -> (c => LenientTemporalNorm(c.head)),
    "temporal_parse" -> (c => TemporalParse(c.head)),
    "sorted_dot" -> (c => SortedDot(c)),
    "pack_sparse_vec_block" -> (c => PackSparseVecBlock(c.head)),
    "sorted_dot_block_pairs" -> (c =>
      SortedDotBlockPairs(c.head, c(1), litDbl(c(2), "minDot"), c(3))),
    "bloom_might_contain" -> (c => BloomMightContain(c.head, c(1))),
    "winnow_hashes" -> (c => WinnowHashes(c.head, litInt(c(1), "k"), litInt(c(2), "w"))),
    "cdc_cuts" -> (c => CdcCuts(c.head, litInt(c(1), "w"), litInt(c(2), "mask"))))

  /** Register every native function on the session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, null, name), builder)
    }
  }
}
