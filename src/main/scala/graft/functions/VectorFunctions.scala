package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Native cosine similarity over two `array<float>` columns.
  *
  * Preference order from the build brief: compose built-ins first (see
  * [[VectorFunctions.cosineHof]]), custom codegen'd `Expression` second.
  * This is the second: one fused loop over both arrays computing dot and
  * both norms — versus the higher-order-function composition which
  * materializes a zipped intermediate array per row. Both stay inside
  * whole-stage codegen; this one is the hot-path variant for the 2 000–
  * 100 M row similarity scans.
  *
  * Semantics: null if either side is null, 0.0 if either norm is 0,
  * accumulation in double (matches DuckDB's `list_cosine_similarity` well
  * inside 1e-12 for 64-dim unit vectors).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(FloatType, _) => true
        case _                       => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // Both paths delegate the arithmetic to the per-JVM VecKernels provider
  // (SIMD lane-split-8 or the historical serial loop) so every physical
  // route that scores a cosine agrees bitwise with this expression. The
  // toFloatArray copy is an UnsafeArrayData bulk memcpy, repaid multiply
  // by the 512-bit loop (2.0× aggregate measured on the bench box).
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.cosineAD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val xa = ctx.freshName("xa"); val ya = ctx.freshName("ya")
      s"""
         |float[] $xa = $x.toFloatArray();
         |float[] $ya = $y.toFloatArray();
         |${ev.value} = graft.functions.VecKernels.cosineFF($xa, $ya);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Signed-random-projection bucket ids for banded SRP-LSH: `numTables`
  * independent b-bit tables, each bucket id the fold of `bits` hyperplane
  * sign bits. One fused loop per row over all tables×bits planes (a HOF
  * formulation would re-evaluate interpreted lambdas per plane element).
  * Hyperplanes are derived deterministically from (seed, plane index, dim),
  * so corpus and query sides agree across executors and runs. Returns
  * `array<long>` of length `numTables`; pair with `posexplode` so the table
  * index joins alongside the bucket value.
  */
case class SrpBuckets(child: Expression, numTables: Int, bits: Int, seed: Long)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "srp_buckets"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_buckets expects array<float>, got ${other.simpleString}")
  }

  // planes(t*bits + j) = gaussian hyperplane; lazily built per JVM, keyed by
  // dim discovered from the first row (embedding dim is constant per corpus).
  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  private def planesFor(dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dim, d => {
      Array.tabulate(numTables * bits) { p =>
        val rnd = new java.util.Random(seed * 1000003L + p * 7919L + d)
        Array.fill(d)(rnd.nextGaussian())
      }
    })

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val planes = planesFor(dim)
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val plane = planes(t * bits + j)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v.getFloat(i) * plane(i); i += 1 }
        bucket = (bucket << 1) | (if (dot >= 0) 1L else 0L)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Symmetric int8 quantization of a float vector: scale = max|x|/127,
  * q_i = round(x_i/scale) packed into BINARY (1 byte/dim — 4× less memory
  * and scan bandwidth than array<float>, the lever that matters when the
  * embedding column dominates a 100 TB corpus). Cosine is scale-invariant,
  * so [[QuantizedCosine]] needs no dequantization.
  */
case class QuantizeI8(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "quantize_i8"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_i8 expects array<float>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    VecKernels.quantizeI8AD(input.asInstanceOf[ArrayData])

  // codegen'd (was a CodegenFallback): the per-row boxed eval dispatch is
  // gone and the quantize loop lives in ONE precompiled kernel shared
  // with the int8 probe path, so expression and probe quantize
  // bit-identically by construction.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.VecKernels.quantizeI8AD($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine over two int8-quantized vectors (BINARY) — pure integer dot and
  * norms in one fused loop, result in double. Approximates the float
  * cosine to the quantization error (~1e-2 worst case at 64 dims).
  */
case class QuantizedCosine(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_i8"
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == org.apache.spark.sql.types.BinaryType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("cosine_sim_i8 expects two binary columns")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.cosineI8FF(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  // codegen'd (was a CodegenFallback): per-PAIR hot on the quantized
  // all-pairs scans. The kernel is the 16-lane integer SIMD path when
  // available; integer adds are order-free, so the result is the same
  // long-for-long either way (the q63 oracle stays bit-for-bit).
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.VecKernels.cosineI8FF($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The `nprobe` nearest centroid ids (by cosine, nearest first, ties →
  * lowest id) for a vector column against an inlined codebook — the
  * codegen'd replacement for the interpreted-HOF formulation
  * (`transform(array_sort(transform(codebook, …cosine…)))`), which
  * evaluates a boxed lambda per centroid per ROW. This expression sits
  * on the two per-row-hot IVF paths — list ASSIGNMENT over the full
  * corpus (`nprobe = 1`) and probe-list selection over the full query
  * side of a corpus-vs-corpus search — so it gets the same treatment as
  * [[IvfBlockTopK]]: eval and codegen make one static call into
  * [[VectorFunctions.nearestCentroids]].
  *
  * The codebook rides the plan as ONE packed-vector blob literal
  * ([[VectorFunctions.packBlock]]; k·dim floats — small by definition,
  * the FAISS coarse-quantizer shape), not as a k-element array-of-struct
  * literal: the array-literal form costs a per-row traversal of Catalyst
  * struct wrappers, and its plan string renders k×dim float literals.
  * The blob is decoded once per plan and `doGenCode` ships the decoded
  * block with the generated class via `addReferenceObj` — once per
  * executor, not per row.
  */
case class NearestCentroids(left: Expression, right: Expression, nprobe: Int)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case _ if nprobe < 1 =>
      TypeCheckResult.TypeCheckFailure(s"nearest_centroids needs nprobe >= 1, got $nprobe")
    case (ArrayType(FloatType, _), org.apache.spark.sql.types.BinaryType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids expects (array<float>, foldable binary codebook), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  // the packed codebook is a foldable literal: decode ONCE per JVM/plan,
  // not per row (interpreted path) — codegen references the same block
  @transient private lazy val codebook: VectorFunctions.DecodedBlock =
    VectorFunctions.decodeBlock(right.eval(null).asInstanceOf[Array[Byte]])

  override def nullSafeEval(v: Any, ignored: Any): Any =
    VectorFunctions.nearestCentroids(v.asInstanceOf[ArrayData].toFloatArray(),
      codebook, nprobe)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, _) => {
      val cb = ctx.addReferenceObj("codebook", codebook,
        classOf[VectorFunctions.DecodedBlock].getName)
      s"${ev.value} = graft.functions.VectorFunctions.nearestCentroids(" +
        s"$x.toFloatArray(), $cb, $nprobe);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Pack a collected inverted-list chunk — `array<struct<id:long,
  * vec:array<float>>>` — into ONE packed-vector blob
  * ([[VectorFunctions.packBlock]]). The blob is the unit the IVF block
  * scan ([[IvfBlockTopK]]) consumes: one row per (list, chunk) instead of
  * one row per corpus vector, so the probe join materializes O(lists)
  * fat rows once instead of O(scored pairs) vector-pair rows — the pair
  * materialization was measured at sf1-shape as ~1.3 TB of row-assembly
  * traffic (666 M joined rows × 2 KB of vectors) dwarfing the actual
  * float math. Ids sort ascending inside the blob, so packing is
  * deterministic under `collect_list`'s nondeterministic order.
  * Interpreted eval (CodegenFallback) is fine: one eval per chunk, never
  * per corpus row or per pair.
  */
case class PackVecBlock(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "pack_vec_block"
  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkEntries(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    VectorFunctions.packBlock(VectorFunctions.entryRows(input.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ALL of one inverted list's [[PackVecBlock]] chunk blobs from one
  * collected entry array — sort by id once, slice every `blockRows`
  * rows, pack each slice ([[VectorFunctions.packBlocks]]; r18, guide
  * §2.4). Replaces the row_number-window + per-(list, chunk) groupBy
  * pack: the window form paid a full sort pass of the corpus between the
  * list exchange and the pack aggregation; here ONE groupBy(list_id)
  * feeds this expression and posexplode emits (chunk, block)
  * scan-locally. Blob BYTES are identical to the window form's by
  * construction (ids ascend within a list either way; chunk i = rows
  * [i·blockRows, (i+1)·blockRows) of that order), so every downstream
  * consumer — probe kernels and packed artifacts — sees the exact same
  * (list_id, chunk, block) rows. Memory posture unchanged: the window
  * form's pack task also held all of a list's chunks in its aggregation
  * map at once.
  */
case class PackVecBlocks(child: Expression, blockRows: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(blockRows >= 1, s"pack_vec_blocks: blockRows must be >= 1, got $blockRows")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.BinaryType, containsNull = false)
  override def prettyName: String = "pack_vec_blocks"
  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkEntries(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(VectorFunctions.packBlocks(
      VectorFunctions.entryRows(input.asInstanceOf[ArrayData]), blockRows).toArray[Any])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The top-`k` (cosine desc, id asc) neighbors of one query vector within
  * one packed list chunk ([[PackVecBlock]] blob), self-match excluded and
  * an optional score floor applied INSIDE the scan — returns
  * `array<struct<neighbor_id:long, cosine:double>>`, already in final
  * rank order. This is the FAISS-style block scan as a Catalyst
  * expression: the probe join's build side is the packed chunk table
  * (corpus bytes ÷ chunk, ~O(lists) rows), the stream side is the probe
  * fan-out, and scoring walks the blob in a fused loop — candidate PAIRS
  * never exist as rows. Only per-chunk winners (≤ k per probe row) reach
  * the global top-k window, which collapses its input from every
  * above-floor pair (139 M rows at sf1-shape) to ≤ nprobe·k per query.
  *
  * Scoring is the float scan and selection the ranked top-k buffer of
  * [[VectorFunctions]] (cosine bit-identical to [[CosineSimilarity]]),
  * so a per-chunk-top-k → global-top-k cascade selects EXACTLY the rows
  * the flat pair join + one global window selected: every global winner
  * is necessarily a winner of its own chunk under the same (score desc,
  * id asc) order.
  */
case class IvfBlockTopK(first: Expression, second: Expression, third: Expression,
                        k: Int, floor: Double)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "ivf_block_topk"
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case _ if k < 1 =>
        TypeCheckResult.TypeCheckFailure(s"ivf_block_topk needs k >= 1, got $k")
      case (LongType, ArrayType(FloatType, _), org.apache.spark.sql.types.BinaryType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"ivf_block_topk expects (bigint query_id, array<float> query_vec, binary block), got " +
          s"(${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  override def nullSafeEval(qid: Any, qv: Any, blob: Any): Any =
    VectorFunctions.blockTopK(qid.asInstanceOf[Long],
      qv.asInstanceOf[ArrayData].toFloatArray(),
      blob.asInstanceOf[Array[Byte]], k, floor)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qid, qv, blob) => {
      // per-row work is a whole chunk scan (thousands of fused dots), so
      // codegen's job is only to keep the surrounding stage fused: one
      // static call into the scan kernel, no interpreted dispatch per row.
      // The floor is emitted via its raw bits, not `$floor`: the default
      // no-floor path is Double.NegativeInfinity, whose toString
      // ("-Infinity") is not a valid Java literal and would fail Janino
      // compilation (silent interpreted fallback outside CODEGEN_ONLY).
      val floorBits = java.lang.Double.doubleToRawLongBits(floor)
      s"""
         |${ev.value} = graft.functions.VectorFunctions.blockTopK(
         |  $qid, $qv.toFloatArray(), $blob, $k,
         |  java.lang.Double.longBitsToDouble(${floorBits}L));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Top-`k` (cosine desc, id asc) neighbors for EVERY query in a packed
  * query block against one packed corpus chunk — the cross-block form of
  * [[IvfBlockTopK]], returning `array<struct<query_id:long,
  * neighbor_id:long, cosine:double>>` (each query's entries already in
  * final rank order). Why it exists: Catalyst BinaryType access COPIES
  * the blob out of its row on every evaluation (`UnsafeRow.getBinary`),
  * so the one-row-per-(query, chunk) formulation memcpy'd the corpus
  * chunk once per probing query — measured 8 TB of copy+GC at the
  * 250k-doc shape, ~all of the probe scan's 300 s. With queries packed
  * per (list, salt), one row's two copies amortize over
  * |qblock| × |chunk| scored pairs and the scan is compute-bound.
  * Same float scan and top-k buffer as [[IvfBlockTopK]], so the
  * per-chunk → global-window cascade still selects the flat join's rows.
  */
case class BlockCrossTopK(left: Expression, right: Expression,
                          k: Int, floor: Double)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "block_cross_topk"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case _ if k < 1 =>
        TypeCheckResult.TypeCheckFailure(s"block_cross_topk needs k >= 1, got $k")
      case (org.apache.spark.sql.types.BinaryType,
            org.apache.spark.sql.types.BinaryType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"block_cross_topk expects (binary qblock, binary block), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }

  override def nullSafeEval(qblob: Any, cblob: Any): Any =
    VectorFunctions.blockCrossTopK(qblob.asInstanceOf[Array[Byte]],
      cblob.asInstanceOf[Array[Byte]], k, floor)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qblob, cblob) => {
      // one static call per row (the row's work is a whole block × chunk
      // scan); floor rides as raw long bits — Double.NegativeInfinity's
      // toString is not a valid Java literal (see IvfBlockTopK)
      val floorBits = java.lang.Double.doubleToRawLongBits(floor)
      s"""
         |${ev.value} = graft.functions.VectorFunctions.blockCrossTopK(
         |  $qblob, $cblob, $k,
         |  java.lang.Double.longBitsToDouble(${floorBits}L));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Dense `array<float>` of length `dim` from per-document sparse
  * (slot, value) entries — the assembly step of the feature-hashed
  * tf-idf embeddings. One allocation + one pass over the entries per
  * document; the declarative alternative (`transform(sequence(0,
  * dim−1), s → element_at(map, s))`) evaluates an interpreted HOF
  * lambda per OUTPUT element with an O(entries) map scan inside —
  * O(dim × entries) interpreted work per document, measured as the
  * dominant cost of the embedding build at dim 256. Entries with
  * out-of-range slots throw (they indicate a broken hash upstream);
  * duplicate slots last-write-win (the upstream groupBy makes them
  * unique).
  */
case class SparseToDense(child: Expression, dim: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "sparse_to_dense"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: org.apache.spark.sql.types.StructType, _)
      if s.length == 2 && s(0).dataType == org.apache.spark.sql.types.IntegerType &&
        s(1).dataType == DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sparse_to_dense expects array<struct<slot:int,v:double>>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val entries = input.asInstanceOf[ArrayData]
    // accumulate in double and cast once: entries with a REPEATED slot
    // sum (so a signed-hash kernel can feed raw per-term entries without
    // a pre-summing aggregate); unique-slot inputs are byte-identical to
    // the previous overwrite semantics (one value, same single cast)
    val acc = new Array[Double](dim)
    val n = entries.numElements()
    var i = 0
    while (i < n) {
      val e = entries.getStruct(i, 2)
      acc(e.getInt(0)) += e.getDouble(1)
      i += 1
    }
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = acc(i).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {

  /** (name → builder) for every vector function — the single source both
    * registration paths consume: session-level [[register]] and the
    * cluster-level `GraftExtensions` injection (same contract as
    * [[NativeTextExpressions.builders]]).
    */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (c => CosineSimilarity(c.head, c(1))),
    "srp_buckets" -> (c => SrpBuckets(c.head,
      litNum(c(1), "numTables").toInt, litNum(c(2), "bits").toInt,
      litNum(c(3), "seed"))),
    "nearest_centroids" -> (c => NearestCentroids(c.head, c(1),
      litNum(c(2), "nprobe").toInt)),
    "quantize_i8" -> (c => QuantizeI8(c.head)),
    "cosine_sim_i8" -> (c => QuantizedCosine(c.head, c(1))),
    "sparse_to_dense" -> (c => SparseToDense(c.head, litNum(c(1), "dim").toInt)),
    "pack_vec_block" -> (c => PackVecBlock(c.head)),
    "pack_vec_blocks" -> (c => PackVecBlocks(c.head, litNum(c(1), "blockRows").toInt)),
    "ivf_block_topk" -> (c => IvfBlockTopK(c.head, c(1), c(2),
      litNum(c(3), "k").toInt, litDouble(c(4), "floor"))),
    "block_cross_topk" -> (c => BlockCrossTopK(c.head, c(1),
      litNum(c(2), "k").toInt, litDouble(c(3), "floor"))))

  /** Register every vector function on this session's registry so they
    * are usable from both `expr(...)` and `spark.sql(...)`. Idempotent.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, null, name), builder)
    }
  }

  private def litNum(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)  => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def litDouble(e: Expression, what: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Float, _)  => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)    => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _)   => v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  // ---- the packed-vector block: one codec, one ranked buffer, two scans ----

  /** The packed-vector blob, the one layout every IVF kernel, the
    * persisted packed-index artifact and the `nearest_centroids`
    * codebook literal share: i32 n, i32 dim, n×i64 ids ascending,
    * n×dim×f32 components, big-endian. [[packBlock]] / [[packBlocks]]
    * are its only writers and [[decodeBlock]] its only reader. Ids sort
    * stably, so a block is deterministic under `collect_list`'s
    * nondeterministic order; every vector must have the block's dim.
    */
  private[graft] def packBlock(rows: Seq[(Long, Array[Float])]): Array[Byte] =
    writeBlock(sortedRows(rows))

  /** [[packBlock]] over consecutive `blockRows`-row slices of the
    * id-sorted rows — chunk i holds rows [i·blockRows, (i+1)·blockRows);
    * no rows, no blobs. */
  private[graft] def packBlocks(rows: Seq[(Long, Array[Float])],
                                blockRows: Int): Array[Array[Byte]] =
    sortedRows(rows).grouped(blockRows).map(writeBlock).toArray

  private def sortedRows(rows: Seq[(Long, Array[Float])]): IndexedSeq[(Long, Array[Float])] = {
    val sorted = rows.toIndexedSeq.sortBy(_._1)
    val dim = if (sorted.isEmpty) 0 else sorted.head._2.length
    require(sorted.forall(_._2.length == dim),
      s"packed vector block: ragged vectors (expected dim $dim)")
    sorted
  }

  private def writeBlock(rows: IndexedSeq[(Long, Array[Float])]): Array[Byte] = {
    val n = rows.length
    val dim = if (n == 0) 0 else rows.head._2.length
    val buf = java.nio.ByteBuffer.allocate(8 + n * (8 + dim * 4))
    buf.putInt(n).putInt(dim)
    rows.foreach { case (id, _) => buf.putLong(id) }
    val floats = buf.asFloatBuffer()
    rows.foreach { case (_, v) => floats.put(v) }
    buf.array()
  }

  /** The (id, vector) rows of a collected `array<struct<id:long,
    * vec:array<float>>>` — the pack expressions' input. */
  private[graft] def entryRows(entries: ArrayData): Array[(Long, Array[Float])] =
    Array.tabulate(entries.numElements()) { i =>
      val e = entries.getStruct(i, 2)
      (e.getLong(0), e.getArray(1).toFloatArray())
    }

  private[graft] def checkEntries(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(s: org.apache.spark.sql.types.StructType, _)
      if s.length == 2 && s(0).dataType == org.apache.spark.sql.types.LongType &&
        (s(1).dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<struct<id:long,vec:array<float>>>, got ${other.simpleString}")
  }

  /** A packed-vector blob decoded into contiguous arrays plus each
    * vector's precomputed norm accumulator (Σ y², double, SAME summation
    * order as the dot it is paired with — scores stay bit-identical).
    * Decoded LOCALLY per expression call: one bulk pass replaces the
    * four-byte-loads-plus-swap `ByteBuffer.getFloat` per element per
    * pair, and the norm is computed once per vector instead of once per
    * pair. (A cross-call identity cache does NOT work here and was
    * measured 2.9× WORSE: `UnsafeRow.getBinary` copies the blob into a
    * FRESH array on every row access, so an identity key never hits and
    * the map only adds contention — the per-row copy itself is why
    * [[BlockCrossTopK]] exists.)
    */
  private[graft] final class DecodedBlock(val n: Int, val dim: Int,
                                   val ids: Array[Long],
                                   val vecs: Array[Float],
                                   val normSq: Array[Double]) extends Serializable

  private[graft] def decodeBlock(blob: Array[Byte]): DecodedBlock = {
    val buf = java.nio.ByteBuffer.wrap(blob)
    val n = buf.getInt(0)
    val dim = buf.getInt(4)
    val ids = new Array[Long](n)
    val vecs = new Array[Float](n * dim)
    buf.position(8)
    buf.asLongBuffer().get(ids)
    buf.position(8 + n * 8)
    buf.asFloatBuffer().get(vecs)
    val normSq = new Array[Double](n)
    var r = 0
    while (r < n) {
      normSq(r) = VecKernels.normSq(vecs, r * dim, dim)
      r += 1
    }
    new DecodedBlock(n, dim, ids, vecs, normSq)
  }

  /** A [[DecodedBlock]] quantized to int8 — the replicated probe's
    * scalar-quantizer index copy, taken when only the int8 copy fits the
    * replicate budget (spark.graft.ann.replicateIndexBytes): 4× smaller
    * resident arrays, 16-lane integer SIMD dots. Each vector quantizes
    * independently with the `quantize_i8` expression's exact math
    * (cosine is per-vector scale-invariant); norms precompute at
    * quantize time like [[decodeBlock]]'s.
    */
  private[graft] final class QuantBlock(val n: Int, val dim: Int,
                                        val ids: Array[Long],
                                        val qvecs: Array[Byte],
                                        val normSq: Array[Long]) extends Serializable

  private[graft] def quantizeBlock(blk: DecodedBlock): QuantBlock = {
    val n = blk.n
    val dim = blk.dim
    val qvecs = new Array[Byte](n * dim)
    val normSq = new Array[Long](n)
    var r = 0
    while (r < n) {
      val q = VecKernels.quantizeI8(blk.vecs, r * dim, dim)
      System.arraycopy(q, 0, qvecs, r * dim, dim)
      normSq(r) = VecKernels.normSqI8(qvecs, r * dim, dim)
      r += 1
    }
    new QuantBlock(n, dim, blk.ids, qvecs, normSq)
  }

  /** The one ranked top-`k` buffer every probe kernel selects through:
    * bounded insertion under the full (score desc, id asc) total order,
    * the id tie-break explicit (blocks may arrive in any list order), and
    * `score >= floor` on entry — so a NaN score never enters. `ids` and
    * `scores` hold the ranked entries in [0, size).
    */
  private[graft] final class TopK(k: Int, floor: Double) {
    val ids = new Array[Long](k)
    val scores = new Array[Double](k)
    var size = 0

    def offer(id: Long, s: Double): Unit = {
      val last = size - 1
      if (s >= floor && (size < k || s > scores(last) ||
          (s == scores(last) && id < ids(last)))) {
        var p = if (size < k) size else last
        while (p > 0 && (scores(p - 1) < s || (scores(p - 1) == s && ids(p - 1) > id))) {
          ids(p) = ids(p - 1); scores(p) = scores(p - 1); p -= 1
        }
        ids(p) = id; scores(p) = s
        if (size < k) size += 1
      }
    }
  }

  /** The float cosine of q[qOff, qOff + m) against row `r` of `blk` —
    * the `cosine_sim` arithmetic ([[VecKernels.cosineFF]]: double
    * accumulation over the min-length prefix `m`, 0.0 on a zero norm)
    * with the query norm `nx` over `m` supplied by the caller and the
    * row's norm taken from the decode when `m` covers the whole row.
    * Real plans pack one dim on both sides, so the per-pair norm is only
    * the degenerate ragged case.
    */
  private def cosineRow(q: Array[Float], qOff: Int, m: Int, nx: Double,
                        blk: DecodedBlock, r: Int): Double = {
    val off = r * blk.dim
    val dot = VecKernels.dot(q, qOff, blk.vecs, off, m)
    val ny = if (m == blk.dim) blk.normSq(r) else VecKernels.normSq(blk.vecs, off, m)
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  /** The float scan: offer every row of `blk` except the query itself
    * (`id == qid`) to `top`, scored by [[cosineRow]] against
    * q[qOff, qOff + qLen), whose full-length Σ q² is `qNorm`. */
  private def scanFloat(qid: Long, q: Array[Float], qOff: Int, qLen: Int,
                        qNorm: Double, blk: DecodedBlock, top: TopK): Unit = {
    val m = math.min(qLen, blk.dim)
    val nx = if (m == qLen) qNorm else VecKernels.normSq(q, qOff, m)
    var r = 0
    while (r < blk.n) {
      val id = blk.ids(r)
      if (id != qid) top.offer(id, cosineRow(q, qOff, m, nx, blk, r))
      r += 1
    }
  }

  /** The int8 scan: [[scanFloat]] with the `cosine_sim_i8` arithmetic —
    * long dot over the min-length prefix, long norms (the row's from the
    * quantize when the prefix covers it), 0.0 on a zero norm. */
  private def scanI8(qid: Long, q: Array[Byte], qNorm: Long, blk: QuantBlock,
                     top: TopK): Unit = {
    val m = math.min(q.length, blk.dim)
    val nx = if (m == q.length) qNorm else VecKernels.normSqI8(q, 0, m)
    var r = 0
    while (r < blk.n) {
      val id = blk.ids(r)
      if (id != qid) {
        val off = r * blk.dim
        val dot = VecKernels.dotI8(q, 0, blk.qvecs, off, m)
        val ny = if (m == blk.dim) blk.normSq(r) else VecKernels.normSqI8(blk.qvecs, off, m)
        top.offer(id,
          if (nx == 0L || ny == 0L) 0.0
          else dot.toDouble / math.sqrt(nx.toDouble * ny.toDouble))
      }
      r += 1
    }
  }

  /** The [[IvfBlockTopK]] kernel (interpreted eval and codegen): the
    * top `k` of one query within one packed blob, as
    * `(neighbor_id, cosine)` rows in rank order. */
  def blockTopK(qid: Long, q: Array[Float], blob: Array[Byte], k: Int,
                floor: Double): ArrayData = {
    val top = new TopK(k, floor)
    scanFloat(qid, q, 0, q.length, VecKernels.normSq(q, 0, q.length), decodeBlock(blob), top)
    new GenericArrayData(Array.tabulate[Any](top.size)(i =>
      new GenericInternalRow(Array[Any](top.ids(i), top.scores(i)))))
  }

  /** Global top-`k` of one query against MANY decoded chunks — the
    * replicated float probe of [[graft.operators.Similarity]]. One
    * buffer across every chunk, so the result is the SAME rows and ranks
    * the per-chunk → global window cascade selects (spec-pinned).
    * Returns (ids, scores, size): the caller emits rows ranked 1..size.
    */
  private[graft] def replicatedTopK(qid: Long, q: Array[Float],
                                    blocks: Iterator[DecodedBlock],
                                    k: Int, floor: Double):
      (Array[Long], Array[Double], Int) = {
    val top = new TopK(k, floor)
    val qNorm = VecKernels.normSq(q, 0, q.length)
    blocks.foreach(scanFloat(qid, q, 0, q.length, qNorm, _, top))
    (top.ids, top.scores, top.size)
  }

  /** [[replicatedTopK]] over int8-quantized blocks (the int8 scan). The
    * scores approximate the float cosine to ~1e-2; callers rerank the
    * shortlist exactly downstream.
    */
  private[graft] def replicatedTopKI8(qid: Long, q: Array[Byte],
                                      blocks: Iterator[QuantBlock],
                                      k: Int, floor: Double):
      (Array[Long], Array[Double], Int) = {
    val top = new TopK(k, floor)
    val qNorm = VecKernels.normSqI8(q, 0, q.length)
    blocks.foreach(scanI8(qid, q, qNorm, _, top))
    (top.ids, top.scores, top.size)
  }

  /** The [[BlockCrossTopK]] kernel: the top `k` of EVERY query of one
    * packed query block within one packed corpus chunk, as the
    * concatenation of each query's `(query_id, neighbor_id, cosine)`
    * rows in rank order. */
  def blockCrossTopK(qblob: Array[Byte], cblob: Array[Byte], k: Int,
                     floor: Double): ArrayData = {
    val qb = decodeBlock(qblob)
    val cb = decodeBlock(cblob)
    val out = new java.util.ArrayList[Any](qb.n * math.min(k, cb.n))
    val top = new TopK(k, floor)
    var qi = 0
    while (qi < qb.n) {
      val qid = qb.ids(qi)
      top.size = 0
      scanFloat(qid, qb.vecs, qi * qb.dim, qb.dim, qb.normSq(qi), cb, top)
      var x = 0
      while (x < top.size) {
        out.add(new GenericInternalRow(Array[Any](qid, top.ids(x), top.scores(x))))
        x += 1
      }
      qi += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The [[NearestCentroids]] selection (interpreted eval and codegen):
    * the `min(k, nprobe)` codebook ids nearest `q` by the float cosine
    * ([[cosineRow]], bit-identical to `cosine_sim`), nearest first.
    * nprobe max-passes with strict `>` over the ascending ids, so equal
    * scores tie to the lowest id — the order `array_sort` on
    * `(-score, cid)` produces, except that a -0.0/+0.0 pair ties to the
    * lower id (distinct centroids cannot score distinguishable zeros
    * against one query). A NaN score wins a pass only as the first
    * untaken id, which is why this is not the [[TopK]] buffer (that one
    * drops NaN).
    */
  def nearestCentroids(q: Array[Float], codebook: DecodedBlock, nprobe: Int): ArrayData = {
    val k = codebook.n
    val m = math.min(q.length, codebook.dim)
    val nx = VecKernels.normSq(q, 0, m)
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) { scores(c) = cosineRow(q, 0, m, nx, codebook, c); c += 1 }
    val outLen = math.min(k, nprobe)
    val taken = new Array[Boolean](k)
    val out = new Array[Long](outLen)
    var s = 0
    while (s < outLen) {
      var best = -1; var bs = Double.NegativeInfinity; var j = 0
      while (j < k) {
        if (!taken(j) && (best < 0 || scores(j) > bs)) { best = j; bs = scores(j) }
        j += 1
      }
      taken(best) = true; out(s) = codebook.ids(best); s += 1
    }
    new GenericArrayData(out)
  }

  /** Codegen'd native cosine (requires [[register]] on the session). */
  def cosine(a: String, b: String): Column = expr(s"cosine_sim($a, $b)")

  /** Built-ins-only composition (no registration needed): dot and norms via
    * `zip_with` + `aggregate`, with per-element promotion to double so the
    * result agrees with the native expression bit-for-bit closely (float32
    * products would diverge at ~1e-7). Baseline/fallback for [[cosine]].
    */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dotHof(a, b)
    val na = sqrt(dotHof(a, a))
    val nb = sqrt(dotHof(b, b))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** Dot product via higher-order functions (unit vectors ⇒ cosine). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
}
