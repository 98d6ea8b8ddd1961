package graft.functions

import graft.simd.{LaneSplitScalarVecOps, ScalarVecOps, VecOps}
import org.apache.spark.sql.catalyst.util.ArrayData

/** The ONE float-vector arithmetic provider for every cosine/dot hot
  * path: the `cosine_sim` expression (eval AND codegen) and the packed
  * block kernels — [[VectorFunctions]]'s float scan (behind
  * `blockTopK` / `replicatedTopK` / `blockCrossTopK`), its int8 scan
  * (behind `replicatedTopKI8`), the `nearestCentroids` selection and
  * the `decodeBlock` / `quantizeBlock` norms. Routing every site
  * through one statically-chosen [[VecOps]] keeps scores bit-identical
  * ACROSS physical routes whichever implementation a JVM ends up with —
  * the property the cross-route equality specs pin (flat join vs block
  * cascade vs replicated probe).
  *
  * Selection, once per JVM (logged, greppable like the regime gates):
  *   - `graft.simd` system property / `GRAFT_SIMD` env = `off` → the
  *     historical serial scalar kernel;
  *   - otherwise, if `jdk.incubator.vector` is resolvable AND the
  *     preferred double species is 512-bit → [[graft.simd.PanamaVecOps]]
  *     (measured 2.0× aggregate over serial on the 32-thread bench box:
  *     36.9 vs 18.4 Gmult/s streaming — the ANN scan roof doubles);
  *   - else the serial scalar kernel (narrow-SIMD hardware would only
  *     EMULATE 512-bit lanes; the 8-way scalar split measured 0.5× of
  *     serial, so non-SIMD JVMs keep the historical arithmetic).
  *
  * The SIMD class is loaded REFLECTIVELY (Lucene's vectorization-provider
  * pattern): a JVM launched without `--add-modules=jdk.incubator.vector`
  * (build.sbt adds it for every forked run) falls back cleanly instead of
  * failing class resolution. The two arithmetics differ only in double
  * summation ORDER (float→double products are exact), i.e. in final
  * ulps — inside the 1e-12 HOF-agreement gate and far inside the DuckDB
  * oracles' round(·,4).
  */
object VecKernels {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Spec-only reference for the lane-split-8 arithmetic (never serves
    * production traffic — SimdKernelsSpec pins the SIMD kernel to it). */
  private[graft] val laneSplitReference: VecOps = new LaneSplitScalarVecOps

  private[graft] val serial: VecOps = new ScalarVecOps

  /** Reflective so the incubator module stays optional at runtime. */
  private[graft] def tryLoadSimd(): Option[VecOps] =
    try {
      val cls = Class.forName("graft.simd.PanamaVecOps")
      Some(cls.getDeclaredConstructor().newInstance().asInstanceOf[VecOps])
    } catch {
      case t: Throwable =>
        log.info(s"graft.simd: vector kernels unavailable (${t.getClass.getSimpleName}: " +
          s"${t.getMessage}); using ${serial.name}")
        None
    }

  /** Normalized + validated mode resolution: `OFF`/` Off ` count as `off`
    * (an env-var typo must not silently re-enable SIMD — the same strict
    * posture as [[graft.GraftConf.bool]]), and anything outside
    * {auto, off, scalar} fails fast at class-load with the valid set
    * named rather than falling through to the auto path. */
  private[graft] def resolveMode(raw: String): String = {
    val norm = raw.trim.toLowerCase(java.util.Locale.ROOT)
    norm match {
      case "auto" | "off" | "scalar" => norm
      case other =>
        throw new IllegalArgumentException(
          s"graft.simd / GRAFT_SIMD value '$other' (raw '$raw') is not one of auto|off|scalar")
    }
  }

  val ops: VecOps = {
    val mode = resolveMode(
      sys.props.getOrElse("graft.simd", sys.env.getOrElse("GRAFT_SIMD", "auto")))
    val chosen = mode match {
      case "off" | "scalar" => serial
      case _                => tryLoadSimd().getOrElse(serial)
    }
    log.info(s"graft.simd: mode=$mode kernel=${chosen.name}")
    chosen
  }

  /** True when the 512-bit SIMD kernel is serving (A/B logging). */
  def simdActive: Boolean = ops ne serial

  // ---- static-forwarder entry points (Janino-generated code calls these) ----

  def dot(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, m: Int): Double =
    ops.dot(a, aOff, b, bOff, m)

  def normSq(v: Array[Float], off: Int, m: Int): Double =
    ops.normSq(v, off, m)

  /** Cosine over two float arrays with `cosine_sim` semantics: min-length
    * prefix, fused dot+norms, 0.0 on a zero norm. */
  def cosineFF(a: Array[Float], b: Array[Float]): Double = {
    val m = math.min(a.length, b.length)
    val out = new Array[Double](3)
    ops.dotNorms(a, 0, b, 0, m, out)
    if (out(1) == 0.0 || out(2) == 0.0) 0.0 else out(0) / math.sqrt(out(1) * out(2))
  }

  /** Cosine over two Catalyst arrays (copies to primitive arrays — an
    * UnsafeArrayData bulk copy, repaid multiply by the vector loop). */
  def cosineAD(x: ArrayData, y: ArrayData): Double =
    cosineFF(x.toFloatArray(), y.toFloatArray())

  // ---- int8 entry points (cosine_sim_i8 semantics; integer arithmetic
  // is order-free, so scalar and SIMD agree EXACTLY — no per-JVM
  // arithmetic caveats apply to these) ----

  def dotI8(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int, m: Int): Long =
    ops.dotI8(a, aOff, b, bOff, m)

  def normSqI8(v: Array[Byte], off: Int, m: Int): Long =
    ops.dotI8(v, off, v, off, m)

  /** Cosine over two int8 vectors with `cosine_sim_i8` semantics:
    * min-length prefix, long accumulation, 0.0 on a zero norm. */
  def cosineI8FF(a: Array[Byte], b: Array[Byte]): Double = {
    val m = math.min(a.length, b.length)
    val out = new Array[Long](3)
    ops.dotNormsI8(a, 0, b, 0, m, out)
    if (out(1) == 0L || out(2) == 0L) 0.0
    else out(0).toDouble / math.sqrt(out(1).toDouble * out(2).toDouble)
  }

  /** Symmetric int8 quantization of v[off..off+m) — BIT-COMPATIBLE with
    * the `quantize_i8` expression (float max-abs, float scale division,
    * Math.round, clamp to [-127, 127]; all-zero input → all-zero bytes).
    */
  def quantizeI8(v: Array[Float], off: Int, m: Int): Array[Byte] = {
    var maxAbs = 0f
    var i = 0
    while (i < m) { val a = math.abs(v(off + i)); if (a > maxAbs) maxAbs = a; i += 1 }
    val out = new Array[Byte](m)
    if (maxAbs > 0f) {
      val s = maxAbs / 127f
      i = 0
      while (i < m) {
        out(i) = math.max(-127, math.min(127, math.round(v(off + i) / s))).toByte
        i += 1
      }
    }
    out
  }

  /** `quantize_i8` over a Catalyst array (codegen entry point). */
  def quantizeI8AD(x: ArrayData): Array[Byte] = {
    val v = x.toFloatArray()
    quantizeI8(v, 0, v.length)
  }
}
