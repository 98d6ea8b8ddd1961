package graft

/** A fixed, deterministic, allocation-free CPU reference unit for
  * normalizing wall-clock across sessions. The bench host drifts 1.2–2.2×
  * between sessions on identical code (r15 adjudication: q136 sf20
  * samples 66–221 s, same binary), so raw round-over-round wall ratios
  * are not interpretable on their own. Every bench/scale run emits this
  * unit's wall alongside the query walls; readers compare
  * `wall / calibration` instead of `wall`.
  *
  * The kernel is single-threaded xorshift64* feeding a double
  * mul-add chain — pure register arithmetic, no I/O, no allocation, no
  * data dependence on anything but the fixed seed — so its wall moves
  * only with the host's effective CPU speed (clock, contention,
  * steal). It deliberately does NOT exercise memory bandwidth: the
  * point is a stable denominator, not a workload model.
  */
object Calibration {

  /** Written so the JIT cannot eliminate the loop. */
  @volatile private var checksum: Double = 0.0

  private val Iters = 200000000 // ~0.4 s nominal on the bench box

  /** One calibration sample: seconds for the fixed kernel. */
  def unitWall(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0.0
    var i = 0
    while (i < Iters) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      // map the high bits into [1,2) and accumulate — one FP add + one
      // long mul per step, the standard uniform-double construction
      val d = java.lang.Double.longBitsToDouble(
        ((x * 0x2545F4914F6CDD1DL) >>> 12) | 0x3ff0000000000000L) - 1.0
      acc += d
      i += 1
    }
    checksum = acc
    (System.nanoTime() - t0) / 1e9
  }

  /** Min-of-`samples` calibration wall — the same steady-state estimator
    * the bench uses for queries (first sample pays JIT).
    */
  def measure(samples: Int = 3): Double =
    (1 to math.max(1, samples)).map(_ => unitWall()).min
}
