package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manual harness (Test/runMain graft.GridCrossoverManual <sfDir>
  * natural|grid|capped [numHashes] [cellBytes] [bands]) — measures the
  * minhash shuffle-verify crossover and its CAP FALLBACK:
  *
  *  - natural vs grid (r15): a sparse-candidate shape (one 64-row band ⇒
  *    only near-exact dups collide, so est pair-degree is far below 2P)
  *    where the cost model's NATURAL decision is the sort-free JOIN-form,
  *    against the same shape with the grid forced (`degreeFactor=0`). The
  *    r14 measurements only ever saw the grid WIN (q36's dense shape,
  *    degree ≈ 477 vs 2P = 12); this pins that the join-form side of the
  *    gate also picks the cheaper plan where it claims to.
  *  - capped (r17, the carried verdict item): the DENSE shape (bands=8,
  *    numHashes=16 — where the grid naturally wins) with
  *    `maxFragments` forced BELOW the uncapped P, so the verify must
  *    take the cap fallback (join-form, logged with "> cap") — the
  *    mega-corpus posture where a capped grid would blow its per-cell
  *    budget. Run the dense natural twin first and compare the printed
  *    pairs/checksum: bit-identical results, fallback wall measured.
  *
  * Forced-shuffle regime (broadcastBytes=8 MiB) in ALL runs — the
  * crossover only exists past the verify-broadcast gate. One run per JVM
  * (tools/scale_run.md §5).
  */
object GridCrossoverManual {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/tmp/graft-sf5"
    val mode = if (args.length > 1) args(1) else "natural"
    // 64 hashes in ONE band: collide iff all 64 minhash lanes agree
    // (P[collide | J] = J^64 — 0.95-pairs survive at 3.7%), which is what
    // thins the candidate set below 2P on a corpus whose TRUE pair
    // degree is high (the sf5 shape verifies 17M real >=0.9 pairs; no
    // banding of 16 hashes gets under degree ~110 there)
    val numHashes = if (args.length > 2) args(2).toInt else 64
    // per-cell budget models the executor's per-task memory: P (and so
    // the crossover 2P) rises as the budget shrinks. 64 MiB puts the sf5
    // exact-dup shape (degree ~13, the corpus floor — exact dups collide
    // under ANY banding) on the join-form side of the gate naturally.
    val cellBytes = if (args.length > 3) args(3) else (64L << 20).toString
    val bands = if (args.length > 4) args(4).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("INFO") // capture the decision log line
    GraftExtensions.install(spark)
    spark.conf.set("spark.graft.broadcastBytes", "8388608")
    spark.conf.set("spark.graft.gridVerify.cellBytes", cellBytes)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    if (mode == "grid") spark.conf.set("spark.graft.gridVerify.degreeFactor", "0")
    if (mode == "capped") {
      // degreeFactor 0 WANTS the grid; the cap (below any uncapped P)
      // must overrule it — the fallback under measurement
      spark.conf.set("spark.graft.gridVerify.degreeFactor", "0")
      spark.conf.set("spark.graft.gridVerify.maxFragments", "2")
    }
    val docs = Tables(spark, sf, "documents")
    val t0 = System.nanoTime()
    val pairs = graft.operators.Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      numHashes = numHashes, bands = bands, minJaccard = 0.9)
    // order-free xor checksum over (ids, jaccard rounded to 1e-4): the
    // bit-identity witness across runs without collecting 17M pairs
    val row = pairs.agg(count(lit(1)).as("n"),
      bit_xor(xxhash64(col("id_a"), col("id_b"),
        round(col("jaccard") * 10000).cast("long"))).as("ck")).head()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[grid-crossover] sf=$sf mode=$mode bands=$bands pairs=${row.getLong(0)} " +
      f"checksum=${row.getLong(1)}%016x wall=$sec%.1f s")
    spark.stop()
  }
}
