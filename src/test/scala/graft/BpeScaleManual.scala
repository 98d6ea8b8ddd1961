package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manual harness (Test/runMain graft.BpeScaleManual [nWords] [k]) — the
  * batched distributed BPE fallback on a REAL-shaped profile. The r15
  * exactness proof (snapshot-count + creation-bound batch acceptance)
  * ran on a 13-pair toy; the open scale question is the ACCEPTANCE RATE
  * on a Zipfian profile where adjacent top pairs share symbols — a low
  * rate degenerates to one job per merge.
  *
  * Generates `nWords` distinct words (default 5M) with Zipf(1.0) counts
  * and English-ish letter frequencies (deterministic per row id — no
  * RNG), trains `k` merges (default 2000) through
  * [[graft.operators.Bpe.trainMergesDistributed]] with a job-count
  * listener, and checks the merge table bit-identical to
  * [[graft.operators.Bpe.trainMergesLocal]] on a truncation.
  */
object BpeScaleManual {
  def main(args: Array[String]): Unit = {
    val nWords = if (args.length > 0) args(0).toLong else 5000000L
    val k = if (args.length > 1) args(1).toInt else 2000
    val truncK = if (args.length > 2) args(2).toInt else 200
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    GraftExtensions.install(spark)
    println(f"[bpe-scale] calibration=${Calibration.measure(3)}%.3f s")

    // English-ish letter pool: repeats ~ frequency, indexed by hash.
    // Letter choice depends on (word id, position) only → deterministic,
    // distributed-safe, and the resulting digraph distribution is
    // Zipf-heavy like real text (e/t/a dominate, so top pairs share
    // symbols — exactly the batching-adversarial shape).
    val pool = "eeeeeeeeeeeettttttttttaaaaaaaaoooooooiiiiiiinnnnnnnssssssrrrrrr" +
      "hhhhhhddddlllluuucccmmmffyywwggppbbvvkxqjz"
    val poolLit = lit(pool)
    val wordExpr = {
      // length 3..10 from the id hash; letters from (id, pos) hashes
      val len = (pmod(xxhash64(col("id")), lit(8L)) + 3).cast("int")
      val letters = transform(sequence(lit(1), len), i =>
        substring(poolLit,
          (pmod(xxhash64(col("id"), i), lit(pool.length.toLong)) + 1).cast("int"),
          lit(1)))
      concat_ws("", letters)
    }
    val profile = spark.range(nWords).toDF("id")
      .select(wordExpr.as("word"),
        (lit(1000000000L) / (col("id") + 1)).cast("long").as("n"))
      .filter(col("n") > 0)
      .groupBy("word").agg(sum(col("n")).as("n")) // hash collisions merge
      .localCheckpoint()
    val rows = profile.count()
    println(s"[bpe-scale] profile rows=$rows (requested $nWords, k=$k)")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val t0 = System.nanoTime()
    spark.sparkContext.addSparkListener(listener)
    val merges =
      try graft.operators.Bpe.trainMergesDistributed(profile, k)
      finally spark.sparkContext.removeSparkListener(listener)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[bpe-scale] distributed: k=${merges.size} jobs=${jobs.get()} " +
      f"wall=$sec%.1f s (jobs/merge=${jobs.get().toDouble / merges.size}%.2f)")

    // truncation check vs the driver-local trainer (bit-identical rule)
    val t1 = System.nanoTime()
    val local = graft.operators.Bpe.trainMergesLocal(profile, truncK)
    val sec1 = (System.nanoTime() - t1) / 1e9
    val same = merges.take(truncK).zip(local).forall { case (a, b) => a == b }
    println(f"[bpe-scale] local truncation k=$truncK wall=$sec1%.1f s " +
      s"bitIdentical=$same")
    if (!same) {
      merges.take(truncK).zip(local).zipWithIndex
        .find { case ((a, b), _) => a != b }
        .foreach { case ((a, b), i) =>
          println(s"[bpe-scale] FIRST DIVERGENCE at rank $i: dist=$a local=$b")
        }
      sys.exit(1)
    }
    spark.stop()
  }
}
