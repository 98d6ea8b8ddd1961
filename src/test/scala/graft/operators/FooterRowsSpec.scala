package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The honest row estimator behind the ANN replicate/copy gates
  * ([[Similarity.estRowsHonest]]). The r16 breach this pins against:
  * `stats.sizeInBytes` is COMPRESSED parquet bytes, and dividing it by the
  * DECODED vector width under-read rows ~3.5× at sf80, so the replicate
  * budget admitted a 1.18 GB true int8 copy under a 1 GiB budget. Footer
  * record counts are exact, jobless metadata — trusted only on
  * row-preserving plans (a filter/join changes cardinality and must fall
  * back to the conservative estimate).
  */
class FooterRowsSpec extends SparkSpec {

  private val dim = 64
  private val n = 2000L
  private val width = dim.toLong * 4L + 24L

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-footer-$tag").toString

  // constant vectors: parquet RLE compresses them far below the decoded
  // 4·dim bytes — exactly the compressed-vs-decoded regime of the breach
  private lazy val dir = {
    val d = tmp("fixture")
    spark.range(n).select(col("id").as("vec_id"),
        array_repeat(lit(1.0f), dim).as("embedding"))
      .coalesce(2).write.mode("overwrite").parquet(d)
    d
  }

  test("footer counts are exact where the compressed-bytes fallback under-reads") {
    val back = spark.read.parquet(dir)
    val (est, src) = Similarity.estRowsHonest(back, width)
    assert(est == BigInt(n), s"footer estimate $est != true rows $n")
    assert(src.contains("footer"), s"expected the footer route, got '$src'")
    // the pre-fix arithmetic on this fixture: under-reads (the direction
    // that admits an over-budget resident copy)
    val st = back.queryExecution.optimizedPlan.stats
    assert(st.rowCount.isEmpty, "fixture must not carry CBO rowCount stats")
    val old = st.sizeInBytes / width + 1
    assert(old < BigInt(n) / 2,
      s"fixture no longer demonstrates the under-read (old est $old vs $n)")
  }

  test("row-preserving nodes keep the footer route; a filter falls back conservatively") {
    val back = spark.read.parquet(dir)
    // project + repartition + sort preserve cardinality → footers trusted
    val preserved = back.select(col("vec_id"), col("embedding"))
      .repartition(4).sortWithinPartitions(col("vec_id"))
    val (est, src) = Similarity.estRowsHonest(preserved, width)
    assert(est == BigInt(n) && src.contains("footer"),
      s"row-preserving plan lost the footer route: ($est, '$src')")
    // a filter changes cardinality → footer counts would over-read; the
    // estimator must fall back (conservative direction: gates decline)
    val filtered = back.filter(col("vec_id") < 10)
    val (_, src2) = Similarity.estRowsHonest(filtered, width)
    assert(!src2.contains("footer"),
      s"filtered plan must not trust footer counts, got '$src2'")
    // in-memory plans (no file relation) keep the sizeInBytes fallback,
    // whose estimate is decoded-width-honest there
    import spark.implicits._
    val mem = (0L until 5L).map(i => (i, Array.fill(dim)(1.0f)))
      .toDF("vec_id", "embedding")
    val (memEst, memSrc) = Similarity.estRowsHonest(mem, width)
    assert(!memSrc.contains("footer") && memEst > 0)
  }

  test("the replicate gate acts on the footer estimate: a budget sized from true rows flips it") {
    val back = spark.read.parquet(dir)
    val corpus = back.select(col("vec_id"), col("embedding"))
    val index = Similarity.ivfBuild(corpus, numCentroids = 4, trainIters = 0)
    // assigned is a projection over the parquet scan — the gate must see
    // ~n true rows, not the compressed-bytes under-read
    val (est, src) = Similarity.estRowsHonest(index.assigned, width)
    assert(src.contains("footer") && est == BigInt(n),
      s"gate input lost the footer route: ($est, '$src')")
    // budget below the true float copy but above the old under-read:
    // pre-fix this replicated float (the breach); now it must decline
    val st = index.assigned.queryExecution.optimizedPlan.stats
    val oldEst = st.sizeInBytes / width + 1
    val budget = ((oldEst * width + BigInt(n) * width) / 2).toLong
    val (_, logs) = withConf("spark.graft.ann.replicateIndexBytes" -> budget.toString) {
      graft.LogCapture("graft.gate") {
        Similarity.ivfSearch(index, corpus.filter(col("vec_id") < 5), k = 3, nprobe = 2)
      }
    }
    val float = logs.filter(_.startsWith("gate ivfSearch replicate float:"))
    assert(float.size == 1 && float.head.contains("declined regime") &&
      float.head.contains(s"estimate ${est * width} from $src"),
      s"gate admitted the float copy on the honest estimate: $logs")
    assert(oldEst * width <= budget,
      "fixture stopped demonstrating the breach (old estimate no longer admits)")
  }
}
