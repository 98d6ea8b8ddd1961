package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Soundness gates for the skipping indexes: pruning may cost extra
  * reads, it must never lose rows — including the adversarial cases
  * truncation and blooms are known to mishandle (shared prefixes
  * straddling a truncated bound; hash collisions).
  */
class SkippingIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/layout"

  test("string range scan equals a plain filter, incl. shared-prefix straddlers") {
    // keys share the 8-char prefix "shared-p" and extend past it, so the
    // truncated max ("shared-p") sorts BELOW every key in the shard —
    // exactly the case a naive upper bound would prune away
    val keys = (0 until 50).map(i => f"shared-p$i%03d") ++
      Seq("aaa", "azz", "mmm", "zzz", "shared-q", "shared-ozzz")
    val df = keys.toDF("k").withColumn("v", length(col("k")))
    val path = tmp("strzm")
    SkippingIndex.writeStringLayout(df, "k", 4, path)
    val man = SkippingIndex.stringManifest(spark.read.parquet(path), "k", 8)
    val ranges = Seq(
      ("shared-p000", "shared-p049"), // inside the shared-prefix run
      ("shared-p04", "shared-q"),     // straddles the truncated bound
      ("a", "b"), ("z", "zz"), ("m", "shared-p005"), ("", "~"))
    ranges.foreach { case (lo, hi) =>
      val got = SkippingIndex.scanStringRange(spark, path, man, "k", lo, hi)
        .select(col("k")).collect().map(_.getString(0)).sorted.toSeq
      val want = keys.filter(k => k >= lo && k <= hi).sorted
      assert(got == want, s"range [$lo, $hi]")
    }
  }

  test("string range pruning actually skips shards on a selective range") {
    val df = ('a' to 'z').flatMap(c => (0 until 20).map(i => s"$c-key-$i"))
      .toDF("k")
    val path = tmp("strzm-prune")
    SkippingIndex.writeStringLayout(df, "k", 8, path)
    val man = SkippingIndex.stringManifest(spark.read.parquet(path), "k", 8)
    val surviving = SkippingIndex.survivingStringShards(man, "a", "b").size
    assert(surviving < 8, s"selective range read all $surviving shards")
    val got = SkippingIndex.scanStringRange(spark, path, man, "k", "a", "b").count()
    assert(got == 20L)
  }

  test("string pruning is sound for keys containing U+FFFF and supplementary chars") {
    // Both key families sort ABOVE a truncated-prefix + U+FFFF sentinel
    // under Spark's UTF-8 binary comparison — the exact shape that made
    // the old ceiling unsound. The increment-last-code-point ceiling
    // must keep their shards readable.
    val ffff = "prefix12￿￿zz"        // U+FFFF after the 8-char cut
    val supp = "prefix12" + new String(Character.toChars(0x1F600)) + "tail"
    val keys = Seq(ffff, supp, "prefix12aaa", "aaa", "zzz") ++
      (0 until 40).map(i => f"filler-$i%03d")
    val df = keys.toDF("k")
    val path = tmp("strzm-nonbmp")
    SkippingIndex.writeStringLayout(df, "k", 4, path)
    val man = SkippingIndex.stringManifest(spark.read.parquet(path), "k", 8)
    // ranges that include the exotic keys: every one must come back
    Seq((ffff, ffff), (supp, supp), ("prefix12", "prefix13"), ("p", "q"))
      .foreach { case (lo, hi) =>
        val got = SkippingIndex.scanStringRange(spark, path, man, "k", lo, hi)
          .select(col("k")).collect().map(_.getString(0)).sorted.toSeq
        // reference predicate evaluated by Spark itself (binary collation)
        val want = df.filter(col("k") >= lo && col("k") <= hi)
          .collect().map(_.getString(0)).sorted.toSeq
        assert(got == want, s"range [$lo, $hi]: $got vs $want")
      }
  }

  test("incrementLastCodePoint produces a strict upper bound and handles carries") {
    assert(SkippingIndex.incrementLastCodePoint("abc") == "abd")
    // U+D7FF increments past the surrogate gap to U+E000
    assert(SkippingIndex.incrementLastCodePoint("a퟿") == "a")
    // U+10FFFF carries into the previous code point
    val top = new String(Character.toChars(0x10FFFF))
    assert(SkippingIndex.incrementLastCodePoint("b" + top) == "c")
    // all-top prefix has no finite bound
    assert(SkippingIndex.incrementLastCodePoint(top + top) == null)
  }

  test("bloom equality scan has no false negatives for ANY present value") {
    val df = (0L until 2000L).map(i => (i, i % 97)).toDF("key", "cust")
    val path = tmp("bloomzm")
    val sharded = ZoneMap.withShard(df, "key", 8)
    ZoneMap.writeLayout(sharded, path)
    val man = SkippingIndex.bloomManifest(
      spark.read.parquet(path), "cust", expectedPerShard = 300)
    (0L until 97L).foreach { v =>
      val got = SkippingIndex.scanEquals(spark, path, man, "cust", v).count()
      val want = df.filter(col("cust") === v).count()
      assert(got == want, s"cust=$v: $got vs $want")
    }
    // absent values return empty (possibly after a false-positive read)
    assert(SkippingIndex.scanEquals(spark, path, man, "cust", 1234L).isEmpty)
  }
}
