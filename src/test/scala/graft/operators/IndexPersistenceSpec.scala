package graft.operators

import graft.SparkSpec

class IndexPersistenceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = {
    val rnd = new scala.util.Random(29)
    (0 until 300).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }
  private lazy val queries = corpus.filter($"vec_id" < 4)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-idx-$tag").toString

  test("ivfSave/ivfLoad round-trips: loaded index searches identically") {
    val built = Similarity.ivfBuild(corpus, numCentroids = 8)
    val dir = tmp("ivf")
    Similarity.ivfSave(built, dir)
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.centroids.map(_._1) == built.centroids.map(_._1))
    val a = Similarity.ivfSearch(built, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val b = Similarity.ivfSearch(loaded, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(a == b)
    // the on-disk layout is one directory per inverted list — the probe
    // join can physically skip unprobed lists
    val dirs = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.isDirectory).filter(_.getName.startsWith("list_id="))
    assert(dirs.length == built.centroids.length,
      s"expected one partition dir per list, got ${dirs.map(_.getName).toSeq}")
    // and ONE file per list: the write repartitions on list_id first, so
    // a list never fans out across writer tasks — without it each of W
    // tasks emits a file per list it holds, O(lists × W) tiny files
    // (113,576 measured at the 1M-doc tier before the fix)
    dirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"${d.getName}: expected exactly 1 part file, got ${parts.length}")
    }
  }

  test("ivfAppendToSaved appends new rows without rewriting existing list files") {
    val built = Similarity.ivfBuild(corpus, numCentroids = 8)
    val dir = tmp("ivf-append")
    Similarity.ivfSave(built, dir)
    def partFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/assigned"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = partFiles()
    // the batch duplicates corpus vectors 0..19 under new ids — each lands
    // in the same list as its twin, so it is findable via the same probes
    val batch = corpus.filter($"vec_id" < 20)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    Similarity.ivfAppendToSaved(spark, dir, batch)
    val after = partFiles()
    assert(before.toSet.subsetOf(after.toSet),
      "append must only add files, never rewrite existing list parts")
    assert(after.size > before.size)
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.assigned.count() == 320)
    val hits = Similarity.ivfSearch(loaded, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every query's identical twin (cosine 1.0) is among its neighbors
    (0L until 4L).foreach { qid =>
      assert(hits.contains((qid, qid + 1000L)),
        s"appended twin of $qid not found: ${hits.filter(_._1 == qid).toSeq}")
    }
  }

  test("packed artifact: search scans pre-built blobs, results identical (pack-equivalence)") {
    val built = Similarity.ivfBuild(corpus, numCentroids = 8)
    val dir = tmp("ivf-packed")
    Similarity.ivfSavePacked(built, dir)
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.packed.nonEmpty, "ivfLoad must attach the packed artifact")
    def rows(idx: Similarity.IvfIndex) =
      Similarity.ivfSearch(idx, queries, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val fresh = rows(built) // packs on the fly
    assert(rows(loaded) == fresh, "pre-packed search diverged from on-the-fly pack")
    // chunking-invariance is what makes a persisted layout legal: a
    // pathological 3-row chunk geometry must return the same rows/ranks
    val dirTiny = tmp("ivf-packed-tiny")
    Similarity.ivfSavePacked(built, dirTiny, blockRows = 3)
    assert(rows(Similarity.ivfLoad(spark, dirTiny)) == fresh,
      "search results must be invariant under the artifact's chunk geometry")
    // the packed layout is also one directory per list — probes prune it —
    // with one blob file per list (write aligned on list_id)
    val dirs = new java.io.File(s"$dir/packed").listFiles()
      .filter(_.isDirectory).filter(_.getName.startsWith("list_id="))
    assert(dirs.length == built.centroids.length)
    dirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"packed ${d.getName}: expected 1 part file, got ${parts.length}")
    }
  }

  test("ivfAppendToSaved keeps the packed artifact coherent (batch-sized writes)") {
    val built = Similarity.ivfBuild(corpus, numCentroids = 8)
    val dir = tmp("ivf-packed-append")
    Similarity.ivfSavePacked(built, dir)
    def packedFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/packed"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = packedFiles()
    val batch = corpus.filter($"vec_id" < 20)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    Similarity.ivfAppendToSaved(spark, dir, batch)
    val after = packedFiles()
    assert(before.toSet.subsetOf(after.toSet),
      "append must only add packed blobs, never rewrite existing ones")
    assert(after.size > before.size, "append must add packed blobs for the batch")
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.packed.nonEmpty)
    // the appended twins are findable THROUGH the packed path
    val hits = Similarity.ivfSearch(loaded, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    (0L until 4L).foreach { qid =>
      assert(hits.contains((qid, qid + 1000L)),
        s"appended twin of $qid not found via packed artifact")
    }
  }
}
