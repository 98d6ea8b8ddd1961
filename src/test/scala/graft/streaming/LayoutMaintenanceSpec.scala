package graft.streaming

import graft.SparkSpec
import graft.operators.ZoneMap
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streamed layout must be indistinguishable from a batch rebuild:
  * same manifest, same pruned-scan answers, and replays must not double
  * anything.
  */
class LayoutMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("streamed appendLayout + manifest store equals the batch-rebuilt manifest") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val (layout, manifest, ckpt) =
      (tmp("zm-layout"), tmp("zm-manifest"), tmp("zm-ckpt"))
    // fresh dirs: the writers expect to create them
    Seq(layout, manifest).foreach(p => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(p)))
    val q = LayoutMaintenance.zoneMapMaintainedSink(
      in.toDF().toDF("k", "v"), "k", n = 8, dmin = 0L, dmax = 999L,
      layout, manifest, ckpt).start()
    val batches = Seq(
      (0L until 300L).map(k => (k, s"a-$k")),
      (250L until 700L).map(k => (k, s"b-$k")),
      (650L until 1000L).map(k => (k, s"c-$k")))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val all = batches.flatten.toDF("k", "v")
    val rebuilt = ZoneMap.manifest(
        ZoneMap.withShard(all, "k", 8, 0L, 999L), "k")
      .orderBy("zshard").collect().map(_.toSeq).toSeq
    val streamed = LayoutMaintenance.mergedManifest(spark, manifest)
      .orderBy("zshard").collect().map(_.toSeq).toSeq
    assert(streamed == rebuilt,
      s"streamed manifest diverged:\n$streamed\nvs rebuilt:\n$rebuilt")

    // the streamed layout holds every row of every batch exactly once
    val written = spark.read.parquet(layout).select("k", "v")
    assert(written.count() == all.count() &&
      written.except(all).isEmpty && all.except(written).isEmpty)
  }

  test("replayed micro-batches are idempotent for both layout and manifest") {
    val (layout, manifest) = (tmp("zm-rep-layout"), tmp("zm-rep-manifest"))
    Seq(layout, manifest).foreach(p => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(p)))
    val batch = (0L until 100L).map(k => (k, s"x-$k")).toDF("k", "v")
    LayoutMaintenance.zoneMapProcessBatch(batch, 0L, "k", 8, 0L, 999L, layout, manifest)
    val rows0 = spark.read.parquet(layout).count()
    val man0 = spark.read.parquet(manifest).count()
    // full replay after commit: marker present → everything skipped
    LayoutMaintenance.zoneMapProcessBatch(batch, 0L, "k", 8, 0L, 999L, layout, manifest)
    assert(spark.read.parquet(layout).count() == rows0, "layout double-appended")
    assert(spark.read.parquet(manifest).count() == man0, "manifest double-written")
    // crash window: layout landed, manifest (the marker) did not — replay
    // must re-write only the manifest
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(manifest))
    LayoutMaintenance.zoneMapProcessBatch(batch, 0L, "k", 8, 0L, 999L, layout, manifest)
    assert(spark.read.parquet(layout).count() == rows0,
      "replay after pre-marker crash duplicated layout rows")
    assert(spark.read.parquet(manifest).count() == man0, "marker not restored")
    // a new batch still lands
    LayoutMaintenance.zoneMapProcessBatch(
      (100L until 150L).map(k => (k, s"y-$k")).toDF("k", "v"),
      1L, "k", 8, 0L, 999L, layout, manifest)
    assert(spark.read.parquet(layout).count() == rows0 + 50)
  }

  test("streaming HLL maintenance: estimates in envelope, reads deterministic, replays skip") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val (stats, ckpt) = (tmp("hll-stats"), tmp("hll-ckpt"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stats))
    val q = LayoutMaintenance.hllMaintainedSink(
      in.toDF().toDF("g", "u"), "g", "u", stats, ckpt).start()
    val batches = Seq(
      (0L until 400L).map(u => ("a", u)) ++ (0L until 100L).map(u => ("b", u)),
      (200L until 600L).map(u => ("a", u)) ++ (50L until 150L).map(u => ("b", u)))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = LayoutMaintenance.mergedDistincts(spark, stats, "g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // NOTE: a single-stream sketch estimates via HIP, a union via the
    // composite estimator — the ESTIMATES may differ slightly by path
    // (registers merge losslessly, estimators don't), so the contract is
    // the error envelope + determinism, not path equality.
    // exact distincts: a = 600, b = 150 — estimates inside the 5% envelope
    assert(math.abs(streamed("a") - 600) <= 30 && math.abs(streamed("b") - 150) <= 8,
      s"estimates outside envelope: $streamed")
    val again = LayoutMaintenance.mergedDistincts(spark, stats, "g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == streamed, "merged read must be deterministic")
    // replay of a committed batch is a no-op
    val rows = spark.read.parquet(stats).count()
    LayoutMaintenance.hllProcessBatch(
      batches.head.toDF("g", "u"), 0L, "g", "u", stats)
    assert(spark.read.parquet(stats).count() == rows, "replay double-appended sketches")
  }

  test("streaming top-k maintenance: bounds contain truth, heavy keys surface, replays skip") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val (stats, ckpt) = (tmp("topk-stats"), tmp("topk-ckpt"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stats))
    val q = LayoutMaintenance.topkMaintainedSink(
      in.toDF().toDF("tok"), "tok", k = 5, stats, ckpt).start()
    // heavy keys shift across batches; the long tail forces truncation
    val batches = Seq(
      Seq.fill(50)("alpha") ++ Seq.fill(30)("beta") ++
        (0 until 40).map(i => s"tail-$i"),
      Seq.fill(40)("beta") ++ Seq.fill(35)("gamma") ++
        (0 until 40).map(i => s"tail-${i % 7}"),
      Seq.fill(60)("alpha") ++ Seq.fill(10)("gamma") ++
        (0 until 30).map(i => s"tail-${i % 5}"))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val truth = batches.flatten.groupBy(identity)
      .map { case (k2, v) => (k2, v.size.toLong) }
    val merged = LayoutMaintenance.mergedTopk(spark, stats).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // store stays summary-sized: <= |batches| * (k + 1) rows
    assert(spark.read.parquet(stats).count() <= batches.length * 6L)
    // every surviving key's true count sits inside [lower, upper]
    merged.foreach { case (key, (lo, hi)) =>
      assert(lo <= truth(key) && truth(key) <= hi,
        s"$key: true ${truth(key)} outside [$lo, $hi]")
    }
    // the SpaceSaving guarantee: any key with true count > sum of
    // dropped_max over all batches MUST be present
    val totalDropped = spark.read.parquet(stats)
      .filter(col("is_marker")).agg(sum(col("cnt"))).first().getLong(0)
    truth.filter(_._2 > totalDropped).keys.foreach { key =>
      assert(merged.contains(key), s"guaranteed key $key missing")
    }
    assert(Seq("alpha", "beta", "gamma").forall(merged.contains))
    // replay of a committed batch is a no-op
    val rows = spark.read.parquet(stats).count()
    LayoutMaintenance.topkProcessBatch(batches.head.toDF("tok"), 0L, "tok", 5, stats)
    assert(spark.read.parquet(stats).count() == rows, "replay double-appended")
  }

  test("top-k maintenance: a heavy NULL key holds a slot without forging the marker") {
    val stats = tmp("topk-null-stats")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stats))
    // NULL is the heaviest key; 'rare' must be the one truncated
    val batch = (Seq.fill(50)(null: String) ++ Seq.fill(30)("hot") ++
      Seq.fill(7)("rare")).toDF("tok")
    LayoutMaintenance.topkProcessBatch(batch, 0L, "tok", k = 2, stats)
    val stored = spark.read.parquet(stats).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getBoolean(2)))
    assert(stored.count(_._3) == 1, "exactly one marker row per batch")
    assert(stored.contains((None, 50L, false)), "NULL key lost its top-k slot")
    assert(stored.contains((Some("hot"), 30L, false)))
    assert(stored.contains((None, 7L, true)),
      s"dropped_max must be rare's 7, not the NULL key's count: ${stored.mkString(",")}")
    val merged = LayoutMaintenance.mergedTopk(spark, stats).collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged(None) == (50L, 50L), "NULL key bounds corrupted by the marker")
    assert(merged(Some("hot")) == (30L, 30L))
  }
}
