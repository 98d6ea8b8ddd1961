package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private val n = 8
  private def layoutDir = new java.io.File(
    System.getProperty("java.io.tmpdir"), s"graft-test-zonemap-${System.nanoTime()}")

  // keys 0..999 with locality (already clustered), a realistic zone-map input
  private def table = (0L until 1000L).map(k => (k, s"payload-$k")).toDF("k", "v")

  test("withShard covers 0 until n, is total, and preserves key locality") {
    val sharded = ZoneMap.withShard(table, "k", n)
    assert(sharded.count() == 1000, "sharding must not drop rows")
    val m = ZoneMap.manifest(sharded, "k").orderBy("zshard").collect()
    assert(m.map(_.getLong(0)).toSeq == (0L until n).toSeq)
    assert(m.map(_.getLong(3)).sum == 1000)
    // fixed-width ranges over a clustered key: shard ranges are disjoint
    m.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) < b.getLong(1),
        s"shard ${a.getLong(0)} max ${a.getLong(2)} overlaps next min ${b.getLong(1)}")
    }
  }

  test("append workflow: batch sharded on the layout's FIXED domain, manifests merge, scan stays exact") {
    val dir = layoutDir
    try {
      // initial layout over domain [0, 999]
      val a = (0L until 600L).map(k => (k, s"a-$k")).toDF("k", "v")
      val shardedA = ZoneMap.withShard(a, "k", n, 0L, 999L)
      ZoneMap.writeLayout(shardedA, dir.getAbsolutePath)
      val ma = ZoneMap.manifest(shardedA, "k")
      // append batch sharded against the SAME domain — no rescan of A
      val b = (400L until 1000L).map(k => (k, s"b-$k")).toDF("k", "v")
      val shardedB = ZoneMap.withShard(b, "k", n, 0L, 999L)
      ZoneMap.appendLayout(shardedB, dir.getAbsolutePath)
      val merged = ZoneMap.mergeManifests(ma, ZoneMap.manifest(shardedB, "k"))
      // mergeability: merged per-batch manifests == full-rescan manifest
      val direct = ZoneMap.manifest(
        ZoneMap.withShard(a.union(b), "k", n, 0L, 999L), "k")
        .orderBy("zshard").collect().map(_.toSeq)
      assert(merged.orderBy("zshard").collect().map(_.toSeq).toSeq == direct.toSeq,
        "merged per-batch manifests must equal the full-scan manifest")
      // and the merged manifest bounds every row on disk, so a range scan
      // that skips shards by it stays exact
      val bounds = merged.collect()
        .map(r => r.getAs[Long]("zshard") -> (r.getAs[Long]("min_key"), r.getAs[Long]("max_key"))).toMap
      val onDisk = spark.read.parquet(dir.getAbsolutePath).select("zshard", "k").collect()
      assert(onDisk.length == 1200, "append must keep every row of both batches")
      assert(onDisk.forall { r =>
        val (lo, hi) = bounds(r.getAs[Number](0).longValue)
        r.getLong(1) >= lo && r.getLong(1) <= hi
      }, "a row outside its shard's merged bounds would be skipped by a pruned scan")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("fixed-domain sharding clamps out-of-domain keys into edge shards, manifest stays honest") {
    val b = Seq((-50L, "low"), (500L, "mid"), (2000L, "high")).toDF("k", "v")
    val sharded = ZoneMap.withShard(b, "k", n, 0L, 999L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("zshard")).toMap
    assert(sharded(-50L) == 0L && sharded(2000L) == (n - 1).toLong)
    val m = ZoneMap.manifest(ZoneMap.withShard(b, "k", n, 0L, 999L), "k")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(0L)._1 == -50L, "edge shard min must record the true out-of-domain key")
    assert(m((n - 1).toLong)._2 == 2000L, "edge shard max must record the true out-of-domain key")
  }

  test("withShard fails fast on an empty input and raises on an all-null key column") {
    import org.apache.spark.sql.functions.lit
    intercept[IllegalArgumentException] {
      ZoneMap.withShard(table.filter(lit(false)), "k", n)
    }
    val allNull = Seq("a", "b").toDF("v").withColumn("k", lit(null).cast("long"))
    val ex = intercept[Exception] {
      ZoneMap.withShard(allNull, "k", n).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("zone-map domain"),
      s"expected the null-domain raise_error, got: ${ex.getMessage}")
  }

  test("fixed-domain shard math divides first: epoch-micros-wide domains don't overflow") {
    // domain width ~ 9.2e18 / 8: the old (key - dmin) * n formula wraps long
    val wide = Seq(0L, Long.MaxValue / 16, Long.MaxValue / 8 - 1).toDF("k")
    val shards = ZoneMap.withShard(wide, "k", n, 0L, Long.MaxValue / 8 - 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("zshard")).toMap
    assert(shards(0L) == 0L, s"min key must land in shard 0: $shards")
    assert(shards(Long.MaxValue / 8 - 1) == (n - 1).toLong,
      s"max key must land in shard ${n - 1}: $shards")
    assert(shards.values.forall(s => s >= 0 && s < n), s"shard out of range: $shards")
  }

  test("q133 skipping soundness: every skipped shard has zero matching rows") {
    val rows = graft.Queries.zoneMapSkipping(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      if (r.getLong(5) == 0L)
        assert(r.getLong(4) == 0L, s"shard ${r.getLong(0)} skipped but has matches")
    }
    assert(rows.exists(_.getLong(5) == 0L), "predicate skips nothing; test is vacuous")
    assert(rows.exists(_.getLong(4) > 0L), "predicate matches nothing; test is vacuous")
  }
}
