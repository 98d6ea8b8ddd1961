package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ids = (0L until 10000L).toDF("id")

  test("withSplit labels every row and respects fractions within tolerance") {
    val out = Sampling.withSplit(ids, "id")
    assert(out.count() == 10000)
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(math.abs(counts("train") - 8000) < 400, s"train=${counts("train")}")
    assert(math.abs(counts("valid") - 1000) < 200, s"valid=${counts("valid")}")
    assert(math.abs(counts("test") - 1000) < 200, s"test=${counts("test")}")
  }

  test("split assignment is a pure function of id — stable under re-layout") {
    val a = Sampling.withSplit(ids, "id").select("id", "split")
    val b = Sampling.withSplit(ids.repartition(13).sortWithinPartitions(desc("id")), "id")
      .select("id", "split")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("different salts decorrelate membership") {
    def half(salt: Long) = Sampling.withSplit(ids, "id", Seq("in" -> 0.5, "out" -> 0.5), salt = salt)
      .filter(col("split") === "in").select("id")
    val (a, b) = (half(1L), half(2L))
    val overlap = a.intersect(b).count().toDouble
    // independent 0.5-samples overlap ~0.25 of the universe
    assert(overlap / 10000 > 0.15 && overlap / 10000 < 0.35, s"overlap=$overlap")
  }

  test("fractions summing above 1 are rejected") {
    intercept[IllegalArgumentException] {
      Sampling.withSplit(ids, "id", Seq("a" -> 0.8, "b" -> 0.4))
    }
  }

  test("stratifiedSample honors per-stratum fractions") {
    val rows = ids.withColumn("lang",
      when(col("id") % 2 === 0, "en").otherwise("de"))
    val out = Sampling.stratifiedSample(rows, "id", "lang",
      Map("en" -> 0.6), defaultFraction = 0.1)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(counts("en") - 3000) < 300, s"en=${counts("en")}") // 5000 × 0.6
    assert(math.abs(counts("de") - 500) < 150, s"de=${counts("de")}")  // 5000 × 0.1
    // membership still a pure function of (id, salt): subset of universe rows
    assert(out.select("id").except(rows.select("id")).isEmpty)
  }

  test("capPerStratum keeps at most cap rows per stratum, deterministically") {
    val rows = ids.withColumn("lang",
      when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "de").otherwise("fr"))
    val capped = Sampling.capPerStratum(rows, "id", "lang", cap = 100)
    val counts = capped.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ == 100), s"got $counts")
    // survivors are a pure function of (id, lang): stable under re-layout
    val again = Sampling.capPerStratum(rows.repartition(11), "id", "lang", cap = 100)
    assert(capped.select("id").except(again.select("id")).isEmpty)
    // a smaller cap selects a prefix of the larger cap's survivors
    val capped10 = Sampling.capPerStratum(rows, "id", "lang", cap = 10)
    assert(capped10.select("id").except(capped.select("id")).isEmpty)
    // strata below the cap pass through whole
    val tiny = rows.filter(col("id") < 30)
    assert(Sampling.capPerStratum(tiny, "id", "lang", cap = 100).count() == 30)
  }

  test("mix-magnitude pre-thinning preserves capPerStratum survivors") {
    // the documented skew-mitigation recipe: filtering on the raw mix value
    // keeps exactly the rank-order prefix, so the capped survivor set is
    // unchanged as long as enough rows clear the threshold per stratum
    val rows = ids.withColumn("lang",
      when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "de").otherwise("fr"))
    val full = Sampling.capPerStratum(rows, "id", "lang", cap = 50)
    val thinned = Sampling.capPerStratum(
      rows.filter(Sampling.mixOf(col("id")) < (1L << 30)), "id", "lang", cap = 50)
    assert(full.select("id").except(thinned.select("id")).isEmpty &&
      thinned.select("id").except(full.select("id")).isEmpty)
  }

  test("mixtureSample hits the target recipe exactly, bounded by the scarcest stratum") {
    // 400 a / 100 b / 50 c; recipe 50/25/25 → c is scarcest: T = 50/0.25 =
    // 200 → caps 100/50/50
    val rows = ((0 until 400).map(i => (i.toLong, "a")) ++
      (1000 until 1100).map(i => (i.toLong, "b")) ++
      (2000 until 2050).map(i => (i.toLong, "c"))).toDF("id", "lang")
    val out = Sampling.mixtureSample(rows, "id", "lang",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang == Map("a" -> 100L, "b" -> 50L, "c" -> 50L), s"got $byLang")
    // deterministic: same survivors on a re-run over re-partitioned input
    val again = Sampling.mixtureSample(rows.repartition(7), "id", "lang",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    assert(out.select("id").except(again.select("id")).isEmpty &&
      again.select("id").except(out.select("id")).isEmpty)
  }

  test("mixtureSample drops unweighted strata; empty weighted stratum empties the result") {
    val rows = ((0 until 60).map(i => (i.toLong, "a")) ++
      (100 until 160).map(i => (i.toLong, "x"))).toDF("id", "lang")
    val out = Sampling.mixtureSample(rows, "id", "lang", Map("a" -> 1.0))
    assert(out.filter(col("lang") =!= "a").count() == 0)
    assert(out.count() == 60)
    val unsat = Sampling.mixtureSample(rows, "id", "lang",
      Map("a" -> 0.5, "missing" -> 0.5))
    assert(unsat.count() == 0, "a positive-weight stratum with no rows makes the recipe unsatisfiable")
  }

  test("weightedSample: k per stratum, deterministic, and weight-proportional") {
    val rows = (0L until 400L).map { i =>
      val stratum = if (i % 2 == 0) "a" else "b"
      val weight = if (i < 200) 10L else 1L // first half heavy in both strata
      (i, stratum, weight)
    }.toDF("id", "s", "w")
    val run1 = Sampling.weightedSample(rows, "id", "s", "w", k = 20)
      .select("id").as[Long].collect().toSet
    val run2 = Sampling.weightedSample(rows, "id", "s", "w", k = 20)
      .select("id").as[Long].collect().toSet
    assert(run1 == run2, "sample must be deterministic")
    assert(run1.size == 40, "exactly k per stratum when strata are large enough")
    val heavy = run1.count(_ < 200L)
    assert(heavy > run1.size / 2,
      s"10x-weighted half holds only $heavy of ${run1.size} slots")
  }

  test("weightedSample: overwhelming weight is always included; zero weight never") {
    val rows = ((0L until 100L).map(i => (i, "x", 1L)) :+ ((500L, "x", 1000000L))
      :+ ((501L, "x", 0L))).toDF("id", "s", "w")
    val got = Sampling.weightedSample(rows, "id", "s", "w", k = 5)
      .select("id").as[Long].collect().toSet
    assert(got.contains(500L), "a 10^6-weight item must make a top-5 of 100 unit weights")
    assert(!got.contains(501L), "zero-weight rows can never be sampled")
    assert(got.size == 5)
  }

  test("weightedSample: a stratum smaller than k returns whole stratum, ranked") {
    val rows = Seq((1L, "tiny", 5L), (2L, "tiny", 7L)).toDF("id", "s", "w")
    val got = Sampling.weightedSample(rows, "id", "s", "w", k = 20).collect()
    assert(got.length == 2)
    assert(got.map(_.getAs[Int]("rk")).sorted.toSeq == Seq(1, 2))
  }

  test("mixOf is a total deterministic shuffle key: no collisions on a dense range") {
    val keys = ids.select(Sampling.mixOf(col("id")).as("k"))
    assert(keys.distinct().count() == 10000, "mix must be injective on 31-bit ids")
    // and the induced permutation is not the identity-ish order
    val firstTen = ids.orderBy(Sampling.mixOf(col("id")), col("id"))
      .limit(10).as[Long].collect().toSeq
    assert(firstTen != (0L until 10L).toSeq)
  }
}
