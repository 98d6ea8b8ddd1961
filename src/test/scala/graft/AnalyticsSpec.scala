package graft

import org.apache.spark.sql.functions._

/** Property tests for the q188–q195 analytics batch: each query's result
  * is re-derived independently (brute force or closed form) at sf0.001.
  */
class AnalyticsSpec extends SparkSpec {

  test("q188 weighted percentiles match a brute-force weighted walk") {
    val rows = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val got = Queries.weightedMedian(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    rows.groupBy(_._1).foreach { case (flag, fr) =>
      val byV = fr.groupBy(_._2).map { case (v, g) => (v, g.map(_._3).sum) }
        .toSeq.sortBy(_._1)
      val tw = byV.map(_._2).sum
      def pick(q: Double): Double = {
        var cum = 0.0
        byV.find { case (_, w) => cum += w; cum >= q * tw }.get._1
      }
      val (p25, p50, p75) = got(flag)
      assert(math.abs(p25 - pick(0.25)) < 0.005, s"$flag wp25")
      assert(math.abs(p50 - pick(0.5)) < 0.005, s"$flag wp50")
      assert(math.abs(p75 - pick(0.75)) < 0.005, s"$flag wp75")
    }
  }

  test("q189 gini matches the direct formula and stays in [0, 1)") {
    val bals = spark.read.parquet(s"$sf0001/customer.parquet")
      .filter(col("c_acctbal") > 0)
      .select(col("c_mktsegment"), col("c_acctbal"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val got = Queries.giniBySegment(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    bals.groupBy(_._1).foreach { case (seg, g) =>
      val xs = g.map(_._2).sorted
      val n = xs.length.toDouble
      val expected =
        2.0 * xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum /
          (n * xs.sum) - (n + 1) / n
      assert(math.abs(got(seg) - expected) < 1e-5, s"$seg gini")
      assert(got(seg) >= 0.0 && got(seg) < 1.0, s"$seg gini out of range")
    }
  }

  test("q190 ACF values are valid correlations and match a direct recompute") {
    val daily = Tables(spark, sf0001, "events")
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
      .toMap
    val rows = Queries.dailyAcf(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tp, lag, acf) = (r.getString(0), r.getInt(1), r.getDouble(3))
      assert(acf >= -1.0 - 1e-9 && acf <= 1.0 + 1e-9, s"$tp lag $lag acf $acf")
      // NB: .toSeq BEFORE collect — collect on a Map producing pairs
      // rebuilds a Map and silently dedups pairs by their first element
      val pairs = daily.toSeq.collect {
        case ((t, d), x) if t == tp && daily.contains((t, d - lag)) =>
          (x.toDouble, daily((t, d - lag)).toDouble)
      }
      val n = pairs.length.toDouble
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val expected = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      assert(math.abs(acf - expected) < 1e-5, s"$tp lag $lag")
    }
  }

  test("q191 CUSUM peak matches a sequential scan and tie-breaks earliest") {
    val daily = Tables(spark, sf0001, "events")
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    Queries.cusumChangepoint(spark, sf0001).collect().foreach { r =>
      val (tp, nDays, cpDay, maxAbs) =
        (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3))
      val series = daily.filter(_._1 == tp).sortBy(_._2)
      assert(series.length.toLong == nDays)
      val mean = series.map(_._3).sum.toDouble / series.length
      var s = 0.0
      var best = (0.0, Int.MaxValue)
      series.foreach { case (_, d, c) =>
        s += c - mean
        if (math.abs(s) > best._1 + 1e-9) best = (math.abs(s), d)
      }
      assert(math.abs(maxAbs - best._1) < 1e-4, s"$tp max |S|")
      assert(cpDay == best._2, s"$tp cp_day")
    }
  }

  test("q192 assortativity is a valid correlation and deterministic") {
    val a = Queries.degreeAssortativity(spark, sf0001).collect().head
    val b = Queries.degreeAssortativity(spark, sf0001).collect().head
    assert(a == b, "non-deterministic result")
    val r = a.getDouble(1)
    assert(r >= -1.0 && r <= 1.0, s"assortativity $r out of range")
    assert(a.getLong(0) > 0)
  }

  test("q193 per-dimension profile is internally consistent") {
    val nVecs = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    val rows = Queries.embeddingProfile(spark, sf0001).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getLong(1) == nVecs)
      val (mean, std, vmin, vmax) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(vmin <= mean + 1e-4 && mean <= vmax + 1e-4)
      assert(std >= 0.0)
    }
  }

  test("q194 top trigram matches a brute-force recount") {
    val ev = Tables(spark, sf0001, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val counts = ev.groupBy(_._1).values.flatMap { g =>
      val seq = g.sortBy(e => (e._2, e._3)).map(_._4)
      seq.sliding(3).filter(_.length == 3).map(t => (t(0), t(1), t(2)))
    }.toSeq.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val top = Queries.pathTrigrams(spark, sf0001).collect()
    assert(top.length <= 20 && top.nonEmpty)
    val got = top.head
    val gotKey = (got.getString(0), got.getString(1), got.getString(2))
    assert(counts(gotKey) == got.getLong(3), "top-1 count mismatch")
    assert(counts.values.max == got.getLong(3), "not the true max")
    // ranking is non-increasing
    assert(top.map(_.getLong(3)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("q196 ANOVA eta-squared matches a direct recompute and is a valid fraction") {
    val daily = Tables(spark, sf0001, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", dayofweek(col("day")))
      .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(2)))
    val got = Queries.dowAnova(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    daily.groupBy(_._1).foreach { case (tp, rows) =>
      val n = rows.length.toDouble
      val s = rows.map(_._3).sum.toDouble
      val ss = rows.map(r => r._3.toDouble * r._3).sum
      val between = rows.groupBy(_._2).values.map { g =>
        val sd = g.map(_._3).sum.toDouble
        sd * sd / g.length
      }.sum - s * s / n
      val total = ss - s * s / n
      val (eta, f) = got(tp)
      assert(math.abs(eta - between / total) < 1e-5, s"$tp eta_sq")
      assert(eta >= 0.0 && eta <= 1.0, s"$tp eta_sq range")
      assert(f >= 0.0, s"$tp f_stat")
    }
  }

  test("q197 winnowing summary is internally consistent") {
    val r = Queries.winnowFingerprints(spark, sf0001).collect().head
    val (distinct, total, shared, avg) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(distinct > 0 && total >= distinct, "fingerprints missing")
    assert(shared <= distinct, "shared exceeds distinct")
    assert(math.abs(avg - total.toDouble / distinct) < 5e-4, "avg mismatch")
    // winnowing keeps ~1/w of gram hashes per doc: far fewer positions
    // than total characters
    val chars = spark.read.parquet(s"$sf0001/documents.parquet")
      .agg(sum(length(col("text")))).first().getLong(0)
    assert(total < chars / 2, s"winnowing kept too much: $total of $chars")
  }

  test("q197 native winnow_hashes matches the HOF formulation per document") {
    val native = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), expr("winnow_hashes(text, 5, 4)").as("fps"))
      .filter(size(col("fps")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    val hof = Queries.winnowFpsHof(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    assert(native.keySet == hof.keySet, "document coverage differs")
    native.foreach { case (id, fps) =>
      assert(fps == hof(id), s"doc $id fingerprint set differs")
    }
  }

  test("q175 native cdc_cuts matches the HOF boundary rule per document") {
    val native = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), expr("cdc_cuts(text, 8, 64)").as("cuts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val hof = Queries.cdcCutsHof(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(native.keySet == hof.keySet)
    native.foreach { case (id, cuts) =>
      assert(cuts == hof(id), s"doc $id cut positions differ")
    }
  }

  test("q198 Spearman pairs are valid and match a brute-force rank correlation") {
    val rows = Queries.spearmanPairs(spark, sf0001).collect()
    assert(rows.length == 28)
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    // brute-force dims (0, 1)
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    def ranks(d: Int): Map[Long, Long] =
      vecs.map(v => (v._1, v._2(d))).sortBy(p => (p._2, p._1))
        .zipWithIndex.map { case ((id, _), i) => (id, i + 1L) }.toMap
    val (r0, r1) = (ranks(0), ranks(1))
    val pairs = vecs.map(v => (r0(v._1).toDouble, r1(v._1).toDouble))
    val n = pairs.length.toDouble
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxy = pairs.map(p => p._1 * p._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val expected = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val got = rows.find(r => r.getInt(0) == 0 && r.getInt(1) == 1).get.getDouble(3)
    assert(math.abs(got - expected) < 1e-5, s"dim(0,1) spearman")
  }

  test("q199 HITS scores are L1-normalized, non-negative, and cover every node") {
    val rows = Queries.hitsRank(spark, sf0001).collect()
    val hubs = rows.map(_.getDouble(1))
    val auths = rows.map(_.getDouble(2))
    assert(hubs.forall(_ >= 0.0) && auths.forall(_ >= 0.0))
    assert(math.abs(hubs.sum - 1.0) < 1e-4, s"hub mass ${hubs.sum}")
    assert(math.abs(auths.sum - 1.0) < 1e-4, s"auth mass ${auths.sum}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val nNodes = Tables(spark, sf0001, "events")
      .select(col("user_id").as("src"), lead(col("user_id"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
      .select(explode(array(col("src"), col("dst"))).as("n"))
      .distinct().count()
    assert(rows.length.toLong == nNodes, "must cover every node")
  }

  test("q200 sketch sliding distinct tracks the exact q169 answer within the envelope") {
    val exact = Queries.slidingDistinct(spark, sf0001).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    val est = Queries.slidingDistinctSketch(spark, sf0001).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(est.keySet == exact.keySet, "day coverage differs from the exact path")
    est.foreach { case (day, (users, events)) =>
      val (exUsers, exEvents) = exact(day)
      assert(events == exEvents, s"$day event totals must be exact")
      // lgK=12 → ~1.6% rse; 5x is a deterministic envelope (sketches are seeded)
      assert(math.abs(users - exUsers) <= math.max(exUsers * 0.08, 3.0),
        s"$day estimate $users vs exact $exUsers outside envelope")
    }
  }

  test("q195 finds zero orphans on the clean star schema, with true child counts") {
    val rows = Queries.refIntegrity(spark, sf0001).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getLong(2) == 0L, s"${r.getString(0)} n_null")
      assert(r.getLong(3) == 0L, s"${r.getString(0)} n_orphan")
      assert(r.getDouble(4) == 0.0)
    }
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet").count()
    assert(rows.find(_.getString(0) == "lineitem.orders").get.getLong(1) == li)
  }
}
