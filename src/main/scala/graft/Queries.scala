package graft

import graft.etl.TypeInference
import graft.functions.NativeTextExpressions
import graft.functions.TextFunctions._
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, Bpe, Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The query surface registered in [[SparkEntry.queries]] — one function per
  * operator category from SURVEY.md §2, each over the driver's parquet
  * tables. Determinism rules (SURVEY.md §7 hard-part 4): every query has a
  * total ORDER BY with a unique tie-break, aggregate doubles are rounded,
  * temporal outputs are formatted strings or dates, pass-through values are
  * left untouched (bit-exact in both engines).
  *
  * Scale notes are inline per query; dimension tables are explicitly
  * broadcast, fact-fact joins shuffle on their join keys, and nothing
  * collects to the driver.
  */
object Queries {

  /** Per-application scratch path for queries that materialize a layout
    * (bucketed tables, partitioned dirs, format roundtrips). Keyed by
    * applicationId: a fixed path corrupts results the moment two engine
    * processes run on one machine (observed: a concurrent bench and
    * verify interleaving writes under the same dir). Within one
    * application the path is stable, so repeated runs overwrite cleanly.
    */
  private def scratch(spark: SparkSession, tag: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-$tag-${spark.sparkContext.applicationId}").getAbsolutePath

  /** Materialize `df` once under [[scratch]] and read it back — the
    * multi-consumer staging idiom: Spark does no CSE across DataFrame
    * references, so each downstream ref would re-execute the whole
    * subtree. The dir is registered for deletion on JVM exit so staged
    * parquet doesn't accumulate in tmp across application runs.
    */
  private def stageScratch(spark: SparkSession, tag: String, df: DataFrame): DataFrame = {
    val dir = scratch(spark, tag)
    df.write.mode("overwrite").parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
    spark.read.parquet(dir)
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Int conf with a validating parse: a typo'd value fails with a
    * message NAMING the conf key at plan-build time, not a bare
    * NumberFormatException from deep inside the planner.
    */
  private def confInt(spark: SparkSession, key: String, default: => Int): Int =
    GraftConf.int(spark, key, default)

  // ---- aggregations (Q7 + §2b agg) ----

  /** TPC-H Q1 shape: scan-heavy partial-agg-friendly group-by — the workhorse
    * for 100 TB scans (map-side combine does most of the work; 6 groups).
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Flagship: 5-table star join. nation/region are broadcast (dim side),
    * lineitem⋈orders and orders⋈customer shuffle on their keys — the plan
    * that survives 1000 executors: two shuffles, no cartesian anywhere.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = t(spark, dir, "lineitem")
    val orders = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00"))
    val customer = t(spark, dir, "customer")
    val nation = broadcast(t(spark, dir, "nation"))
    val region = broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  def countStar(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").agg(count(lit(1)).as("cnt"))

  def groupDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))

  def minMaxAvg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"))
      .orderBy(col("l_returnflag"))

  /** HLL sketch — no DuckDB oracle (approximate); rows-only check. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))

  // ---- scans / filters / projections (Q1–Q6) ----

  def filterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_shipdate").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Top-k: Catalyst compiles orderBy+limit to TakeOrderedAndProject —
    * per-partition heaps, no global sort. The pattern to reach for at scale
    * instead of sort-then-limit.
    */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** D5/Q3 — contradiction filter; Catalyst folds it to an empty relation. */
  def emptyClone(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(lit(false))
      .select(col("l_orderkey"), col("l_quantity"))

  // ---- joins (§2b) ----

  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Non-equi range join with an equi anchor: the equality key carries the
    * shuffle (SortMergeJoin), the range predicate is evaluated post-match —
    * never a cartesian.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val l = t(spark, dir, "lineitem")
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("o_orderkey"))
  }

  /** Forward as-of: each signup's next purchase by the same user. */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    AsOfJoin.forward(signups, purchases, Seq("user_id"), "ts", "ts", Seq("ts"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts_asof"), "yyyy-MM-dd HH:mm:ss").as("next_ts"))
      .orderBy(col("event_id"))
  }

  /** As-of join via union + ordered window (one shuffle; see AsOfJoin). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    AsOfJoin.backward(errors, signups, Seq("user_id"), "ts", "ts", Seq("ts"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts_asof"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"))
      .orderBy(col("event_id"))
  }

  /** Multiset set-ops: EXCEPT ALL / INTERSECT ALL preserve duplicate
    * multiplicity (the DISTINCT forms q19/q20 collapse) — Spark plans
    * both as aggregate+generate over counts, one shuffle each. Customer
    * nation keys vs supplier nation keys: a nation with 30 customers and
    * 4 suppliers keeps 26 rows in EXCEPT ALL and 4 in INTERSECT ALL.
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
    val s = t(spark, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey"))
    c.exceptAll(s).groupBy(col("nationkey")).agg(count(lit(1)).as("except_all_n"))
      .join(
        c.intersectAll(s).groupBy(col("nationkey")).agg(count(lit(1)).as("intersect_all_n")),
        Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("except_all_n"), lit(0L)).as("except_all_n"),
        coalesce(col("intersect_all_n"), lit(0L)).as("intersect_all_n"))
      .orderBy(col("nationkey"))
  }

  /** Last-write-wins keyed upsert: apply a batch of changes to a
    * dimension — matched keys take the batch row, unmatched batch keys
    * insert, everything else carries over (the MERGE INTO shape without
    * history; [[graft.etl.Scd]] is the history-keeping variant). One
    * full-outer join on the key.
    */
  def upsertLastWriteWins(spark: SparkSession, dir: String): DataFrame = {
    val dim = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    // the "change batch": every 10th customer gets a zeroed balance, plus
    // two brand-new keys above the current max
    val maxKey = dim.agg(max(col("c_custkey"))).first().getLong(0)
    val changes = dim.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"), lit(0.0).as("c_acctbal"))
      .unionByName(spark.range(1, 3).select(
        (col("id") + maxKey).as("c_custkey"),
        concat(lit("Customer#new"), col("id")).as("c_name"),
        lit(100.0).as("c_acctbal")))
    dim.as("d").join(changes.as("u"), Seq("c_custkey"), "full_outer")
      .select(col("c_custkey"),
        coalesce(col("u.c_name"), col("d.c_name")).as("c_name"),
        round(coalesce(col("u.c_acctbal"), col("d.c_acctbal")), 2).as("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** As-of join with a staleness TOLERANCE (pandas merge_asof
    * `tolerance`): the most recent signup within 24h, else null — a quote
    * older than the tolerance must not annotate the trade. Same
    * one-shuffle union+window plan as q14; the bound is a post-window
    * filter on the carried match time.
    */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    AsOfJoin.backward(errors, signups, Seq("user_id"), "ts", "ts", Seq("ts"),
        toleranceSeconds = Some(86400.0))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts_asof"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"))
      .orderBy(col("event_id"))
  }

  // ---- windows (§2b) ----

  def windowRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("o_date"), col("o_orderkey"))
  }

  def windowTopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
      .orderBy(col("event_id"))
  }

  // ---- set ops (§2b) ----

  def setUnion(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(t(spark, dir, "supplier").select(col("s_nationkey")))
      .distinct()
      .orderBy(col("nationkey"))

  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(spark, dir, "supplier").select(col("s_nationkey")))
      .orderBy(col("nationkey"))

  def setExcept(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .except(t(spark, dir, "supplier").select(col("s_nationkey")))
      .orderBy(col("nationkey"))

  def unionAllCounts(spark: SparkSession, dir: String): DataFrame = {
    val cur = t(spark, dir, "orders").agg(count(lit(1)).as("cnt"))
      .withColumn("src", lit("current"))
    val hist = t(spark, dir, "orders").agg(count(lit(1)).as("cnt"))
      .withColumn("src", lit("history"))
    cur.unionByName(hist).select(col("src"), col("cnt")).orderBy(col("src"))
  }

  // ---- grouping sets / rollup / cube (§2b) ----

  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** grouping() indicator columns distinguish real NULL group keys from
    * rollup subtotal rows — the introspection half of rollup/cube.
    */
  def groupingIndicators(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT l_returnflag, l_linestatus, count(1) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  // ---- scalar functions (§2a string/date inventory, §2b json/array) ----

  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(col("p_partkey"),
        lower(col("p_type")).as("type_lc"),
        upper(col("p_brand")).as("brand_uc"),
        regexp_replace(col("p_brand"), "#", "_").as("brand_u"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        trim(col("p_name")).as("name_trim"),
        substring(col("p_name"), 1, 5).as("name_pfx"))
      .orderBy(col("p_partkey"))

  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("y"), col("m"))

  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") > 50)
      .orderBy(col("event_id"))

  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_val"),
        round(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x), 4).as("sum_val"))
      .orderBy(col("vec_id"))

  // ---- SQL subquery surface (Q8 EXISTS) ----

  def existsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin)
  }

  // ---- dedup / text / similarity (north star) ----

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactCanonical(t(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  def distinctDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .agg(countDistinct(col("text")).as("n_distinct"), count(lit(1)).as("n_total"))

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    // native single-pass expressions (one JIT'd loop per row) instead of the
    // interpreted-per-element HOF formulations — identical values, parity
    // asserted in NativeTextExpressionsSpec
    NativeTextExpressions.register(spark)
    t(spark, dir, "documents")
      .select(col("doc_id"),
        expr("token_count_native(text)").as("n_tokens"),
        expr("stopword_count_native(text)").as("n_stopwords"),
        round(expr("punct_ratio_native(text)"), 4).as("punct_ratio"))
      .orderBy(col("doc_id"))
  }

  def termFrequency(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    NativeTextExpressions.register(spark)
    t(spark, dir, "documents")
      .filter(col("lang") === "en" && expr("token_count_native(text)") >= 20)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic + fingerprints + BPE-ish subword count. Every
    * column is portable arithmetic (base-31 folds mod 1e9+7, marker
    * counts, boundary splits) — no engine-specific hash — so the panel
    * is hash-checked against a DuckDB replay, not rows-only. The
    * xxhash-based 64-bit simhash remains the q37 pairing signal;
    * [[graft.functions.TextFunctions.portableSimhash32]] is its
    * oracle-checkable sibling.
    */
  def textFingerprints(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        portableSimhash32(col("text")).as("simhash"),
        rollingFingerprint(col("text")).as("fingerprint"),
        langId(col("text")).as("lang_pred"),
        subwordCount(col("text")).as("n_subwords"))
      .orderBy(col("doc_id"))

  /** Embedding-cosine near-duplicate pairs via banded SRP-LSH (rows-only:
    * bucketing is approximate by design; recall-gated in OperatorsSpec
    * against [[cosineExactPairs]]). Auto-tuned bits (corpus size) and table
    * count (0.9 recall target at the threshold).
    */
  def cosineNearDups(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(t(spark, dir, "embeddings"), threshold = 0.2)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact all-pairs cosine above the same threshold [[cosineNearDups]]
    * uses — the oracle-checkable exact baseline the approximate variant's
    * recall is measured against. Corpus bounded (vec_id < 2000) so the
    * O(N²) baseline stays a baseline at any SF.
    */
  def cosineExactPairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.exactCosinePairs(
        t(spark, dir, "embeddings").filter(col("vec_id") < 2000), threshold = 0.2)
      .orderBy(col("id_a"), col("id_b"))

  /** Quantized all-pairs cosine (q63): the [[cosineExactPairs]] shape over
    * int8-quantized vectors. Oracle-checked bit-for-bit — the symmetric
    * quantizer (float32 maxAbs/127 scale, float32 per-element division,
    * exact floor(x+0.5) rounding, clamp ±127, integer dot/norm cosine) is
    * replicated in DuckDB SQL, so this pins the quantizer's exact
    * semantics where q55/q56's gates only pin recall.
    */
  def quantizedCosinePairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.exactCosinePairsQuantized(
        t(spark, dir, "embeddings").filter(col("vec_id") < 2000), threshold = 0.2)
      .orderBy(col("id_a"), col("id_b"))

  /** PQ-compressed ANN top-k (q64, rows-only: the ADC scan is approximate;
    * recall@5 ≥ 0.9 after exact rerank gated in OperatorsSpec). 8 codes/
    * vector (8× smaller than the 64-dim float column even before the
    * rerank shortlist join).
    */
  def pqTopkSimilar(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 5, m = 8)
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF-flat ANN top-k (rows-only: inverted-list search is approximate;
    * centroids k-means-trained, 3 Lloyd's iterations).
    */
  def ivfTopkSimilar(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** End-to-end mini pipeline inside the oracle gate: export `nation` to
    * CSV, re-ingest it all-text (S1–S4/D1), narrow via sampled inference
    * (T1–T4/D3), and report the reconciliation count (Q7/X1). The oracle
    * pins the expected row/column counts and the narrowed types.
    */
  def pipelineRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    t(spark, dir, "nation").coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(s"$tmp/nation")
    val staged = graft.etl.Ingest.readCsvAllText(spark, s"$tmp/nation")
    val typed = graft.etl.TypeInference.inferAndNarrow(staged)
    import spark.implicits._
    Seq((
      "nation",
      typed.count(),
      typed.columns.length,
      typed.schema("n_nationkey").dataType.simpleString,
      typed.schema("n_name").dataType.simpleString))
      .toDF("table_name", "record_count", "n_columns", "key_type", "name_type")
  }

  /** MinHash LSH candidate pairs (rows-only: banding is hash-specific).
    * High-precision banding (2 bands of 8): on a shared-vocabulary corpus
    * loose bands degenerate toward all-pairs. Past the verify-broadcast
    * gate the full-array verify runs as the grid co-group
    * ([[graft.operators.Dedup.gridJaccardVerify]]), so the unthresholded
    * candidate dump scales without moving an array per pair.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(t(spark, dir, "documents"), "doc_id", "text",
        numHashes = 16, bands = 2)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs (rows-only). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(t(spark, dir, "documents"), "doc_id", "text",
        maxHamming = 6)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact top-k cosine neighbors for a broadcast query set. */
  def topkSimilar(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** ANN via banded random-hyperplane LSH (rows-only: approximate;
    * recall-gated vs brute force in OperatorsSpec).
    */
  def lshTopkSimilar(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 50), k = 5,
        numTables = 8, bitsPerTable = 2)
      .orderBy(col("query_id"), col("rk"))
  }

  // ---- multimodal plumbing ----

  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.metaColumns(
        Multimodal.withBinaryPayload(t(spark, dir, "documents"), "doc_id", "text"))
      .orderBy(col("id"))

  /** REAL pixel-decode stats (q206, rows-only — DuckDB can't decode
    * rasters): deterministic synthetic images per document
    * ([[Multimodal.syntheticImages]]: solid-gray w×h rasters, format by
    * `id % 3` over png/gif/bmp), decoded through the actual
    * `javax.imageio` raster path ([[Multimodal.decodePixels]]), then
    * per-format count / decode-success count / avg geometry / avg
    * Rec.601 luma. The format column is recomputed from the id (same
    * `id % 3` rule) instead of joined back, so the whole query is one
    * scan-local encode→decode pass plus one 3-group aggregate — no
    * self-join on the mapPartitions lineage. Exact per-image luma is
    * spec-gated in MultimodalSpec (the fixture is lossless by
    * construction).
    */
  def pixelStats(spark: SparkSession, dir: String): DataFrame = {
    val imgs = Multimodal.syntheticImages(spark, t(spark, dir, "documents"), "doc_id")
    Multimodal.decodePixels(spark, imgs).toDF()
      .withColumn("fmt", element_at(
        array(lit("png"), lit("gif"), lit("bmp")),
        (col("id") % 3 + 1).cast("int")))
      .groupBy(col("fmt"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"),
        round(avg(col("width")), 4).as("avg_width"),
        round(avg(col("height")), 4).as("avg_height"),
        round(avg(col("meanLuma")), 4).as("avg_luma"))
      .orderBy(col("fmt"))
  }

  /** Multimodal feature extraction, oracle-checked: 16-bin normalized byte
    * histogram over the binary payload (a real codec-free content feature —
    * the shape a learned embedding would have), one column per bin. The
    * documents corpus is ASCII, so DuckDB can reproduce the bytes from the
    * text; a float32 division is correctly rounded, so casting the oracle's
    * exact ratio to FLOAT reproduces Spark's value bit-for-bit.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val bin = Multimodal.withBinaryPayload(t(spark, dir, "documents"), "doc_id", "text")
    val feats = Multimodal.byteHistogram(spark, bin, bins = 16).toDF()
    feats.select(col("id").as("doc_id") +: (0 until 16).map(i =>
        round(element_at(col("embedding"), i + 1).cast("double"), 4).as(f"b$i%02d")): _*)
      .orderBy(col("doc_id"))
  }

  // ---- streaming batch mirrors ----

  def tumblingHourly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("user_id"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  // ---- schema inference / catalog reports (S6, D6, T1–T4) ----

  def inferSchemaReport(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part")
    val allText = part.select(part.columns.toSeq.map(c => col(c).cast("string").as(c)): _*)
    val report = TypeInference.schemaReport(allText)
    import spark.implicits._
    report.toDF("column_name", "inferred_type").orderBy(col("column_name"))
  }

  def catalogReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.names
      .map(n => (n, t(spark, dir, n).schema.length))
      .toDF("table_name", "n_columns")
      .orderBy(col("table_name"))
  }

  /** Distributed full-scan type vote via the typed Aggregator (UDAF) —
    * partial aggregation does the lattice widening map-side.
    */
  def typeVoteUdaf(spark: SparkSession, dir: String): DataFrame = {
    val vote = udaf(graft.etl.TypeVoteAggregator)
    t(spark, dir, "part")
      .agg(
        vote(col("p_partkey").cast("string")).as("p_partkey_type"),
        vote(col("p_retailprice").cast("string")).as("p_retailprice_type"),
        vote(col("p_name")).as("p_name_type"))
  }

  // ---- statistical aggregates ----

  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qd"))
      .orderBy(col("l_returnflag"))

  def percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("q75"))
      .orderBy(col("l_returnflag"))

  /** Pivot: one column per return flag. Explicit value list keeps the plan
    * a single pass (no distinct-values pre-query).
    */
  def pivotFlags(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum(col("l_quantity")), 2))
      .select(col("l_linestatus"), col("A").as("qty_a"), col("N").as("qty_n"),
        col("R").as("qty_r"))
      .orderBy(col("l_linestatus"))

  // ---- additional scalar surfaces ----

  def stringExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(col("p_partkey"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        regexp_extract(col("p_brand"), "#([0-9]+)", 1).as("brand_num"),
        locate("a", col("p_name")).as("pos_a"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        reverse(col("p_name")).as("name_rev"))
      .orderBy(col("p_partkey"))

  def dateArith(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        datediff(lit("1998-01-01"), col("o_orderdate")).as("days_to_98"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        dayofweek(col("o_orderdate")).as("dow"))
      .orderBy(col("o_orderkey"))

  def conditionalFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_x"),
        greatest(col("o_totalprice"), lit(150000.0)).as("g"),
        least(col("o_totalprice"), lit(150000.0)).as("l"))
      .orderBy(col("o_orderkey"))

  /** Map functions over JSON props: parse to map<string,int>, inspect keys,
    * extract values — the MapType slice of the array/map/JSON category.
    */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.IntegerType)).as("m"))
      .select(col("event_id"),
        element_at(map_keys(col("m")), 1).as("first_key"),
        element_at(col("m"), "k").as("k_val"))
      .orderBy(col("event_id"))

  // ---- remaining join flavors ----

  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").groupBy(col("c_nationkey").as("nk_c"))
      .agg(count(lit(1)).as("c_cnt"))
    val s = t(spark, dir, "supplier").groupBy(col("s_nationkey").as("nk_s"))
      .agg(count(lit(1)).as("s_cnt"))
    c.join(s, col("nk_c") === col("nk_s"), "full")
      .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
        coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
      .orderBy(col("nationkey"))
  }

  def crossJoinSmall(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "region").select(col("r_name"))
      .crossJoin(t(spark, dir, "lineitem").select(col("l_returnflag")).distinct())
      .orderBy(col("r_name"), col("l_returnflag"))

  /** Salted skew join, oracle-checked against the plain SQL join — the
    * salt must be semantics-invisible, so the DuckDB oracle is simply the
    * unsalted join.
    */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val nation = t(spark, dir, "nation")
      .withColumnRenamed("n_nationkey", "c_nationkey")
      .select(col("c_nationkey"), col("n_name"))
    graft.operators.Skew.saltedJoin(customer, nation, "c_nationkey", saltFactor = 8)
      .select(col("c_custkey"), col("n_name"))
      .orderBy(col("c_custkey"))
  }

  // ---- training-data pipeline: splits, decontamination, TF-IDF ----

  /** Deterministic hash-based train/valid/test split (80/10/10) — per-split
    * document counts and id bounds. The bucket function is portable BIGINT
    * arithmetic ([[graft.operators.Sampling.bucketOf]]), so the DuckDB
    * oracle reproduces the assignment bit-for-bit. Scan-local: assignment
    * adds zero shuffles at any scale; the groupBy here is 3 groups.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.withSplit(t(spark, dir, "documents"), "doc_id")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("split"))

  /** Benchmark decontamination: documents surviving an 8-gram collision
    * filter against a benchmark slice of the corpus (doc_id ≡ 0 mod 10
    * stands in for the eval set). The operator joins on hashed grams
    * (8-byte keys); the oracle joins on the gram strings — id-set equality
    * verifies the hashed path end-to-end.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    graft.operators.Decontaminate.suppress(corpus, bench, "doc_id", "text", "text", n = 8)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Top-5 TF-IDF terms per document (ratio-form idf: tf·N/df — two
    * correctly-rounded IEEE ops, so Spark and DuckDB agree bit-for-bit;
    * ln-based idf ranks identically, it's monotone in N/df). Corpus-wide
    * df and N come from aggregations (N rides a broadcast 1-row cross
    * join, not a driver collect); ranking is a per-doc window. At 100 TB
    * the tf/df aggregations are the standard two-shuffle term-stat jobs;
    * output is bounded to doc_id < 30 here to keep the oracle diff small.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // document frequency is derivable FROM tf (its rows are exactly the
    // distinct (doc, tok) pairs), so stage the narrow tf aggregate once
    // and the corpus is tokenized once instead of twice
    val tf = stageScratch(spark, "tfidf-tf",
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val score = col("tf").cast("double") * col("n") / col("df")
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), score.as("score"),
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(score.desc, col("tok"))).as("rk"))
      .filter(col("rk") <= 5 && col("doc_id") < 30)
      .select(col("doc_id"), col("tok"), round(col("score"), 4).as("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Token-window chunking (50-token windows, stride 40): the packing step
    * before tokenization/embedding. One scan, no shuffle; chunk ids derive
    * from window starts, so the output is layout-independent.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.tokenWindows(t(spark, dir, "documents"),
        "doc_id", "text", size = 50, stride = 40)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Stratified deterministic sampling: keep 50% of English documents,
    * 20% of everything else — the "down-sample the dominant language"
    * shape, stable across runs and re-layout like all Sampling ops.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(t(spark, dir, "documents"),
        "doc_id", "lang", Map("en" -> 0.5), defaultFraction = 0.2, salt = 7L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Deterministic corpus shuffle: a reproducible global permutation via
    * the avalanche mix as sort key ([[graft.operators.Sampling.mixOf]]) —
    * the "shuffle the training corpus identically on every run" op. The
    * output is the sort ORDER itself (key + tie-break), not a materialized
    * global rank, so at scale this is a plain range-partitioned sort with
    * no single-task window.
    */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.operators.Sampling.mixOf(col("doc_id")).as("shuffle_key"))
      .orderBy(col("shuffle_key"), col("doc_id"))

  /** SCD2 merge ([[graft.etl.Scd.merge]]): customer as the version-0
    * dimension, a synthetic snapshot that rotates c_nationkey for every
    * 7th key and adds 50 brand-new keys — covering changed, unchanged, and
    * new paths. The oracle reconstructs the same merged dimension with
    * plain set SQL, so every row the operator emits is hash-checked.
    */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"))
    val dimension = customer
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    val snapshot = customer
      .withColumn("c_nationkey",
        when(pmod(col("c_custkey"), lit(7)) === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")))
      .unionByName(customer.filter(col("c_custkey") < 50)
        // offset by max(c_custkey) so synthetic "brand-new" keys can never
        // collide with real keys at any scale factor (1-row broadcast join)
        .crossJoin(broadcast(customer.agg(max(col("c_custkey")).as("__maxkey"))))
        .select((col("c_custkey") + col("__maxkey") + 1).as("c_custkey"),
          lit(0L).as("c_nationkey")))
    graft.etl.Scd.merge(dimension, snapshot, "c_custkey", Seq("c_nationkey"), newVersion = 1L)
      // open-ended validity surfaces as -1 so the hash compare never rides
      // on engine NULL canonicalization; booleans as 0/1 for the same reason
      .select(col("c_custkey"), col("c_nationkey"), col("valid_from"),
        coalesce(col("valid_to"), lit(-1L)).as("valid_to"),
        col("is_current").cast("int").as("is_current"))
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  /** Dedup clusters: exact cosine pairs at 0.35 resolved into connected
    * components ([[graft.operators.Dedup.connectedComponents]]) — pairs →
    * clusters → canonical id (the cluster label IS min id). The oracle
    * recomputes components with a recursive CTE, so the distributed
    * min-label propagation is hash-checked end-to-end.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Similarity.exactCosinePairs(
      t(spark, dir, "embeddings").filter(col("vec_id") < 2000), threshold = 0.35)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Deterministic per-stratum cap ([[graft.operators.Sampling
    * .capPerStratum]]): at most 30 documents per language, chosen by hash
    * order — the crawl-balancing "cap the dominant domains" op, fully
    * reproducible so the oracle replays the exact survivor set.
    */
  def domainCap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerStratum(
        t(spark, dir, "documents"), "doc_id", "lang", cap = 30)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Exact suppression vs a reference corpus
    * ([[graft.operators.Dedup.suppressExact]]): the operator anti-joins on
    * 128-bit content keys; the oracle anti-joins on the text itself —
    * id-set equality verifies the hashed path.
    */
  def exactSuppress(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val reference = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    graft.operators.Dedup.suppressExact(corpus, reference, "text", "text")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Chunk-level dedup: chunk every document (50/40 windows), then keep
    * one canonical chunk per identical chunk text — the packing-stage
    * "dedupe repeated passages across documents" step, composing
    * [[graft.operators.Chunking]] with [[graft.operators.Dedup
    * .exactCanonical]]. Chunk identity is doc_id·1000 + chunk_idx (chunk
    * counts here are ≪ 1000; a composite key works identically at scale).
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.Chunking.tokenWindows(
        t(spark, dir, "documents"), "doc_id", "text", size = 50, stride = 40)
      .select((col("doc_id") * 1000 + col("chunk_idx")).as("chunk_id"),
        col("chunk_text"))
    Dedup.exactCanonical(chunks, "chunk_id", "chunk_text")
      .orderBy(col("chunk_id"))
  }

  /** Per-language corpus health report: doc counts, token volume, mean and
    * median document length — the "what's in this corpus" summary every
    * curation run starts from. Token counting is the native single-pass
    * expression; the groupBy has |languages| groups.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    NativeTextExpressions.register(spark)
    t(spark, dir, "documents")
      .select(col("lang"), expr("token_count_native(text)").as("__n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        round(avg(col("__n")), 4).as("mean_tokens"),
        round(expr("percentile(__n, 0.5)"), 4).as("median_tokens"))
      .orderBy(col("lang"))
  }

  /** Multimodal E2E: binary payload → byte-histogram features
    * ([[Multimodal.byteHistogram]], the partition-wise decode seam) →
    * exact cosine near-dup pairs — the full "media dedup" pipeline loop in
    * one query, oracle-checked end to end (the oracle rebuilds the float32
    * histograms bit-for-bit and recomputes the pair join in SQL).
    */
  def mediaNearDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 1000)
    val feats = Multimodal.byteHistogram(spark,
      Multimodal.withBinaryPayload(docs, "doc_id", "text")).toDF()
    Similarity.exactCosinePairs(feats, threshold = 0.99999,
        idCol = "id", vecCol = "embedding")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** IVF-PQ ANN (rows-only: both stages approximate; recall-gated in
    * OperatorsSpec): coarse lists prune the scan to ~nprobe/numCentroids,
    * PQ codes cut the scanned bytes to m per vector, exact rerank on the
    * shortlist only — the billion-vector configuration.
    */
  def ivfPqTopkSimilar(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
        numCentroids = 16, m = 8, nprobe = 8)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Gopher-style repetition/diversity report
    * ([[graft.operators.QualityRules.repetitionReport]]): distinct-token
    * ratio, mean token length, top-bigram coverage — per-doc quality
    * signals beyond q32's counts. All ratios are single IEEE divisions of
    * exact integers, so the oracle matches bit-for-bit.
    */
  def repetitionQuality(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QualityRules.repetitionReport(
        t(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** EXACT n-gram Jaccard near-dup pairs ([[Dedup.ngramJaccardAllPairs]]):
    * inverted-index join on trigram hashes, exact |A∩B|/|A∪B| from the
    * group counts — recall 1.0 by construction, hash-checked against a
    * DuckDB oracle that rebuilds the gram sets from the STRINGS (so the
    * hashed join is verified end-to-end, same stance as q66). The Jaccard
    * value is a single IEEE division of exact integers → bit-identical.
    */
  def ngramJaccardDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardAllPairs(t(spark, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.1)
      .withColumn("ngram_jaccard", round(col("ngram_jaccard"), 4))
      .orderBy(col("id_a"), col("id_b"))

  /** Bloom-filter reference suppression ([[Dedup.suppressBloom]]): the
    * shuffle-free scale path of q77 — reference reduces to a broadcast
    * Bloom filter, corpus side filters scan-locally. At fpp 1e-9 on a
    * 500-doc corpus the expected false-positive count is ~5e-7, so the
    * result equals exact suppression and the q77-style oracle applies
    * verbatim (no-false-negative is structural; the fp rate bound is
    * separately gated in OperatorsSpec on a planted corpus).
    */
  def bloomSuppress(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val reference = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    // size the filter from the ACTUAL reference count (one cheap count
    // job), not a constant: a fixed capacity saturates past its SF and
    // the =exact oracle contract silently breaks at scale
    val refDocs = math.max(1000L, reference.count())
    Dedup.suppressBloom(corpus, reference, "text", "text",
        expectedRefDocs = refDocs, fpp = 1e-9)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** JSONL interchange roundtrip ([[graft.etl.Ingest.roundtripJsonLines]]):
    * documents → JSON-lines files → read back with the pinned schema →
    * hash-compared against the parquet original. Exercises the writer's
    * newline/quote/unicode escaping on real document text — the lossless
    * contract an LLM corpus depends on when it ships as JSONL.
    */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
    // per-application scratch (mode=overwrite inside the roundtrip): a
    // fresh UUID dir per invocation leaks a corpus copy per run —
    // deleteOnExit only fires on clean FileSystem close
    graft.etl.Ingest.roundtripJsonLines(docs, scratch(spark, "jsonl"))
      .orderBy(col("doc_id"))
  }

  /** Compression-ratio quality report ([[graft.operators.QualityRules
    * .compressionReport]]) — the Gopher/CCNet "gzip rule". Rows-only at
    * the oracle (DuckDB has no deflate); the expression itself is
    * fixture-tested in NativeTextExpressionsSpec (repetitive ≪ random,
    * determinism, zlib round-trip identity).
    */
  def compressionQuality(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QualityRules.compressionReport(
        t(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Token-budget shard packing ([[graft.operators.Packing
    * .packByTokenBudget]]): global running token total via the two-level
    * prefix-sum decomposition (never a single-partition window), shard id
    * from integer division — every column exact integers, so the DuckDB
    * oracle (which CAN afford the naive global window at sf0.01)
    * hash-checks the distributed scan decomposition bit-for-bit.
    */
  def tokenPacking(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packByTokenBudget(
        t(spark, dir, "documents"), "doc_id", "text",
        budget = 2048L, bucketWidth = 100L)
      .orderBy(col("doc_id"))

  /** Language-ID over the marker-word heuristic
    * ([[graft.functions.TextFunctions.langId]]): per-language marker-hit
    * scores plus the argmax prediction (first-wins ties, 'und' on all
    * zero). Fully deterministic integer scoring — the DuckDB side
    * replicates the tokenizer, marker lists, and tie-break order (and
    * since round 10, q35's whole fingerprint panel is portable and
    * oracle-checked the same way).
    */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val scored = langScores(col("text"))
      .foldLeft(t(spark, dir, "documents")) { case (df, (lang, s)) =>
        df.withColumn(s"s_$lang", s)
      }
    scored.select(col("doc_id") +: langId(col("text")).as("lang_pred") +:
        langScores(col("text")).map { case (lang, _) => col(s"s_$lang") }: _*)
      .orderBy(col("doc_id"))
  }

  /** Domain-mixture sampling ([[graft.operators.Sampling.mixtureSample]]):
    * the largest corpus matching a 40/15/15/15/15 language recipe, each
    * stratum's survivors chosen by deterministic hash order. Caps derive
    * from counts via double arithmetic evaluated in the same order on both
    * engines, and survivor selection is integer rank — hash-exact.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureSample(
        t(spark, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** PII scrubbing ([[graft.operators.Scrub.scrubPii]]) over text with
    * deterministic planted identifiers (so the redaction is exercised on
    * every row, not vacuously green): emails, IPv4s, and card-shaped digit
    * runs → placeholder tokens, plus the per-doc hit count. Patterns are
    * the dialect-portable subset, so the DuckDB oracle replays them
    * exactly (with the 'g' flag — DuckDB redacts first-match by default).
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = t(spark, dir, "documents")
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 card 4111111111111111")))
    graft.operators.Scrub.scrubPii(planted, "text")
      .select(col("doc_id"), col("pii_hits"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** EXACT n-gram containment pairs ([[Dedup.ngramContainmentPairs]]):
    * the quote/embedding detector — asymmetric overlap at 0.5 over
    * trigrams. Same string-joined oracle stance as q80; containments are
    * single IEEE divisions of exact integers.
    */
  def ngramContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(t(spark, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5)
      .withColumn("containment_a", round(col("containment_a"), 4))
      .withColumn("containment_b", round(col("containment_b"), 4))
      .orderBy(col("id_a"), col("id_b"))

  /** Cross-corpus segment dedup ([[Dedup.dedupSegments]]): aligned 3-token
    * segments, first occurrence wins, documents reconstructed from the
    * survivors — the CCNet/RefinedWeb boilerplate-removal shape. On this
    * corpus ~18% of segments are cross-doc duplicates, so the result is
    * meaningfully different from the input while staying bit-exact
    * (pure string ops, integer counts).
    */
  def segmentDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupSegments(t(spark, dir, "documents"), "doc_id", "text", window = 3)
      .select(col("id").as("doc_id"), col("clean_text"), col("n_removed"))
      .orderBy(col("doc_id"))

  /** BM25 top-10 documents for a fixed 3-term query (k1=1.2, b=0.75,
    * Lucene idf ln(1+(N−df+0.5)/(df+0.5))). Term stats are the standard
    * two aggregations (tf per doc×term, df per term); df and the 1-row
    * (N, avgdl) corpus stats ride broadcasts, so the only large-side
    * shuffles are the tf/dl groupBys. Ranking sorts by the ROUNDED score
    * with doc_id tiebreak — `ln` differs by ≤1 ulp across engines, and
    * rounding before ranking makes the order (and the hash compare)
    * immune to that.
    */
  def bm25TopDocs(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "vector", "stream")
    val (k1, b) = (1.2, 0.75)
    val docs = t(spark, dir, "documents")
    // per-doc lengths feed both the corpus stats and the score join —
    // stage the doc-sized length table so ITS explode runs once. The tf
    // path keeps its own corpus scan on purpose: staging the full token
    // explode would write a corpus-sized table to save a corpus-sized
    // read, a wash at best; two scans total (was three) is the floor
    // without that trade
    val dl = stageScratch(spark, "bm25-dl",
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id")).agg(round(sum(col("contrib")), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  /** Bucketed co-located join: both sides written as 4-bucket tables on
    * the join key, then sort-merge joined with ZERO exchanges — the scan's
    * bucket layout IS the join partitioning (asserted in BucketedJoinSpec).
    * This is the 100 TB lever for a fact table joined on the same key
    * every day: pay the bucketing shuffle once at write time, never again
    * at read time. The aggregate mirrors q02's shape so the oracle is a
    * plain join — bucketing must not change the answer.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val wh = scratch(spark, "bucketed")
    Seq("graft_orders_bkt", "graft_customer_bkt").foreach(tn =>
      spark.sql(s"DROP TABLE IF EXISTS $tn"))
    t(spark, dir, "orders")
      .write.mode("overwrite").format("parquet")
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/graft_orders_bkt").saveAsTable("graft_orders_bkt")
    t(spark, dir, "customer")
      .write.mode("overwrite").format("parquet")
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/graft_customer_bkt").saveAsTable("graft_customer_bkt")
    spark.table("graft_orders_bkt").hint("merge")
      .join(spark.table("graft_customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** End-to-end EXACT fuzzy-dedup of the corpus: trigram-Jaccard pairs at
    * 0.5 ([[Dedup.ngramJaccardAllPairs]], recall 1.0) → connected
    * components (distributed min-label propagation) → keep each cluster's
    * min doc_id → surviving corpus. Every stage is exact, so the whole
    * pipeline — candidate generation, clustering, canonical selection,
    * suppression — hash-checks against a recursive-CTE oracle. This is the
    * full "dedup the crawl" operator; the MinHash path (q36→q72) is the
    * same pipeline with approximate candidates for when exact fan-out is
    * too hot.
    */
  def fuzzyDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.ngramJaccardAllPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    val losers = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("cluster_id"))
    docs.join(losers, docs("doc_id") === losers("id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** SemDeDup ([[Similarity.semanticDedup]]): k-means clusters scope the
    * near-dup search, exact cosine verifies every drop. Approximate
    * (cluster-boundary pairs missed) → rows-only; precision-1.0 and
    * planted-duplicate recall are gated in SemanticDedupSpec.
    */
  def semanticDedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(spark, dir, "embeddings"), threshold = 0.45,
        numCentroids = 16)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))

  /** Partitioned write + partition-pruned read: events land partitioned by
    * day, and a one-day query reads ONLY that day's directory (gate:
    * PartitionFilters in the scan, PlanShapeSpec). At 100 TB this is the
    * first-order scan-cost lever — a day query over a year of data touches
    * 1/365th of the files before a single row is decoded. The day is the
    * corpus min date (one tiny driver-side lookup), so the query is
    * self-contained at any SF.
    */
  def partitionPrunedDay(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(spark, "events-by-day")
    val ev = t(spark, dir, "events").withColumn("d", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("d").parquet(out)
    val minDay = ev.agg(min(col("d"))).first().getDate(0)
    spark.read.parquet(out)
      .filter(col("d") === lit(minDay))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type"))
  }

  /** ORC sink + scan roundtrip: the columnar interchange format Spark
    * ships beside parquet, exercised end-to-end (write, re-read, full
    * identity vs the source — the oracle reads the original parquet, so a
    * single lost or mangled value breaks the hash). Strings and fixed
    * types are lossless in ORC; at 100 TB ORC vs parquet is a storage
    * policy choice, and an engine must read both.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(spark, "docs-orc")
    t(spark, dir, "documents").write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** Schema-evolution read: two batches written with DIFFERENT schemas
    * (an old writer without `lang`, a new one without `text`), read back
    * as one DataFrame via mergeSchema with null-fill — the "the pipeline
    * added a column last March" reality of any long-lived lake. The
    * oracle reconstructs the same union with explicit NULLs, so the
    * null-fill semantics are hash-checked, not assumed.
    */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch(spark, "evolving")
    val docs = t(spark, dir, "documents")
    docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$base/old")
    docs.filter(col("doc_id") % 2 =!= 0).select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$base/new")
    spark.read.option("mergeSchema", "true").parquet(s"$base/old", s"$base/new")
      .select(col("doc_id"), col("text"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-weight logistic quality classifier over the oracle-proven q32
    * features — the "fasttext-style quality model" slot in a training-data
    * pipeline, with deterministic weights instead of a learned blob. The
    * keep decision is z >= 0: z is products/sums of correctly-rounded IEEE
    * doubles evaluated in the same order in both engines, so the flag is
    * bit-deterministic; only the sigmoid value needs rounding (exp is the
    * one <=1-ulp op). Single scan, zero shuffle until the final sort.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    NativeTextExpressions.register(spark)
    // stopword ratio defined as 0 for an empty document: an unguarded
    // 0/0 is NULL in Spark but NaN in DuckDB (and NaN >= 0 is true in
    // DuckDB's ordering), so the guard is a correctness requirement for
    // the oracle parity, not just taste
    val stopRatio = when(expr("token_count_native(text)") === 0, lit(0.0))
      .otherwise(expr("stopword_count_native(text)").cast("double") /
        expr("token_count_native(text)"))
    val z = lit(-1.0) +
      lit(0.02) * expr("token_count_native(text)") +
      lit(4.0) * stopRatio -
      lit(6.0) * round(expr("punct_ratio_native(text)"), 4)
    t(spark, dir, "documents")
      .select(col("doc_id"), z.as("z"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4).as("quality"),
        (col("z") >= 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Count-min-sketch term counts: the sketch merges distributively
    * (commutative counter sums — one treeAggregate-shaped agg, no term
    * shuffle), then a handful of probe terms are estimated driver-side —
    * the standard CMS usage at 100 TB, where exact per-term groupBy counts
    * of a hot vocabulary are the thing being avoided. Seeded, so the
    * estimates are deterministic; overestimate-only and ε·N error bounds
    * are gated in QueriesSpec against exact counts.
    */
  def cmsTermCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probes = Seq("spark", "table", "query", "vector", "stream", "the")
    val sketchBytes = t(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(expr("count_min_sketch(tok, 0.001d, 0.99d, 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    probes.map(term => (term, cms.estimateCount(term)))
      .toDF("term", "est_count").orderBy(col("term"))
  }

  /** Incremental dedup ([[Dedup.incrementalDedup]]): docs ≥ 250 are "the
    * new batch", keyed on (source, lang) — the URL-dedup analog. Batch
    * rows with a key the corpus already has are suppressed; within the
    * batch the min-doc_id row per new key survives. Pure set logic →
    * bit-exact oracle.
    */
  def incrementalDedupBatch(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.incrementalDedup(
        docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250),
        Seq("source", "lang"), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM cross-entropy per document — the CCNet/KenLM "LM quality
    * filter" shape with an honest in-engine model: p(tok) = corpus count /
    * corpus total, doc score = avg(−ln p(tok)). Low = stereotypical text,
    * high = rare-token text; both tails get filtered in a real pipeline.
    * One groupBy builds the LM; the vocabulary rides a broadcast here (at
    * 100 TB vocab it becomes a plain shuffle join on tok — same plan
    * minus the hint); the per-doc avg absorbs the ≤1-ulp ln() divergence
    * and round(4) pins the hash.
    */
  def unigramCrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    // three consumers (LM counts, total, per-doc join): stage the
    // narrow token table so the corpus is scanned and tokenized once —
    // the q162 single-scan rule
    val toks = stageScratch(spark, "unigram-toks",
      t(spark, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok")))
    val lm = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = toks.agg(count(lit(1)).as("n"))
    toks.join(broadcast(lm), "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(round(avg(-log(col("c").cast("double") / col("n"))), 4).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** Unpivot/melt: the wide q32 feature row → long (doc_id, feature,
    * value) triples via `Dataset.unpivot` — the shape feature stores and
    * plotting/training exports want. Scan-local (a generator, no
    * shuffle); values unify to double.
    */
  def unpivotFeatures(spark: SparkSession, dir: String): DataFrame = {
    NativeTextExpressions.register(spark)
    t(spark, dir, "documents")
      .select(col("doc_id"),
        expr("token_count_native(text)").cast("double").as("n_tokens"),
        expr("stopword_count_native(text)").cast("double").as("n_stopwords"),
        round(expr("punct_ratio_native(text)"), 4).as("punct_ratio"))
      .unpivot(Array(col("doc_id")), "feature", "value")
      .orderBy(col("doc_id"), col("feature"))
  }

  /** Cross-table fuzzy join ([[Dedup.textFuzzyJoin]]): match the "new"
    * half of the corpus against the "known" half on exact trigram Jaccard
    * — record linkage with scored pairs, recall 1.0 at the threshold.
    */
  def fuzzyJoinHalves(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.textFuzzyJoin(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250),
        "doc_id", "text", n = 3, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("id_l"), col("id_r"))
  }

  /** Small-file compaction ([[graft.etl.Compaction]]): fragment the
    * corpus into 32 tiny files, compact to the byte-derived target (1
    * here), and report the contract — files before/after and the row
    * count surviving the rewrite. The oracle pins exactly that contract;
    * content identity and swap atomicity are gated in CompactionSpec.
    */
  def compactionRun(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val work = scratch(spark, "compact-docs")
    t(spark, dir, "documents").repartition(32)
      .write.mode("overwrite").parquet(work)
    val r = graft.etl.Compaction.compactParquet(spark, work, targetBytes = Long.MaxValue)
    Seq((r.filesBefore, r.filesAfter, r.rows))
      .toDF("files_before", "files_after", "n_rows")
  }

  /** Predicate delete ([[graft.etl.Compaction.deleteWhere]]): stage the
    * corpus, delete every non-English doc, report (deleted, remaining)
    * from the REWRITTEN data. The oracle recomputes both counts from the
    * source table, so a delete that dropped too much or too little — or a
    * swap that lost rows — breaks the hash.
    */
  def deleteWhereRun(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val work = scratch(spark, "delete-docs")
    t(spark, dir, "documents").write.mode("overwrite").parquet(work)
    val r = graft.etl.Compaction.deleteWhere(spark, work, "lang <> 'en'")
    Seq((r.rowsDeleted, r.rowsRemaining)).toDF("rows_deleted", "rows_remaining")
  }

  /** Quantile SKETCH percentiles (`percentile_approx`, GK): the third
    * sketch family next to HLL (q06) and CMS (q98) — at 100 TB exact
    * percentiles mean a full sort per group; the sketch is one mergeable
    * pass with rank error ≤ n/accuracy. Deterministic (GK is not
    * randomized), rows-only (no DuckDB twin); the rank-error guarantee is
    * gated in QueriesSpec against the exact data.
    */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile_approx(l_extendedprice, 0.5, 1000)"), 4).as("p50"),
        round(expr("percentile_approx(l_extendedprice, 0.95, 1000)"), 4).as("p95"))
      .orderBy(col("l_returnflag"))

  /** The remaining rank family over one window: ntile(4), percent_rank,
    * cume_dist on customers by account balance within market segment
    * (c_custkey tiebreak makes every rank deterministic). One shuffle on
    * the partition key; all four functions share a single sort.
    */
  def windowRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(spark, dir, "customer")
      .filter(col("c_custkey") <= 300)
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
      .orderBy(col("c_custkey"))
  }

  // ---- time-series regularization / DQ / training-order (round-7 batch 2) ----

  /** Per-user daily resample with forward fill — the gap-filling step every
    * time-series feature pipeline runs before windowed training. Daily
    * totals per user, a per-user calendar spine (`sequence` between that
    * user's min and max day, exploded) left-joined back, gaps filled with
    * `last(..., ignoreNulls)` over a per-user ordered window.
    *
    * Scale: one shuffle on user_id serves the daily agg, the spine agg, the
    * join, and the fill window. The fill is a per-user running window —
    * linear per partition, never a global sort. Spine fan-out is bounded by
    * the calendar span, not the row count.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 4).as("day_value"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val fill = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("day_value"), ignoreNulls = true).over(fill).as("filled_value"),
        col("day_value").isNull.cast("int").as("is_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Hopping (sliding) window aggregation — the batch mirror of a streaming
    * `window(ts, "4 hours", "2 hours")`: each event lands in 2 overlapping
    * windows. Spark's window() turns the overlap into a scan-local
    * projection (one row per covering window) before a plain two-phase agg;
    * the fan-out factor is windowDuration/slideDuration, constant per row.
    */
  def slidingWindows(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "4 hours", "2 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Data-quality expectations report — the validation gate a pipeline runs
    * before promoting a load (null rate, range, cross-field consistency,
    * FK orphans, duplicate PKs). The per-table conditional checks share ONE
    * scan per table (conditional sums in a single agg, unpivoted via
    * stack); the referential checks are anti-joins that shuffle on the key
    * (broadcastable when the parent is a dim); the dup-PK check is a
    * combinable groupBy-count. Emits (check_name, violations).
    */
  def dqReport(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    val cust = t(spark, dir, "customer")
    val orderChecks = orders.agg(
      sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("a"),
      sum(when(col("o_orderdate").isNull, 1).otherwise(0)).as("b"))
      .selectExpr("stack(2, 'orders_nonpositive_totalprice', a, " +
        "'orders_null_orderdate', b) AS (check_name, violations)")
    val liChecks = li.agg(
      sum(when(!col("l_quantity").between(1, 50), 1).otherwise(0)).as("a"),
      sum(when(!col("l_discount").between(0, 1), 1).otherwise(0)).as("b"),
      sum(when(col("l_extendedprice") <= 0, 1).otherwise(0)).as("c"))
      .selectExpr("stack(3, 'lineitem_quantity_out_of_range', a, " +
        "'lineitem_discount_out_of_range', b, " +
        "'lineitem_nonpositive_price', c) AS (check_name, violations)")
    val shipBeforeOrder = li.join(orders,
        li("l_orderkey") === orders("o_orderkey"))
      .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1).otherwise(0))
        .as("violations"))
      .select(lit("lineitem_ship_before_order").as("check_name"), col("violations"))
    val orphanLi = li.join(orders.select(col("o_orderkey")),
        li("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("lineitem_orphan_orderkey").as("check_name"), col("violations"))
    val orphanOrd = orders.join(cust.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("orders_orphan_custkey").as("check_name"), col("violations"))
    val dupPk = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg(coalesce(sum(col("n") - 1), lit(0)).as("violations"))
      .select(lit("lineitem_dup_pk").as("check_name"), col("violations"))
    Seq(orderChecks, liChecks, shipBeforeOrder, orphanLi, orphanOrd, dupPk)
      .map(_.select(col("check_name"), col("violations").cast("long")))
      .reduce(_ unionByName _)
      .orderBy(col("check_name"))
  }

  /** Deterministic seeded corpus shuffle + shard assignment — training-order
    * randomization that is reproducible across runs and engines. A Knuth
    * multiplicative mix of doc_id (exact 64-bit integer arithmetic, no
    * engine-specific hash) orders docs pseudo-randomly; shard = mix % 8,
    * position = row_number within shard. One shuffle on the shard key; the
    * per-shard sort is Spark's normal partition sort, never a global one.
    * doc_id is pre-reduced mod 2^31 before the multiply so the mix stays
    * inside 64-bit for any doc_id (the unreduced product overflows — and
    * wraps vs raises differently across engines — from doc_id ≈ 3.47e9).
    */
  def seededShuffle(spark: SparkSession, dir: String): DataFrame = {
    val mixed = t(spark, dir, "documents")
      .select(col("doc_id"),
        (((col("doc_id") % lit(2147483648L)) * lit(2654435761L) + lit(40503L))
          % lit(4294967296L)).as("mix"))
      .withColumn("shard", (col("mix") % 8).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("mix"), col("doc_id"))
    mixed.withColumn("position", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("position"))
      .orderBy(col("shard"), col("position"))
  }

  /** Per-label mean-pooled, L2-normalized embedding centroid — the pooling
    * step that turns chunk embeddings into document/class vectors. Emitted
    * as (label, dim, pooled) rows so the oracle hash covers every
    * component. posexplode is scan-local fan-out (×dim); the (label, dim)
    * agg combines map-side; the norm is a per-label window over dim rows
    * (bounded by the embedding width, not the corpus).
    */
  def embeddingPool(spark: SparkSession, dir: String): DataFrame = {
    val mu = t(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("v").cast("double")).as("mu"))
    val perLabel = Window.partitionBy(col("label"))
    mu.withColumn("nrm", sqrt(sum(col("mu") * col("mu")).over(perLabel)))
      .select(col("label"), col("dim"), round(col("mu") / col("nrm"), 4).as("pooled"))
      .orderBy(col("label"), col("dim"))
  }

  /** GPT-style regex pre-tokenizer over the corpus: contraction suffixes,
    * space-prefixed letter/digit/punctuation runs (the lookahead-free core
    * of the GPT-2 pattern, expressible identically in Java regex and RE2).
    * Top token pieces by frequency — the vocabulary-shape profile a BPE
    * trainer starts from. Scan-local extract + explode, one combinable
    * count agg, top-k via global sort of the (piece, n) aggregate (small).
    */
  def pretokenize(spark: SparkSession, dir: String): DataFrame = {
    val pat = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r]+|[ \\t\\n\\r]+"
    t(spark, dir, "documents")
      .select(explode(regexp_extract_all(col("text"), lit(pat), lit(0))).as("piece"))
      .filter(!col("piece").rlike("^[ \\t\\n\\r]+$"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece")).limit(40)
  }

  /** Per-group z-score outlier ranking — the numeric-column anomaly screen
    * (data-cleaning before training). Group stats via one combinable agg,
    * broadcast back (5 rows), score scan-local, global top-50 by |z|.
    * No window over the fact table: stats-join beats a partition window
    * when groups are few and rows are many.
    */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val stats = t(spark, dir, "events").groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
    t(spark, dir, "events")
      .join(broadcast(stats), Seq("event_type"))
      .filter(col("sd").isNotNull && col("sd") > 0)
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .orderBy(abs(col("z")).desc, col("event_id"))
      .limit(50)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 4).as("z"))
  }

  /** Ordered conversion-funnel counts: users who viewed, then clicked
    * strictly after their first view, then purchased strictly after that
    * first qualifying click. Three stage aggregations, each a groupBy on
    * user_id reusing the same shuffle key; stage N+1 joins stage N's
    * (user_id, min_ts) — at scale both sides are user-keyed so the join
    * co-locates with the aggregation.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(col("ts") > col("t0"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    Seq(("1_view", v), ("2_click_after_view", c), ("3_purchase_after_click", p))
      .map { case (n, d) =>
        d.agg(count(lit(1)).cast("long").as("users")).select(lit(n).as("stage"), col("users"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("stage"))
  }

  // ---- round-8 batch: BPE training / ANN maintenance / exact quantiles ----

  /** Eight BPE merges learned from the corpus word profile — see
    * [[graft.operators.Bpe]] for the algorithm and the cross-engine
    * determinism contract that makes the merge table hash-checkable
    * against a DuckDB replay (the oracle unrolls the same eight steps).
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val profile = Bpe.wordProfile(t(spark, dir, "documents"))
    Bpe.mergesDf(spark, Bpe.trainMerges(profile, numMerges = 8))
      .orderBy(col("merge_rank"))
  }

  /** ANN search on an incrementally maintained IVF index: train on the
    * standing corpus (vec_id % 5 != 0), assign-only append the "new
    * crawl" batch (vec_id % 5 == 0), search the merged index. Rows-only
    * at the oracle (inverted-list search is approximate); OperatorsSpec
    * gates merged-index recall against full retrain.
    */
  def ivfAppendTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val index = Similarity.ivfBuild(emb.filter(col("vec_id") % 5 =!= 0))
    val merged = Similarity.ivfAppend(index, emb.filter(col("vec_id") % 5 === 0))
    Similarity.ivfSearch(merged, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Exact interpolated percentiles of l_extendedprice — the hash-checked
    * twin of q106's GK sketch (same column, same probes): the sketch's
    * rank-error gate in QueriesSpec is pinned to this oracle-proven exact
    * baseline. One combinable percentile aggregation; at scale, exact
    * quantiles pay a per-group sort buffer, which is exactly why q106
    * exists — this query is the CI ground truth, not the 100 TB path.
    */
  def exactPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
      .orderBy(col("l_returnflag"))

  /** Train → encode: the eight learned merges (q118) applied back to the
    * corpus, per-document (n_words, n_tokens). The merge table is driver
    * data inlined as plan literals, so encoding is one scan-local pass —
    * see [[graft.operators.Bpe.encodeStats]]. Hash-checked against a
    * DuckDB replay of the identical replace chain.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val merges = Bpe.trainMerges(Bpe.wordProfile(docs), numMerges = 8)
    Bpe.encodeStats(docs, merges).orderBy(col("doc_id"))
  }

  /** Per-column content profile — null count + exact distinct count per
    * column, the ANALYZE-style catalog statistics a pipeline keeps next to
    * the schema report (the reference's dtype profiler, data-type-pandas.py,
    * stops at types; these are the stats DQ baselines and planners consume).
    * ONE table scan: null counts are conditional aggregates and the exact
    * multi-column distincts share the scan via Catalyst's Expand. At 100 TB
    * swap `count_distinct` for `approx_count_distinct` (HLL, q06) and the
    * plan drops the Expand fan-out entirely — exact here because the oracle
    * must hash-match.
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val cols = Seq("lang", "source", "n_chars")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"${c}_nulls"),
      count_distinct(col(c)).as(s"${c}_ndv")))
    val stackArgs = cols.map(c => s"'$c', ${c}_nulls, ${c}_ndv").mkString(", ")
    docs.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${cols.length}, $stackArgs) AS (column_name, n_nulls, n_distinct)")
      .orderBy(col("column_name"))
  }

  /** Equi-depth histogram WITHOUT a global sort — the ANALYZE histogram
    * shape. The textbook `ntile(k) OVER (ORDER BY x)` forces every row
    * through ONE partition (the q84 scale-killer). Bounds are the EXACT
    * 0-based order statistics at ranks rᵢ = ⌊i·(n−1)/k⌋ — each bound IS
    * a data value, the contract the oracle replays via row_number().
    *
    * Physical form (r18, guide §1.2 step 2): the k−1 bounds previously
    * came from ONE exact `percentile` call — an interpreted
    * TypedImperativeAggregate that builds a per-task value→count
    * OpenHashMap row-at-a-time outside codegen and sorts the merged map
    * on the driver; measured 3.6 s of q123's 3.6 s at sf0.1. Replaced
    * by rank arithmetic over a value-count table: one codegen'd
    * groupBy(x) count (combinable — duplicates collapse map-side), a
    * two-level prefix sum of the counts in value order (the
    * [[graft.operators.Packing]] decomposition: value-range buckets →
    * exclusive bucket offsets via a window over |buckets| rows → intra-
    * bucket cumulative, parallel across buckets), then one broadcast
    * range join picks the k−1 values whose cumulative-count window
    * spans each target rank. Identical bounds by construction (the
    * order statistic at rank r is the unique value v with
    * cum(<v) ≤ r < cum(≤v)); A/B'd bit-equal at sf0.01/sf0.1 and the
    * oracle hash is unchanged. Measured: 3.6 s (solo warm, percentile
    * form) → 1.49 s (solo min-of-3) at sf0.1/local[32]. Driver data =
    * k−1 doubles, as before; no stage holds more than a value-range
    * bucket of the distinct-value table at once.
    */
  def equidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val k = 8
    val n = li.count()
    val ranks = (1 until k).map(i => i * (n - 1) / k)
    // distinct-value counts: |V| rows, combinable. Bucket by the value's
    // integer range so bucket order == value order (prices are positive;
    // 256-wide ranges keep |buckets| in the thousands at any SF — it
    // affects only parallelism, never values).
    val vc = li.groupBy(col("l_extendedprice").as("x"))
      .agg(count(lit(1)).as("c"))
      .withColumn("__b", expr("cast(x as long) div 256L"))
    val bucketOffsets = vc
      .groupBy(col("__b")).agg(sum(col("c")).as("__bsum"))
      .withColumn("__boff",
        coalesce(sum(col("__bsum")).over(
          Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__boff"))
    val intra = Window.partitionBy(col("__b")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vc.join(broadcast(bucketOffsets), "__b")
      .withColumn("cum", col("__boff") + sum(col("c")).over(intra))
    // rank r (0-based) lands on value v iff cum(<v) = cum − c ≤ r < cum
    val rankDf = spark.createDataFrame(
      ranks.zipWithIndex.map { case (r, i) => (i, r) })
      .toDF("__i", "__r")
    val bounds = cum.join(broadcast(rankDf),
        col("cum") - col("c") <= col("__r") && col("__r") < col("cum"))
      .select(col("__i"), col("x"))
      .collect().sortBy(_.getInt(0)).toSeq
      .map(r => math.rint(r.getDouble(1) * 10000) / 10000)
    val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("l_extendedprice") > lit(b), 1).otherwise(0)
    }
    li.select(bucket.as("bucket"), col("l_extendedprice").as("x"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        round(min(col("x")), 4).as("lo"), round(max(col("x")), 4).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Z-order layout key over (customer, order-day) — multi-dimensional
    * clustering for file-level pruning on either column; see
    * [[graft.operators.ZOrder]] and the layout-benefit numbers in
    * ZOrderSpec. At scale the key feeds `repartitionByRange(zval)` +
    * sortWithinPartitions before the write; here the key itself is the
    * oracle-checked surface (pure integer bit-interleave, bit-identical
    * across engines).
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val day = datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
    o.select(col("o_orderkey"),
        graft.operators.ZOrder.zvalue(col("o_custkey"), day).as("zval"))
      .orderBy(col("zval"), col("o_orderkey"))
      .limit(1000)
  }

  /** Per-user event-type transition matrix — the Markov-chain counterpart
    * of the q117 funnel (which counts one fixed path; this counts every
    * observed step). Sequencing is a user-partitioned window ordered by
    * (ts, event_id) — the q42 convention, a partition-local sort, never a
    * global one — and the matrix itself is a combinable count over
    * (from, to): at most |types|² rows leave the shuffle.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Join-key skew diagnosis — the detection half of the skew story whose
    * mitigation half is the salted join (q58) and AQE skew splitting: the
    * heaviest join keys with their size ratio over the mean group. Group
    * sizes are a combinable count (|keys| rows leave the shuffle), the
    * mean rides a broadcast 1-row cross join, and the top-10 is a
    * TakeOrdered — no global sort materializes.
    */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val sizes = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("group_size"))
    val mean = sizes.agg(avg(col("group_size")).as("mean_size"))
    sizes.crossJoin(broadcast(mean))
      .select(col("l_orderkey"), col("group_size"),
        round(col("group_size") / col("mean_size"), 4).as("skew_ratio"))
      .orderBy(col("group_size").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Materialized training sequences from the q84 packing assignment —
    * the data-loader artifact: each shard's documents concatenated in
    * doc_id order, the byte-identical ordering proven cross-engine via
    * md5 of the concatenation. The ordered concat is a grouped
    * sort_array(collect_list(...)) — per-shard memory is bounded by the
    * token budget regardless of corpus size, shards parallelize the
    * shuffle, and (unlike the assignment itself, q84) no window is
    * involved at all.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val packed = graft.operators.Packing.packByTokenBudget(
      docs, "doc_id", "text", budget = 2048L, bucketWidth = 100L)
    packed.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy(col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"), col("text").as("t")))),
          x => x.getField("t")), " ").cast("binary")).as("seq_md5"))
      .orderBy(col("bin_id"))
  }

  /** CDC changelog apply — the general MERGE shape that the LWW upsert
    * (q109) is a special case of: a change stream of (key, seq, op ∈
    * {I,U,D}, payload) collapses to final table state. Latest op per key
    * wins (row_number over seq desc); a terminal D deletes the key. One
    * shuffle on the key — at 100 TB this is the nightly CDC merge: the
    * changelog shuffles once, partial dedup happens map-side when the
    * stream is log-ordered, and AQE handles hot keys. The changelog here
    * is synthesized deterministically from orders (every key gets an I;
    * keys ≡0 mod 3 an U re-pricing; keys ≡0 mod 7 a terminal D).
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    // the synthetic changelog unrolls from ONE orders scan via a stack
    // generator (a union of filtered branches would scan orders 3×);
    // a production changelog is simply the input table and skips this
    val changelog = t(spark, dir, "orders")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      .selectExpr("k",
        """stack(3,
           |  1L, 'I', p,
           |  2L, CASE WHEN k % 3 = 0 THEN 'U' END, p + 10.0,
           |  3L, CASE WHEN k % 7 = 0 THEN 'D' END, CAST(NULL AS DOUBLE)
           |) AS (seq, op, v)""".stripMargin)
      .filter(col("op").isNotNull)
    val w = Window.partitionBy(col("k")).orderBy(col("seq").desc)
    changelog
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("k"), col("op").as("last_op"), col("v"))
      .orderBy(col("k"))
  }

  /** Corpus boilerplate suppression — drop every occurrence of any aligned
    * 3-token segment present in more than 2 distinct documents (the
    * CCNet-style frequency cut; q89 is the first-wins variant that always
    * keeps a carrier copy). See [[graft.operators.Dedup.suppressBoilerplate]]
    * for the broadcast-anti-join scale argument.
    */
  def boilerplateSuppress(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup
      .suppressBoilerplate(t(spark, dir, "documents"), "doc_id", "text",
        window = 3, maxDf = 2)
      .select(col("id").as("doc_id"), col("clean_text"), col("n_removed"))
      .orderBy(col("doc_id"))

  /** Interval-union coverage (sweep line) — merge overlapping per-user
    * activity intervals and report how much wall-clock each user actually
    * covered: the gaps-and-islands shape that sessionization (q42)
    * approximates with a fixed gap, done exactly from explicit interval
    * endpoints. Intervals are derived deterministically from events
    * (start = event epoch-second, duration = (event_id mod 7 + 1)
    * minutes). An interval opens a new island iff its start exceeds the
    * running max end of everything before it (running max over a sort
    * within the user partition — scan-local after ONE shuffle on
    * user_id; every stage through the final per-user rollup reuses that
    * partitioning, and integer epoch-seconds keep both engines bit-exact).
    */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val iv = t(spark, dir, "events").select(
      col("user_id"), col("event_id"),
      col("ts").cast("long").as("s"),
      (col("ts").cast("long") + (col("event_id") % 7 + 1) * 60).as("e"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn("new_island",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg((max(col("e")) - min(col("s"))).as("span"), count(lit(1)).as("n"))
    islands.groupBy(col("user_id"))
      .agg(
        sum(col("n")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("span")).as("covered_sec"))
      .orderBy(col("user_id"))
  }

  /** Damped PageRank (3 power-iteration steps) over the user
    * co-occurrence graph: an edge u→v for each consecutive (u, v) pair in
    * an event_type stream ordered by (ts, event_id). The edge builder is
    * one window pass; the iteration is [[graft.operators.Graph.pageRank]]
    * (two exchanges per superstep, checkpointed lineage). Hash-checked
    * against a DuckDB replay of the identical synchronous update,
    * dangling-mass redistribution included.
    */
  def linkRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val edges = t(spark, dir, "events")
      .select(col("user_id").as("src"), lead(col("user_id"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    graft.operators.Graph.pageRank(edges, iters = 3)
      .select(col("node").as("user_id"), round(col("rank"), 8).as("rank"))
      .orderBy(col("user_id"))
  }

  /** Zone-map manifest + skip decision — per-shard min/max stats over a
    * range-clustered layout of the order-day key, with the scan/skip
    * verdict for a fixed 3-month predicate and the per-shard matching-row
    * count proving skipped shards lose nothing (n_match = 0 wherever
    * scanned = 0 — the data-skipping soundness invariant, also asserted
    * in ZoneMapSpec against a physically pruned read). See
    * [[graft.operators.ZoneMap]] for the layout/scan machinery.
    */
  def zoneMapSkipping(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")),
      lit("1992-01-01").cast("date")).cast("long")
    val days = t(spark, dir, "orders").select(day.as("day"))
    val sharded = graft.operators.ZoneMap.withShard(days, "day", 16)
    val epoch = lit("1992-01-01").cast("date")
    val lo = datediff(lit("1995-03-01").cast("date"), epoch).cast("long")
    val hi = datediff(lit("1995-05-31").cast("date"), epoch).cast("long")
    sharded.groupBy(col("zshard"))
      .agg(
        min(col("day")).as("min_day"), max(col("day")).as("max_day"),
        count(lit(1)).as("n_rows"),
        sum(when(col("day").between(lo, hi), 1L).otherwise(0L)).as("n_match"))
      .withColumn("scanned", (col("max_day") >= lo && col("min_day") <= hi).cast("long"))
      .orderBy(col("zshard"))
  }

  /** Weighted sampling without replacement — 20 documents per source,
    * inclusion probability proportional to length (n_chars), via the
    * deterministic A-Res ranking in
    * [[graft.operators.Sampling.weightedSample]]. The DuckDB oracle
    * replays the identical multiply–xorshift uniform and rounded rank
    * key, so the exact sample membership hash-matches.
    */
  def weightedSampleTopk(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      t(spark, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", "source", "n_chars", k = 20)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"), col("skey"))
      .orderBy(col("source"), col("rk"))

  /** Text canonicalization for dedup keys — the native `canon_text`
    * expression (lowercase → NFKD → strip marks → non-alphanumeric runs
    * to single spaces → trim) applied corpus-wide, emitting the
    * canonical-form md5 each exact-dedup family would key on plus the
    * canonical token count. Scan-local (one code-point loop per row, no
    * regex, no shuffle before the output sort). The corpus is ASCII so
    * the DuckDB oracle replays the ASCII projection of the same rules;
    * the Unicode behavior (diacritics, ligatures, non-BMP letters) is
    * pinned by NativeTextExpressionsSpec.
    */
  def canonicalText(spark: SparkSession, dir: String): DataFrame = {
    NativeTextExpressions.register(spark)
    t(spark, dir, "documents")
      .withColumn("canon", expr("canon_text(text)"))
      .select(col("doc_id"),
        md5(col("canon").cast("binary")).as("canon_md5"),
        when(length(col("canon")) === 0, 0L)
          .otherwise(size(split(col("canon"), " ")).cast("long")).as("n_tokens_canon"))
      .orderBy(col("doc_id"))
  }

  /** Prefix-filtered set-similarity join — exact 3-gram-Jaccard ≥ 0.6
    * pairs via [[graft.operators.PrefixJoin.jaccardPrefixJoin]]: q80's
    * gram domain and answer, but candidates come from rarest-gram
    * prefixes instead of the full inverted index, lossless at the
    * threshold by the prefix-filtering bound. Hash-checked against a
    * brute-force DuckDB pair computation; the recall-1.0 and pruning
    * gates live in PrefixJoinSpec.
    */
  def prefixJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PrefixJoin
      .jaccardPrefixJoin(t(spark, dir, "documents"), "doc_id", "text",
        threshold = 0.6, n = 3)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("id_a"), col("id_b"))

  /** Pairwise co-occurrence mining (frequent 2-itemsets): parts ordered
    * together, ranked by basket count — the association shape behind
    * "customers also bought" and feature co-occurrence stats. r19: the
    * pair stream is the one-shuffle basket build ([[copurchasePairRows]],
    * the r18 q163/q168 recipe) instead of the distinct + orderkey
    * self-join — the same (order, a<b part pair) multiset with one
    * exchange before the pair count, not three. TPC-H baskets are
    * bounded (≤7 items), so per-basket fan-out is O(items²) with a small
    * constant; the pair count is combinable (map-side partial) and the
    * top-20 is a TakeOrdered, never a global sort. At 100 TB the same
    * plan holds as long as basket size stays bounded — the degenerate
    * giant-basket case is exactly what q126's skew report detects.
    */
  def coOccurrence(spark: SparkSession, dir: String): DataFrame =
    copurchasePairRows(spark, dir)
      .groupBy(col("a").as("part_a"), col("b").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)

  /** Sequence-pattern matching over per-user event journeys — the
    * MATCH_RECOGNIZE-lite shape: each user's events collapse to an
    * ordered type string (one char per event, (ts, event_id) order — the
    * q42 convention) and regex classes count users per journey pattern,
    * including a negative condition ("conversion with no error in
    * between") that the q117 funnel's per-stage windows cannot express.
    * One shuffle on user_id; the per-user string is bounded by the
    * user's event count; four pattern counts ride ONE aggregation pass.
    */
  def sequenceMatch(spark: SparkSession, dir: String): DataFrame = {
    val seqs = t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")))),
        x => x.getField("c")), "").as("seq"))
    def n(re: String) = sum(when(col("seq").rlike(re), 1L).otherwise(0L))
    seqs.agg(
      count(lit(1)).as("n_users"),
      n("v.*c.*p").as("conversion"),
      n("v[^e]*c[^e]*p").as("error_free_conversion"),
      n("^s").as("signup_first"),
      n("ee").as("repeated_errors"))
  }

  /** Trailing time-RANGE window — per event, the count and value sum of
    * the SAME USER's events in the trailing hour: a true RANGE frame over
    * event-time seconds (frame membership by time distance, ties included
    * set-wise), which neither the rows-frame running total (q15) nor the
    * hopping buckets (q111) expresses. Integer epoch-seconds keep frame
    * membership bit-identical across engines; the frame sum is rounded.
    * One shuffle on user_id; the frame scan is partition-local.
    */
  def trailingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("user_id"), col("event_id"),
      col("ts").cast("long").as("sec"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-3599, 0)
    ev.select(col("user_id"), col("event_id"), col("sec"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("value")).over(w), 4).as("sum_1h"))
      .orderBy(col("user_id"), col("sec"), col("event_id"))
  }

  /** Snapshot diff / reconciliation — classify every key across two table
    * versions as added / removed / changed / unchanged (the content-level
    * generalization of the reference's record-count reconciliation,
    * load_tables_daily.py's post-load check). The "new" snapshot is
    * synthesized deterministically from orders (keys ≡0 mod 13 deleted,
    * ≡0 mod 11 re-priced, ≡0 mod 17 re-inserted under the NEGATED key —
    * o_orderkey is non-negative at every SF, so synthetic inserts can
    * never collide with a real key, unlike any fixed positive offset).
    * One full-outer join on the key — the canonical anti-entropy shape;
    * at 100 TB both sides shuffle once on the key and the per-class
    * rollup is combinable.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
    // the synthetic next snapshot unrolls from ONE scan via stack (the
    // q128 pattern — filtered union branches would scan orders twice
    // more); the join below adds the second, irreducible scan
    val next = o.selectExpr(
        """stack(2,
          |  CASE WHEN k % 13 <> 0 THEN k END,
          |  CASE WHEN k % 11 = 0 THEN v + 5.0 ELSE v END,
          |  CASE WHEN k % 17 = 0 THEN -k - 1 END,
          |  v
          |) AS (k, v)""".stripMargin)
      .filter(col("k").isNotNull)
    val joined = o.select(col("k"), col("v").as("v_old"))
      .join(next.select(col("k"), col("v").as("v_new")), Seq("k"), "full_outer")
    joined.select(col("k"),
        when(col("v_old").isNull, "added")
          .when(col("v_new").isNull, "removed")
          .when(col("v_old") =!= col("v_new"), "changed")
          .otherwise("unchanged").as("class"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy(col("class"))
  }

  /** Temperature-weighted mixture sampling — per-source sampling budgets
    * ∝ n^0.7 (the multilingual-LLM upsampling rule: temperature flattens
    * the head without drowning the tail), realized as deterministic
    * hash-fraction membership per source ([[graft.operators.Sampling]]
    * buckets, salt 42). Where q86 takes an EXPLICIT recipe, this derives
    * the recipe from corpus counts. The α-weights ride a 1-row broadcast;
    * selection is scan-local; `round(…, 9)` before `floor` absorbs the
    * ≤1-ulp cross-engine `pow` difference (the q134 stance).
    */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(pow(col("n_docs"), 0.7)).as("wsum"))
    val frac = counts.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"),
        floor(round(pow(col("n_docs"), 0.7) / col("wsum") * 1000.0, 9))
          .cast("long").as("n_target"))
      .withColumn("threshold",
        least(lit(10000L),
          floor(round(col("n_target") * 10000.0 / col("n_docs"), 9)).cast("long")))
    val sampled = docs.join(broadcast(frac), "source")
      .filter(graft.operators.Sampling.bucketOf(col("doc_id")) < col("threshold"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
    frac.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_target"), col("threshold"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy(col("source"))
  }

  /** Document novelty scoring — the fraction of each document's distinct
    * 3-grams that occur NOWHERE else in the corpus (df = 1): the
    * diversity/selection signal dedup families consume from the other
    * side (a doc whose grams are all corpus-unique is novel; one whose
    * grams are all shared is boilerplate). Hashed grams (q80 stance), df
    * via one combinable aggregation, one join back — two shuffles total.
    */
  def noveltyScore(spark: SparkSession, dir: String): DataFrame = {
    NativeTextExpressions.register(spark)
    val grams = t(spark, dir, "documents")
      .select(col("doc_id"), expr("word_ngram_hashes(text, 3)").as("__gs"))
      .select(col("doc_id"), explode_outer(col("__gs")).as("gh"))
      .filter(col("gh").isNotNull)
    val df = grams.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    grams.join(df, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"),
        round(col("n_unique").cast("double") / col("n_grams"), 4).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Join-size estimation from per-key histograms — |A ⋈ B| computed as
    * Σₖ cntA(k)·cntB(k) over the two COUNT tables, never materializing
    * the join itself: the planner-style diagnostic that tells you a join
    * will explode BEFORE you run it (the prediction side of q126's skew
    * detection). Three join shapes profiled: the FK join, a many-to-many
    * key, and a low-cardinality key whose product blows up. Each side is
    * one combinable aggregation; the histogram join carries |keys| rows,
    * not |rows|.
    */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    def profile(name: String, a: DataFrame, ak: String,
                b: DataFrame, bk: String): DataFrame = {
      val ca = a.groupBy(col(ak).as("k")).agg(count(lit(1)).as("ca"))
      val cb = b.groupBy(col(bk).as("k")).agg(count(lit(1)).as("cb"))
      ca.join(cb, "k")
        .agg(sum(col("ca") * col("cb")).as("join_rows"),
          count(lit(1)).as("matched_keys"),
          max(col("ca") * col("cb")).as("hottest_key_rows"))
        .select(lit(name).as("join_name"), col("join_rows"),
          col("matched_keys"), col("hottest_key_rows"))
    }
    profile("1_lineitem_orders_fk", li, "l_orderkey", ord, "o_orderkey")
      .unionAll(profile("2_lineitem_self_partkey", li, "l_partkey", li, "l_partkey"))
      .unionAll(profile("3_orders_self_priority", ord, "o_orderpriority", ord, "o_orderpriority"))
      .orderBy(col("join_name"))
  }

  /** Cohort retention matrix — users grouped by their first-activity week
    * (integer epoch-week, bit-exact across engines), tracked by distinct
    * activity in each subsequent week offset: the product-analytics
    * staple behind every retention curve. Two combinable aggregations
    * (first week per user, distinct user-week activity) and one join on
    * user_id — no window, no cross join; the OUTPUT is |cohorts|×
    * |offsets|, but the cohort table is one row PER USER (unbounded), so
    * the join is left unhinted: Spark broadcasts it while small and
    * shuffles both sides on user_id at billion-user scale.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weeks = t(spark, dir, "events")
      .select(col("user_id"), expr("CAST(ts AS BIGINT) div 604800").as("week"))
    val activity = weeks.distinct()
    val cohorts = activity.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    activity.join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Sparse TF-IDF cosine pairs — lexical similarity with dot products
    * over shared TERMS (the sparse counterpart of the dense-embedding
    * cosine family q38/q55/q61): w = tf·ln(N/df), so corpus-wide terms
    * carry weight 0 and never contribute. EXACT-BASELINE STANCE (the
    * q61 precedent): capped to doc_id < 1000 — at scale you run q136's
    * prefix filter or q55's banded SRP first and use this as their
    * recall oracle on a slice. Thresholding on the ROUNDED cosine keeps
    * the boundary decision identical across engines.
    *
    * Physical form (r18, guide §1.2/§3): the query rides the
    * [[graft.operators.PrefixJoin.weightedCosinePrefixJoin]] kernel,
    * whose small-corpus regime stages the sorted sparse vectors once
    * and runs the n²/2 codegen'd merge-dots through ONE broadcast
    * nested-loop join — zero pair-keyed exchange. The original
    * inverted-index formulation ([[tfidfCosinePairsTermJoin]]) shuffles
    * Σ df² joined term rows into a (id_a, id_b) hash aggregation and
    * then joins norms twice; on the capped slice the nested loop was
    * measured 2.3× faster (solo A/B, plans/r18/q145_*.txt) with the
    * identical verified pair set. Equivalence is spec-pinned BOTH ways:
    * PrefixJoinSpec proves kernel == term-join form on the slice
    * (1e-9 on rounded cosines), PipelineOpsSpec proves the query
    * against an implementation-independent local recount, and the
    * DuckDB oracle hash (which replays the inverted-index definition)
    * stays green — the oracle contract is unchanged.
    */
  def tfidfCosinePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PrefixJoin.weightedCosinePrefixJoin(
        t(spark, dir, "documents").filter(col("doc_id") < 1000),
        "doc_id", "text", 0.6)
      .orderBy(col("id_a"), col("id_b"))

  /** The original q145 physical form — inverted-index term self-join
    * (Σ df² candidate rows through the pair aggregation), kept as the
    * reference implementation PrefixJoinSpec pins the kernel against.
    * Not in the bench path; [[tfidfCosinePairs]] rides the prefix-join
    * kernel with the spec-pinned identical answer.
    */
  private[graft] def tfidfCosinePairsTermJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 1000)
    val terms = docs.select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"), x => length(x) > 0)).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nRow = docs.agg(count(lit(1)).as("n_docs"))
    // consumed three times (norms + both sides of the term self-join):
    // stage the narrow weight table once or the explode/tf/df pipeline
    // re-executes per consumer
    val w = stageScratch(spark, "tfidf-w",
      tf.join(dfT, "term").crossJoin(broadcast(nRow))
        .select(col("doc_id"), col("term"),
          (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("w")))
    val norms = w.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val dots = w.as("a").join(w.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("id_a"), col("nrm").as("na")), "id_a")
      .join(norms.select(col("doc_id").as("id_b"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("dot") / (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= 0.6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Uncapped exact tf-idf cosine pairs — the weighted prefix join
    * ([[graft.operators.PrefixJoin.weightedCosinePrefixJoin]]) run over
    * the FULL documents corpus: q145's semantics with the `doc_id <
    * 1000` exact-baseline cap removed, because candidates come from
    * rare-term prefixes (suffix-L2 bound) instead of the Σ df² term
    * self-join. Threshold 0.7 (vs q145's 0.6): prefix lengths — and so
    * candidate volume — fall superlinearly in t, and on the
    * template-dense synthetic corpus the 0.6 answer alone is millions
    * of pairs (the answer IS the cost; it was 27% of the whole bench).
    * The 0.6-slice equivalence with q145 stays spec-gated on the kernel
    * (PrefixJoinSpec); this query prices the uncapped production run.
    * The DuckDB oracle replays the same prefix mathematics through
    * window functions (its own term ordering — losslessness is
    * ordering-independent, so both engines land on the identical
    * verified pair set).
    */
  def weightedPrefixJoinPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PrefixJoin.weightedCosinePrefixJoin(
      t(spark, dir, "documents"), "doc_id", "text", 0.7)
      .orderBy(col("id_a"), col("id_b"))

  /** BOUNDED-output sibling of q148: the top-`k` nearest tf-idf cosine
    * neighbors per document above a high-precision threshold, through
    * the SAME [[graft.operators.PrefixJoin.weightedCosinePrefixJoin]]
    * kernel. q148 is output-bound on template-dense corpora (6.6M pairs
    * ≥ 0.6 at sf0.1 — the answer IS the cost); this is the operator a
    * production pipeline actually runs: the 0.8 threshold collapses the
    * prefix lengths (tail ≥ t keeps fewer, rarer terms — candidate
    * volume falls superlinearly in t), and the per-doc cap bounds the
    * emission no matter how dense the corpus. Deterministic: cosine is
    * rounded to 4 BEFORE ranking and neighbor id breaks ties, so the
    * top-k cut is engine-independent (the q148 oracle contract).
    */
  def prefixJoinTopK(spark: SparkSession, dir: String): DataFrame = {
    // the pair kernel is the expensive subtree and the symmetrizing
    // union references it TWICE (no CSE across DataFrame refs — each
    // ref would re-generate and re-verify every candidate); stage the
    // narrow pair set once and union the cheap staged scan
    val pairs = stageScratch(spark, "prefixtopk-pairs",
      graft.operators.PrefixJoin.weightedCosinePrefixJoin(
        t(spark, dir, "documents"), "doc_id", "text", 0.8))
    val sym = pairs
      .select(col("id_a").as("doc_id"), col("id_b").as("nbr_id"), col("cosine"))
      .unionAll(pairs
        .select(col("id_b").as("doc_id"), col("id_a").as("nbr_id"), col("cosine")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    sym.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** The ANN swap for bounded-k neighbor search — q203's honest 100 TB
    * path, demonstrated on the same vector model instead of claimed in
    * prose: the tf-idf unit vectors feature-hashed to dense float
    * embeddings ([[graft.operators.PrefixJoin.hashedTfidfEmbeddings]],
    * signed hashing kernel — hashed cosine is an unbiased estimate of
    * the exact tf-idf cosine) and searched corpus-vs-corpus with
    * IVF-flat ([[graft.operators.Similarity.ivfSearch]]): train
    * k-means centroids, assign each vector to its inverted list
    * scan-locally, probe only the nprobe nearest lists per query for a
    * 25-candidate shortlist, then rerank the shortlist by EXACT sparse
    * cosine and keep the top 5 at the q203 floor. Work is
    * Σ(probe-list sizes) instead of n²/2 — sublinear per query, and
    * every stage distributes (the lists shuffle on list_id, nothing
    * quadratic materializes). Rows-only: ANN is approximate by design;
    * recall ≥ 0.9 of q203's exact answer is spec-gated
    * (PrefixJoinSpec), which is the contract that makes the swap safe.
    */
  def annTopkTfidf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeTextExpressions.register(spark)
    // ONE staged artifact carries both vector forms: the sparse rerank
    // vectors (consumed twice — side a / side b broadcasts, no exchange
    // reuse) and the hashed dense embeddings (consumed by build + query
    // sides). Column pruning means each consumer reads only its columns
    // from the staged parquet; the tf-idf pipeline executes once.
    val vecs = stageScratch(spark, "ann-tfidf-vecs",
      graft.operators.PrefixJoin.vectorTableFromUnit(
        graft.operators.PrefixJoin.unitTfidfTable(
          t(spark, dir, "documents"), "doc_id", "text"), dim = 256))
    val emb = vecs.select(col("id").as("vec_id"), col("embedding"))
    val sparse = vecs.select(col("id"), col("ks"), col("vs"))
    // hashed index → 25-candidate shortlist; EXACT sparse rerank picks
    // the final 5, so hash distortion can only cost recall via a probe
    // miss, never by reordering the shortlist. Same floor + tie-break
    // as q203, so the two answers are directly comparable.
    // the staged embeddings read back as ONE partition; the inverted
    // lists inherit that (assignment is scan-local), and the probe join
    // would score every (query, candidate) pair in a single task — fan
    // the corpus side out first
    val fanout = graft.GraftConf.explosiveFanout(spark)
    // hashed floor 0.6 = the exact 0.8 floor minus generous hash-
    // distortion slack: candidates whose hashed cosine is below it are
    // essentially never true ≥0.8 pairs, so the index prunes them
    // before ranking (the recall gate in spec is the safety net)
    // the QUERY side needs the same fan-out as the build side: the
    // staged embedding parquet reads back as one partition, and the
    // per-query probe-list expression (interpreted HOF over the inlined
    // codebook) would otherwise evaluate in a single task (~3 s here)
    val (nLists, nprobe) = graft.operators.Similarity.ivfAutoGeometry(spark, emb.count())
    // extra Lloyd iterations do NOT buy recall here (measured 0.924 @ 1
    // iter → 0.908 @ 5: tighter centroids split near-dup neighborhoods
    // across list boundaries), so training stays at 1
    val shortlist = graft.operators.Similarity
      .ivfSearch(graft.operators.Similarity
          .ivfBuild(emb.repartition(fanout), numCentroids = nLists,
            trainIters = confInt(spark, "spark.graft.ann.trainIters", 1)),
        emb.repartition(fanout), k = 25, nprobe = nprobe,
        // floor relaxed by the int8 quantization margin: with the
        // in-operator rerank deliberately OFF (below), the int8 regime
        // applies this floor to APPROXIMATE scores, and a neighbor whose
        // true hashed cosine clears 0.6 can score just under it and
        // silently drop out of the shortlist; the downstream exact
        // sorted_dot ≥0.8 rerank restores precision either way, so the
        // relaxation only widens the shortlist (float regime: admits a
        // thin band below 0.6 the 0.8 rerank then rejects).
        minCosine = Some(0.6 - graft.operators.Similarity.Int8FloorMargin),
        // the sorted_dot ≥0.8 rerank below rescoring TRUE tf-idf vectors
        // makes any in-operator quantized-shortlist rerank a redundant
        // second pass — the ivfSearch output is a shortlist heuristic
        // here, so approximate scores are the honest (and 4× cheaper
        // at sf20) contract for this composition
        quantizedRerank = Some(false))
      .select(col("query_id").as("doc_id"), col("neighbor_id").as("nbr_id"))
    val reranked = shortlist
      .join(broadcast(sparse.select(col("id").as("doc_id"), col("ks").as("ka"), col("vs").as("va"))), "doc_id")
      .join(broadcast(sparse.select(col("id").as("nbr_id"), col("ks").as("kb"), col("vs").as("vb"))), "nbr_id")
      .withColumn("cosine", round(expr("sorted_dot(ka, va, kb, vb)"), 4))
      .filter(col("cosine") >= 0.8)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    reranked.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("nbr_id"), col("cosine"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Survivorship policy over near-dup clusters — q92 keeps each
    * cluster's MIN-ID document; production dedup keeps the BEST copy.
    * Same exact pair graph (3-gram Jaccard ≥ 0.5) and connected
    * components, then an argmax by quality (longest text, id tie-break)
    * per cluster — a combinable max(struct(quality, −id)), never a
    * window over the cluster partition. Output: one row per multi-doc
    * cluster with its size and the surviving document.
    */
  def survivorship(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = graft.operators.Dedup
      .ngramJaccardAllPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    val clusters = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
    clusters.join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars").as("q"), (-col("id")).as("negid"))).as("w"))
      .select(col("cluster_id"), col("n_members"),
        (-col("w.negid")).as("survivor_id"), col("w.q").as("survivor_chars"))
      .orderBy(col("cluster_id"))
  }

  /** Conversion-lag distribution — how long users take from first view
    * to first purchase: the DURATION analytics the funnel (q117, stage
    * counts) and transitions (q125, step counts) don't expose. One
    * combinable conditional-min aggregation per user, then exact
    * percentiles over integer lag-seconds (the GK sketch q106 is the
    * stated 100 TB swap). A user converts iff their first purchase is at
    * or after their first view.
    */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts").cast("long").as("sec"))
    val firsts = ev.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view", col("sec"))).as("first_view"),
      min(when(col("event_type") === "purchase", col("sec"))).as("first_purchase"))
    firsts
      .filter(col("first_purchase") >= col("first_view"))
      .select((col("first_purchase") - col("first_view")).as("lag_sec"))
      .agg(
        count(lit(1)).as("n_converters"),
        round(expr("percentile(lag_sec, 0.5)"), 2).as("p50_lag"),
        round(expr("percentile(lag_sec, 0.9)"), 2).as("p90_lag"),
        max(col("lag_sec")).as("max_lag"))
  }

  /** Robust outlier detection by median absolute deviation — the
    * companion to the z-score screen (q116) that survives heavy-tailed
    * value distributions (a single extreme event inflates a stddev but
    * not a median). Two exact-percentile aggregations with a broadcast
    * join between them; at 100 TB swap `percentile` for the GK sketch
    * (q106) and the passes stay identical. Emits the per-type robust
    * stats plus the outlier count at the standard 3·1.4826·MAD cut.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"),
        max(col("med")).as("med"))
    ev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(max(col("med")), 4).as("med"),
        round(max(col("mad")), 4).as("mad"),
        // 4.4478 as ONE literal: both engines bind the nearest double to
        // the same decimal string, whereas 3 * 1.4826 folds to an IEEE
        // product in Scala but an exact DECIMAL in DuckDB (1-ulp apart)
        sum(when(abs(col("value") - col("med")) > lit(4.4478) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** The q149 box predicate (custkey × order-day) and its z-interval
    * cover — ONE source of truth for the Spark query, the oracle SQL
    * builder, and the specs. The intervals are a pure function of the
    * predicate constants (driver math, no data), decomposed exactly and
    * then coarsened to a bounded list (supersets only — sound).
    */
  private[graft] val zzBox: (Long, Long, Long, Long) = (30L, 90L, 1096L, 1460L)
  private[graft] def zzIntervals: Seq[(Long, Long)] = {
    val (cLo, cHi, dLo, dHi) = zzBox
    graft.operators.ZOrder.coarsen(
      graft.operators.ZOrder.decomposeBox(cLo, cHi, dLo, dHi, 16), 32)
  }

  /** Z-order × zone map — the payoff query of the q124 layout: a 2-D
    * range predicate answered through per-shard min/max stats on the
    * MORTON key, with the box decomposed into z-value intervals
    * ([[graft.operators.ZOrder.decomposeBox]]) so BOTH selectivities
    * prune multiplicatively. Measured on this data: the box reads 2 of
    * 64 z-sharded zones vs 21 (custkey-sorted) and 10 (day-sorted) —
    * the single-dimension layouts each pay full price on the other
    * column (ZOrderSpec asserts the comparison; the scanned=0 ⟹
    * n_match=0 soundness invariant is asserted here and in spec).
    * Layout cost is identical to q133's machinery — the z-value is just
    * a better clustering key for 2-D workloads.
    */
  def zorderZoneMap(spark: SparkSession, dir: String): DataFrame = {
    val (cLo, cHi, dLo, dHi) = zzBox
    val day = datediff(to_date(col("o_orderdate")),
      lit("1992-01-01").cast("date")).cast("long")
    val base = t(spark, dir, "orders")
      .select(col("o_custkey").cast("long").as("ck"), day.as("day"))
      .withColumn("zval", graft.operators.ZOrder.zvalue(col("ck"), col("day"), 16))
    val sharded = graft.operators.ZoneMap.withShard(base, "zval", 64)
    val agg = sharded.groupBy(col("zshard")).agg(
      min(col("zval")).as("min_z"), max(col("zval")).as("max_z"),
      count(lit(1)).as("n_rows"),
      sum(when(col("ck").between(cLo, cHi) && col("day").between(dLo, dHi), 1L)
        .otherwise(0L)).as("n_match"))
    val scanned = zzIntervals
      .map { case (lo, hi) => col("max_z") >= lit(lo) && col("min_z") <= lit(hi) }
      .reduce(_ || _)
    agg.withColumn("scanned", scanned.cast("long")).orderBy(col("zshard"))
  }

  /** Bloom-pruned semi-join — revenue by priority over orders of
    * high-balance customers, with the big side pruned SCAN-LOCALLY by a
    * native `bloom_might_contain` probe before the exact semi-join
    * closes the false positives ([[graft.operators.BloomJoin]]). Result
    * is exact (plain-semi-join oracle); the bloom is the explicit form
    * of the runtime-filter rewrite — at 100 TB the non-matching fact
    * rows die at the scan instead of riding the join exchange.
    */
  def bloomSemiJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val highBal = t(spark, dir, "customer").filter(col("c_acctbal") > 9000)
    graft.operators.BloomJoin
      .bloomSemiJoin(t(spark, dir, "orders"), "o_custkey", highBal, "c_custkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Pairwise Pearson correlation matrix over lineitem's numeric columns
    * — feature statistics in ONE combinable aggregation pass (corr is
    * algebraic: co-moments merge map-side), emitted as the upper
    * triangle in long form. No shuffle beyond the single global agg; at
    * 100 TB this is a one-scan profile, the multivariate sibling of the
    * q43 column profiler.
    */
  def correlationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = t(spark, dir, "lineitem")
    val pairs = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
    } yield (a, b)
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    }
    val row = li.agg(aggs.head, aggs.tail: _*)
    row.selectExpr(s"stack(${pairs.size}, " +
      pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }.mkString(", ") +
      ") AS (col_a, col_b, pearson_r)")
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Per-group winsorization — event values clipped to the exact
    * [p01, p99] of their type: the outlier-robust normalization a
    * training pipeline applies before scaling (the clamp sibling of
    * q129's MAD screen, which flags instead of clips). Two passes: one
    * exact-percentile agg (|types| rows, broadcast back), one scan-local
    * clamp + combinable summary. The GK sketch (q106) is the stated
    * 100 TB swap for the percentile pass.
    */
  def winsorizedValues(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.01)").as("p01"),
        expr("percentile(value, 0.99)").as("p99"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("w", greatest(col("p01"), least(col("p99"), col("value"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(min(col("w")), 6).as("w_min"),
        round(max(col("w")), 6).as("w_max"),
        round(avg(col("w")), 6).as("w_mean"),
        sum((col("value") < col("p01")).cast("long")).as("n_clipped_low"),
        sum((col("value") > col("p99")).cast("long")).as("n_clipped_high"))
      .orderBy(col("event_type"))
  }

  /** General MERGE INTO over the customer dimension — predicate-driven
    * update/delete/insert in ONE full-outer join
    * ([[graft.operators.MergeInto]]): an update feed lowers balances
    * (rows driven negative are DELETED by predicate), a synthetic insert
    * feed adds negated-key customers (the q140 collision-free trick);
    * unmatched dimension rows survive. The merged dimension is then
    * aggregated per nation so the hash check pins every action's
    * outcome.
    */
  def mergeIntoDim(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val upd = cust.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_acctbal", col("c_acctbal") - 5000)
    val ins = cust.filter(col("c_custkey") % 7 === 0)
      .select((-col("c_custkey")).as("c_custkey"), col("c_nationkey"),
        lit(1111.11).as("c_acctbal"))
    graft.operators.MergeInto
      .mergeInto(cust, upd.unionByName(ins), "c_custkey",
        deleteCond = col("c_acctbal") < 0)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** Incremental rollup maintenance — the daily revenue rollup computed
    * from TWO ingest batches' algebraic states merged
    * ([[graft.operators.Rollups]]), never from a rescan: count/sum/min/
    * max merge exactly (the value rides DECIMAL so sums are associative
    * — a double sum would drift a ulp across merge orders), avg derives
    * at read. The oracle rebuilds from scratch; hash equality IS the
    * maintenance contract. DECIMAL stays strictly INTERNAL: the compared
    * surface is all BIGINT — `sum_cents`/`min_cents`/`max_cents` (exact
    * ×100 integer cents of the DECIMAL(·,2) states) and `avg_e4` (the
    * average in 1e-4 units, cents*100 DIV n_rows). History of why: a
    * `round(double, 4)` `.xxxx5` tie splits Spark (BigDecimal HALF_UP on
    * shortest repr) vs DuckDB (binary double) — the r9 red; a double
    * divide leaves the row hostage to checker float formatting — the r10
    * red; and DECIMAL itself renders differently across checkers (Spark
    * decimal(28,2) vs DuckDB decimal(38,2), precision-tagged vs
    * str(Decimal)) — the r11 red, the suite's ONLY DECIMAL-surfaced
    * query and its only red row. Integers hash identically everywhere.
    */
  def incrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").select(
      to_date(col("o_orderdate")).as("day"),
      col("o_totalprice").cast("decimal(18,2)").as("v"),
      col("o_orderkey"))
    def state(batch: DataFrame) = graft.operators.Rollups.rollupState(
      batch.select(col("day"), col("v")), Seq("day"), "v")
    val merged = graft.operators.Rollups.mergeStates(
      state(o.filter(col("o_orderkey") % 2 === 0))
        .unionByName(state(o.filter(col("o_orderkey") % 2 === 1))),
      Seq("day"))
    merged
      .withColumn("cents4", (col("sum_v") * 100).cast("long") * 100)
      .select(col("day"), col("n_rows"),
        (col("sum_v") * 100).cast("long").as("sum_cents"),
        (col("min_v") * 100).cast("long").as("min_cents"),
        (col("max_v") * 100).cast("long").as("max_cents"),
        expr("cents4 DIV n_rows").as("avg_e4"))
      .orderBy(col("day"))
  }

  /** Mergeable HLL sketch columns — distinct users per event type
    * computed INCREMENTALLY: the events table split into two "ingest
    * batches" (even/odd event_id), each batch reduced to one binary
    * DataSketches HLL row per type ([[graft.operators.Sketches]]), the
    * per-batch sketch rows merged by register-wise union — history is
    * never rescanned, the mergeManifests contract for statistics.
    * Rows-only (no SQL oracle can replay DataSketches registers);
    * SketchesSpec asserts merge(sketch(A), sketch(B)) == sketch(A∪B)
    * EXACTLY and gates the estimates within 5% of exact distincts.
    */
  def hllSketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val batchA = graft.operators.Sketches.hllByGroup(
      ev.filter(col("event_id") % 2 === 0), "event_type", "user_id")
    val batchB = graft.operators.Sketches.hllByGroup(
      ev.filter(col("event_id") % 2 === 1), "event_type", "user_id")
    graft.operators.Sketches
      .hllMergeByGroup(batchA.unionByName(batchB), "event_type")
      .orderBy(col("event_type"))
  }

  /** Mergeable CMS sketch columns — per-type user-frequency sketches
    * built per ingest batch and merged counter-wise with the custom
    * binary-merge aggregate, then probed for a fixed user panel. Same
    * incremental contract as q150; the merged-vs-single-pass identity
    * and the never-undercount/eps envelope are spec-gated. Rows-only.
    */
  def cmsSketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val perBatch = graft.operators.Sketches.cmsByGroup(
        ev.filter(col("event_id") % 2 === 0), "event_type", "user_id")
      .unionByName(graft.operators.Sketches.cmsByGroup(
        ev.filter(col("event_id") % 2 === 1), "event_type", "user_id"))
    val merged = perBatch.groupBy(col("event_type"))
      .agg(graft.operators.Sketches.cmsMerge(col("cms")).as("cms"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
    val probes = Seq(1L, 7L, 42L, 123L)
    import spark.implicits._
    merged.toSeq.flatMap { case (et, sk) =>
      probes.map(u => (et, u, graft.operators.Sketches.cmsEstimate(sk, u)))
    }.toDF("event_type", "user_id", "est_events")
      .orderBy(col("event_type"), col("user_id"))
  }

  /** Per-group OLS regression — slope/intercept/R² of extendedprice on
    * quantity per return flag, via the standard SQL `regr_*` aggregates
    * (one combinable pass: each is a closed-form over sum/sum²/sum-of-
    * products partial states, so map-side combine does the work at
    * 100 TB exactly like q46's moment aggregates). The statistical
    * sibling of q155's correlation matrix: correlation says "related",
    * regression says "by how much per unit".
    */
  def regressionPerGroup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6)
          .as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"))
      .orderBy(col("l_returnflag"))

  /** Shannon-entropy column profile — bits of entropy per categorical
    * column (documents.lang/source, events.event_type): the
    * data-curation diagnostic for "is this column informative or
    * near-constant?". Each column is one count-by-value agg (|values|
    * rows) folded to a scalar with log₂ identities — no row ever leaves
    * its scan, so the profile costs one combinable pass per column at
    * any scale. Complements q122's null/min/max profile with an
    * information measure.
    */
  def entropyProfile(spark: SparkSession, dir: String): DataFrame = {
    def ent(df: DataFrame, c: String, label: String): DataFrame =
      df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_distinct"),
          sum(col("cnt").cast("double") * log(2.0, col("cnt"))).as("slc"))
        .select(lit(label).as("column_name"), col("n_rows"),
          col("n_distinct"),
          round(log(2.0, col("n_rows")) - col("slc") / col("n_rows"), 6)
            .as("entropy_bits"))
    val docs = t(spark, dir, "documents")
    ent(docs, "lang", "documents.lang")
      .unionByName(ent(docs, "source", "documents.source"))
      .unionByName(ent(t(spark, dir, "events"), "event_type",
        "events.event_type"))
      .orderBy(col("column_name"))
  }

  /** Exact mode per group — the most frequent lang per source with a
    * deterministic tie-break (count desc, then value asc): count-by-pair
    * then a row_number over |groups|×|values| rows, so the window input
    * is aggregate-sized, never data-sized — the safe shape for a
    * 100 TB modal-value computation (contrast a naive per-row window).
    */
  def modePerGroup(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_mode"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_mode").desc, col("lang").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("mode_lang"), col("n_mode"))
      .orderBy(col("source"))
  }

  /** Chi-square test of independence (lang × source) + Cramér's V — the
    * categorical-association screen a curation pipeline runs before
    * trusting a "language is independent of crawl source" assumption.
    * Observed cells come from one count agg; the full grid (including
    * zero-observed cells, which DO contribute their expected mass) is
    * |langs|×|sources| — all post-aggregation arithmetic on broadcast
    * singletons, one scan total.
    */
  def chiSquareIndependence(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("lang"), col("source"))
    // the marginals and the grand total are derivable FROM the
    // contingency table — roll them up from the staged |langs|×|sources|
    // aggregate instead of re-scanning the corpus three more times
    val obs = stageScratch(spark, "chi2-obs",
      docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).cast("double").as("o")))
    val rowTot = obs.groupBy(col("lang")).agg(sum(col("o")).as("rl"))
    val colTot = obs.groupBy(col("source")).agg(sum(col("o")).as("cs"))
    val n = obs.agg(sum(col("o")).as("n"))
    val grid = broadcast(rowTot).crossJoin(broadcast(colTot))
      .join(obs, Seq("lang", "source"), "left")
      .na.fill(0.0, Seq("o"))
      .crossJoin(broadcast(n))
      .withColumn("e", col("rl") * col("cs") / col("n"))
    grid.agg(
        max(col("n")).cast("long").as("n"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(pow(col("o") - col("e"), 2) / col("e")).as("chi2_raw"))
      .select(col("n"),
        ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"),
        round(col("chi2_raw"), 4).as("chi2"),
        round(sqrt(col("chi2_raw") / (col("n") *
          least(col("n_langs") - 1, col("n_sources") - 1))), 6)
          .as("cramers_v"))
  }

  /** Linear interpolation over daily gaps — q110's spine + LOCF pattern
    * upgraded to true interpolation: each missing day gets
    * prev + (next−prev)·Δ/span from its nearest observed neighbors
    * (edges back/forward-fill). Both neighbor lookups are running
    * `last/first(…, ignoreNulls)` frames over the per-user day spine —
    * window input is |users|×|days|, partitioned by user, so the state
    * per partition is one value+date each way regardless of corpus
    * size.
    */
  def linearInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 4).as("day_value"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val j = spine.join(daily, Seq("user_id", "day"), "left")
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(0, Window.unboundedFollowing)
    val prevV = last(col("day_value"), ignoreNulls = true).over(wPrev)
    val prevD = last(when(col("day_value").isNotNull, col("day")),
      ignoreNulls = true).over(wPrev)
    val nextV = first(col("day_value"), ignoreNulls = true).over(wNext)
    val nextD = first(when(col("day_value").isNotNull, col("day")),
      ignoreNulls = true).over(wNext)
    val interp = when(col("day_value").isNotNull, col("day_value"))
      .when(prevV.isNull, nextV)
      .when(nextV.isNull, prevV)
      .otherwise(prevV + (nextV - prevV) *
        datediff(col("day"), prevD) / datediff(nextD, prevD))
    j.select(col("user_id"), col("day"),
        round(interp, 4).as("value_filled"),
        col("day_value").isNull.cast("int").as("was_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** PMI-ranked collocations over ADJACENT token pairs — q137's
    * count-only pair mining upgraded to pointwise mutual information
    * on the bigram contingency table: pmi = log₂(c_ab·N_b /
    * (cL_a·cR_b)), where c_ab counts the adjacent pair, cL/cR are the
    * left/right positional marginals, and N_b is the total bigram
    * count; support ≥ 5, top-50 by (pmi desc, pair). Raw counts just
    * surface stopword pairs — PMI is what collocation extraction
    * actually ranks by. Bigrams come from the q166 scan-local
    * arrays_zip of the token array against itself shifted by one, so
    * the shuffle volume is LINEAR in token count (one row per token
    * position); the r9 within-document all-pairs self-join (Σ per-doc
    * vocab² rows) is gone. Marginals are vocabulary-sized broadcasts.
    */
  def pmiTerms(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    // four consumers (N_b, both marginals, the pair counts) would each
    // re-scan and re-explode the corpus (no CSE across DataFrame refs);
    // stage the narrow bigram table once so the text is read ONCE
    val big = stageScratch(spark, "pmi-bigrams",
      toks.select(explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val nb = big.agg(count(lit(1)).cast("double").as("nb"))
    val cl = big.groupBy(col("w1")).agg(count(lit(1)).cast("double").as("c_l"))
    val cr = big.groupBy(col("w2")).agg(count(lit(1)).cast("double").as("c_r"))
    big.groupBy(col("w1").as("tok_a"), col("w2").as("tok_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
      .join(broadcast(cl), col("tok_a") === col("w1"))
      .join(broadcast(cr), col("tok_b") === col("w2"))
      .crossJoin(broadcast(nb))
      .select(col("tok_a"), col("tok_b"), col("n_pair"),
        round(log(2.0, col("n_pair").cast("double") * col("nb") /
          (col("c_l") * col("c_r"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(50)
  }

  /** One row per (order, a, b) unordered pair of DISTINCT parts sharing
    * that order — the co-purchase pair stream q163 and q168 both grow
    * their graphs from.
    *
    * Physical form (r18, guide §2.4 "remove shuffles outright"): the
    * original shape — distinct (orderkey, partkey), equi-self-join on
    * orderkey with partkey< , then a pair distinct/aggregate — paid
    * three pair-table exchanges (the distinct, the join, the pair
    * dedup; measured 2.3 s of q163's 3.4 s at sf0.1). Here ONE
    * aggregation builds each order's sorted distinct-part basket
    * (collect_set collapses duplicates map-side — combinable, unlike
    * the join), and the a<b pair grid is generated SCAN-LOCALLY by two
    * chained generators over the sorted array (posexplode anchors `a`,
    * slice keeps only later = strictly-greater elements for `b`) — the
    * identical row set with one exchange instead of three. Skew posture
    * unchanged: a pathological giant order concentrates its basket² in
    * one task in BOTH forms (the self-join keyed on orderkey put the
    * hot key in one task too); baskets are order-line-bounded (~7) at
    * every SF. Measured solo min-of-3 at sf0.1: q163 3.44→2.79 s,
    * q168 2.77→2.59 s (the pair stream is only part of each query —
    * triangleStats / the k-core peel dominate what remains).
    */
  private def copurchasePairRows(spark: SparkSession, dir: String): DataFrame = {
    val baskets = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
    baskets
      .select(col("pks"), posexplode(col("pks")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("pks"), col("i") + lit(2),
          size(col("pks")) - col("i") - lit(1))).as("b"))
  }

  /** Triangle count over the part co-purchase graph (parts sharing an
    * order are adjacent) — the clustering-coefficient numerator, the
    * graph-level sibling of q132's PageRank. The operator
    * ([[graft.operators.Graph.triangleStats]]) orients every edge
    * low→high (degree, id) so wedge fan-out is bounded by oriented
    * out-degree ≤ O(√m) — the hub-proof enumeration; the naive oracle
    * replays a<b<c closure, same count. Edges come from the one-shuffle
    * basket pair stream ([[copurchasePairRows]], r18).
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleStats(
      copurchasePairRows(spark, dir).distinct())

  /** Pairwise Jensen-Shannon divergence between per-language unigram
    * distributions — the corpus-drift / domain-shift measure a mixture
    * pipeline tracks per source (symmetric, bounded [0,1] in bits,
    * defined even where KL is infinite). Distributions are
    * vocabulary-sized aggregates; the |langs|² pair grid crosses
    * broadcast-sized frames only, and each JSD is one combinable sum
    * over the pair's term union.
    */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
    // every downstream frame (totals, probs×3, langs, terms) expands
    // from this aggregate — unstaged, the corpus explode would re-run
    // once per reference chain (~8×); staged, it runs once and the
    // re-reads are scans of a |vocab|×|langs| table
    val counts = stageScratch(spark, "jsd-counts",
      toks.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).cast("double").as("c")))
    val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("tot"))
    val probs = counts.join(broadcast(totals), "lang")
      .select(col("lang"), col("tok"), (col("c") / col("tot")).as("p"))
    val langs = totals.select(col("lang"))
    val pairs = langs.select(col("lang").as("lang_a"))
      .crossJoin(langs.select(col("lang").as("lang_b")))
      .filter(col("lang_a") < col("lang_b"))
    val terms = probs.select(col("tok")).distinct()
    val grid = broadcast(pairs).crossJoin(terms)
      .join(probs.select(col("lang").as("lang_a"), col("tok"),
        col("p").as("pa")), Seq("lang_a", "tok"), "left")
      .join(probs.select(col("lang").as("lang_b"), col("tok"),
        col("p").as("pb")), Seq("lang_b", "tok"), "left")
      .na.fill(0.0, Seq("pa", "pb"))
      .filter(col("pa") > 0 || col("pb") > 0)
    val m = (col("pa") + col("pb")) / 2
    val contrib =
      when(col("pa") > 0, col("pa") * log(2.0, col("pa") / m) / 2)
        .otherwise(0.0) +
      when(col("pb") > 0, col("pb") * log(2.0, col("pb") / m) / 2)
        .otherwise(0.0)
    grid.groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_terms"), round(sum(contrib), 6).as("jsd_bits"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  /** Bounded edit-distance self-join over part names
    * ([[graft.operators.EditDistanceJoin]]) — typo-tolerant catalog
    * matching with lossless q-gram count prefiltering: only pairs
    * passing the multiset-gram lower bound pay the Levenshtein verify.
    * The oracle replays the naive all-pairs definition; hash equality
    * IS the losslessness proof at this SF (the spec re-proves it
    * adversarially).
    */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EditDistanceJoin
      .selfJoin(t(spark, dir, "part"), "p_name", k = 2)
      .orderBy(col("name_a"), col("name_b"))

  /** Per-document bigram cross-entropy under the corpus bigram model —
    * q100's unigram fluency score upgraded to conditional probabilities
    * p(w₂|w₁) = c(w₁w₂)/c(w₁·): the stronger repetition/fluency signal
    * (a doc of common words in a rare ORDER now scores high). Bigram
    * extraction is a scan-local zip of adjacent tokens; the model is
    * two vocabulary²-bounded aggregates that ride broadcasts back onto
    * one corpus scan. Docs with fewer than two tokens have no bigrams
    * and drop out (both engines agree by construction).
    */
  /** 2-D skyline over the part catalog — the Pareto shortlist
    * (maximize p_size, minimize p_retailprice) via
    * [[graft.operators.Skyline.frontier2D]]: one combinable per-size
    * aggregate, one window over the ≤|size domain| frontier stats, one
    * broadcast join back — never the O(n²) NOT-EXISTS self-join the
    * oracle replays.
    */
  def skylineParts(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skyline
      .frontier2D(t(spark, dir, "part"), "p_size", "p_retailprice")
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_size"), col("p_retailprice"), col("p_partkey"))

  /** Support-thresholded co-purchase edges: parts appearing together in
    * at least `minSupport` distinct orders (the association-mining
    * support cut that sparsifies the near-complete raw co-occurrence
    * graph into its repeated-signal core).
    */
  private def copurchaseEdges(spark: SparkSession, dir: String,
                              minSupport: Long): DataFrame =
    copurchasePairRows(spark, dir)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= minSupport)
      .select(col("a"), col("b"))

  /** 2-core of the support-≥2 co-purchase graph
    * ([[graft.operators.Graph.kCore]]): iterative peel to the maximal
    * subgraph of minimum degree ≥ 2 — the density filter that strips
    * pendant/chain structure from a similarity graph before community
    * work. Converges by edge-count fixpoint (6 rounds at sf0.1); the
    * oracle unrolls 12 peel rounds, a superset, since post-convergence
    * rounds are no-ops.
    */
  def kCoreParts(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCore(copurchaseEdges(spark, dir, 2L), k = 2)
      .select(col("v").as("node"), col("deg"))
      .orderBy(col("node"))

  /** Trailing 7-day distinct-user and event counts per activity day —
    * the rolling-reach metric a windowed COUNT(DISTINCT) cannot express
    * (no distinct aggregates over window frames). Each event row fans
    * out to the ≤7 anchor days it falls within via a broadcast
    * range-join against the calendar-bounded day list; one shuffle on
    * the anchor day reassembles exact distincts.
    */
  def slidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(to_date(col("ts")).as("ed"), col("user_id"))
    val days = ev.select(col("ed").as("d")).distinct()
    ev.join(broadcast(days),
        col("ed") >= date_sub(col("d"), 6) && col("ed") <= col("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("users_7d"),
        count(lit(1)).as("events_7d"))
      .orderBy(col("d"))
  }

  /** Functional-dependency audit over candidate determinant→dependent
    * pairs in `orders` — the key-discovery / denormalization-check
    * profiler. All four candidates unroll from ONE table scan via a
    * `stack` generator (the multi-branch-union lesson: n branches must
    * not mean n scans); each FD needs two combinable distinct counts,
    * and A→B holds iff |distinct A| = |distinct (A,B)| with the
    * difference counting violating determinant bindings.
    */
  def fdProfile(spark: SparkSession, dir: String): DataFrame = {
    val unrolled = t(spark, dir, "orders").selectExpr(
      """stack(4,
        | 'o_orderkey->o_custkey', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
        | 'o_custkey->o_orderpriority', CAST(o_custkey AS STRING), o_orderpriority,
        | 'o_orderdate->o_orderstatus', CAST(o_orderdate AS STRING), o_orderstatus,
        | 'o_orderpriority->o_orderstatus', o_orderpriority, o_orderstatus
        |) AS (fd, lhs, rhs)""".stripMargin)
    unrolled.groupBy(col("fd"))
      .agg(countDistinct(col("lhs")).as("n_lhs"),
        countDistinct(concat_ws("|", col("lhs"), col("rhs"))).as("n_pairs"))
      .select(col("fd"), col("n_lhs"), col("n_pairs"),
        (col("n_pairs") - col("n_lhs")).as("violating_lhs"),
        (col("n_pairs") === col("n_lhs")).as("holds"))
      .orderBy(col("fd"))
  }

  /** Deterministic negative sampling for contrastive training: each
    * document draws 3 pseudo-random negatives via the q65 portable
    * multiply–xorshift mix over (doc_id·8 + j) mod N, self-collisions
    * remapped to the next id. Reproducible across engines and runs (the
    * oracle replays the mix bit-for-bit); the only non-scan work is the
    * hash join fetching each negative's metadata, keyed on the sampled
    * id — no randomness, no driver state (N rides a broadcast scalar).
    */
  def negativeSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val anchors = docs.select(col("doc_id"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("__n"),
        explode(array(lit(1), lit(2), lit(3))).as("j"))
    val mix = graft.operators.Sampling.mixOf(col("doc_id") * lit(8) + col("j"))
    val raw = mix % col("__n")
    val neg = when(raw === col("doc_id"), (raw + 1) % col("__n")).otherwise(raw)
    anchors.select(col("doc_id"), col("j"), neg.as("neg_id"))
      .join(docs.select(col("doc_id").as("neg_id"), col("lang").as("neg_lang")),
        Seq("neg_id"))
      .select(col("doc_id"), col("j"), col("neg_id"), col("neg_lang"))
      .orderBy(col("doc_id"), col("j"))
  }

  /** Trailing-14-day EWMA (base ½) of daily revenue per order priority
    * ([[graft.operators.Smoothing.ewmaTrailing]]) — gap-robust metric
    * smoothing as a lag spray + one combinable reassembly, not a
    * running-fold window (inexpressible) or an O(n·window) range
    * self-join. Base ½ keeps every weight an exact dyadic so the
    * cross-engine compare can't trip on pow rounding.
    */
  def ewmaDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "orders")
      .select(col("o_orderpriority").as("pri"),
        to_date(col("o_orderdate")).as("d"), col("o_totalprice"))
    graft.operators.Smoothing
      .ewmaTrailing(daily, Seq("pri"), "d", sum(col("o_totalprice")), window = 14)
      .select(col("pri"), col("d"), round(col("ewma"), 4).as("ewma"))
      .orderBy(col("pri"), col("d"))
  }

  /** Exact ROC-AUC of a score column against a binary label (is the
    * document English?) via the Mann-Whitney rank-sum with average
    * ranks for ties — the classifier-eval metric a quality-filter
    * pipeline computes per model snapshot. Scale shape: scores are
    * grouped FIRST (combinable counts per distinct score), so the
    * global rank window runs over |distinct scores| rows (313 here,
    * never the data), and the final AUC is one more tiny aggregate.
    * The naive global row_number over all rows would be a
    * single-partition sort of the corpus.
    */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    val perScore = t(spark, dir, "documents")
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
    val w = Window.orderBy(col("score")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perScore.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(w), lit(0L)))
    ranked.agg(
        sum(col("npos")).as("n_pos"),
        (sum(col("cnt")) - sum(col("npos"))).as("n_neg"),
        sum(col("npos") * (col("cum_before") + (col("cnt") + 1) / lit(2.0)))
          .as("pos_rank_sum"))
      .select(col("n_pos"), col("n_neg"),
        round((col("pos_rank_sum") - col("n_pos") * (col("n_pos") + 1) / lit(2.0))
          / (col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  /** Pairwise vocabulary Jaccard between sources — the set-overlap
    * companion to q164's distributional JSD (how much raw vocabulary do
    * two crawl sources share, ignoring frequency). The token self-join
    * shuffles on the token key with combinable pair counts; per-source
    * vocabulary sizes ride a broadcast onto the |sources|² pair frame.
    */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    // three consumers (sizes + both sides of the overlap self-join):
    // stage the per-source vocabulary so the corpus explode + distinct
    // shuffle run once (q162 single-scan rule)
    val vocab = stageScratch(spark, "vocab-overlap",
      t(spark, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct())
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("vsize"))
    val inter = vocab.select(col("source").as("src_a"), col("tok"))
      .join(vocab.select(col("source").as("src_b"), col("tok")), "tok")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("vsize").as("va"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("vsize").as("vb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"),
        round(col("n_common") / (col("va") + col("vb") - col("n_common")), 6)
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Content-defined chunking (Rabin-style): chunk boundaries where the
    * base-31 hash of the trailing 8-char window is ≡ 0 mod 64 (~64-char
    * expected chunks) — the shift-robust dedup segmentation that
    * fixed-size chunking cannot give (an insertion early in a document
    * only perturbs one chunk, so shared tails still dedup). Per-doc
    * boundary detection and chunk slicing are pure scan-local
    * higher-order functions (the q35 bounded-accumulator hash, ANSI
    * overflow-safe); only chunk hashes cross the shuffle for the
    * corpus-level distinct count, never chunk text.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    NativeTextExpressions.register(spark)
    // boundary detection is the native fused pass (cdc_cuts — the q197
    // lesson applied here after the HOF fold went 5.9× superlinear on
    // the 10× SF step); chunk slicing/hashing stays declarative so the
    // oracle replay is unchanged
    val withBounds = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .select(col("doc_id"), col("text"),
        array_sort(array_union(expr("cdc_cuts(text, 8, 64)"),
          array(col("len")))).as("bounds"))
      .withColumn("prevs",
        concat(array(lit(0)),
          slice(col("bounds"), lit(1), size(col("bounds")) - 1)))
    withBounds
      .select(col("doc_id"), col("text"),
        explode(arrays_zip(col("prevs").as("p"), col("bounds").as("e"))).as("z"))
      .select(col("doc_id"),
        col("text").substr(col("z.p") + 1, col("z.e") - col("z.p")).as("chunk"))
      .filter(length(col("chunk")) > 0)
      .agg(count(lit(1)).as("total_chunks"),
        countDistinct(md5(col("chunk"))).as("distinct_chunks"),
        round(avg(length(col("chunk"))), 4).as("avg_chunk_len"))
  }

  /** HOF formulation of the q175 boundary rule — the parity oracle for
    * the native `cdc_cuts` expression (spec: identical cut positions per
    * document). chars/len staged as row attributes so the boundary
    * lambda binds them once per row — inlining the split would
    * recompute it per position (O(len²) per document).
    */
  private[graft] def cdcCutsHof(spark: SparkSession, dir: String): DataFrame = {
    val w = 8
    val mask = 64
    val prepared = t(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).as("len"),
        filter(split(col("text"), ""), c => length(c) > 0).as("chars"))
    // h(i): base-31 fold of chars [i-w+1 .. i] (1-based), kept < 2^30 so
    // ANSI arithmetic can't overflow (the q35 accumulator bound)
    val winHash = (i: org.apache.spark.sql.Column) => aggregate(
      slice(col("chars"), i - (w - 1), lit(w)),
      lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % lit(1000000007L))
    val cuts = filter(sequence(lit(w), greatest(col("len"), lit(w))),
      i => i <= col("len") && winHash(i) % mask === 0)
    prepared.select(col("doc_id"), cuts.as("cuts"))
  }

  /** Zipf-law fit over the term rank-frequency curve: least-squares
    * slope/r² of ln(freq) on ln(rank) for the top-1000 terms — the
    * corpus-health diagnostic (natural text slopes ≈ −1; template spam
    * and boilerplate bend the curve). Counting is a combinable agg; the
    * top-1000 cut is a TakeOrdered (never a global sort), and the rank
    * window runs over those 1000 rows only, not the vocabulary.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val top = t(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(1000)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
    ranked
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
      .agg(count(lit(1)).as("n_terms"),
        round(expr("regr_slope(y, x)"), 6).as("slope"),
        round(expr("regr_intercept(y, x)"), 6).as("intercept"),
        round(expr("regr_r2(y, x)"), 6).as("r2"))
  }

  /** Mergeable top-k candidate summaries with deterministic error
    * bounds — the heavy-hitters analog of the q150/q151 sketch rows.
    * Each batch (doc_id mod 4 stands in for an ingest partition) keeps
    * only its top-`k` terms plus one scalar (`dropped_max`, the largest
    * truncated count); merging sums the surviving counts (a LOWER
    * bound) and charges each absent batch's dropped_max as the only
    * possible undercount (the UPPER bound). Any term with true global
    * count > Σ dropped_max must surface — the SpaceSaving/Misra-Gries
    * guarantee, but deterministic and engine-replayable, so unlike a
    * probabilistic sketch this one is hash-gated against DuckDB rather
    * than envelope-gated. Per-batch truncation is a batch-partitioned
    * window (scan-parallel at scale); merged state is ≤ |batches|·k
    * rows + |batches| scalars, never the vocabulary.
    */
  def topkCandidates(spark: SparkSession, dir: String): DataFrame = {
    val k = 50
    val counts = t(spark, dir, "documents")
      .select((col("doc_id") % 4).as("batch"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("batch"), col("tok")).agg(count(lit(1)).as("c"))
    val rankedB = counts.withColumn("rn", row_number().over(
      Window.partitionBy(col("batch")).orderBy(col("c").desc, col("tok"))))
    val kept = rankedB.filter(col("rn") <= k)
    val droppedMax = rankedB.filter(col("rn") > k)
      .groupBy(col("batch")).agg(max(col("c")).as("dropped_max"))
    val totalDropped = droppedMax
      .agg(coalesce(sum(col("dropped_max")), lit(0L)).as("total_dropped"))
    val perTerm = kept
      .join(broadcast(droppedMax), Seq("batch"), "left")
      .na.fill(0L, Seq("dropped_max"))
      .groupBy(col("tok"))
      .agg(sum(col("c")).as("lower_bound"),
        count(lit(1)).as("n_batches_present"),
        sum(col("dropped_max")).as("present_dropped"))
    perTerm.crossJoin(broadcast(totalDropped))
      .select(col("tok"), col("lower_bound"),
        (col("lower_bound") + col("total_dropped") - col("present_dropped"))
          .as("upper_bound"),
        col("n_batches_present"))
      .orderBy(col("lower_bound").desc, col("tok")).limit(20)
  }

  /** Interval overlap join between two event-derived interval sets
    * ([[graft.operators.Intervals.overlapJoin]]): even-id events vs
    * odd-id events, each an interval [ts, ts + (id%7+1)·60] in epoch
    * seconds (the q131 construction). Pairs aggregate to per-type-pair
    * overlap counts and seconds. The operator buckets by hour bins and
    * assigns each pair to its overlap-start bin, so the non-equi
    * condition becomes one equi-join with NO pair dedup — the oracle
    * replays the naive inequality join and must agree exactly.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val iv = t(spark, dir, "events").select(
      col("event_id"), col("event_type"),
      col("ts").cast("long").as("s"),
      (col("ts").cast("long") + (col("event_id") % 7 + 1) * 60).as("e"))
    val a = iv.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("id_a"), col("event_type").as("type_a"),
        col("s").as("s_a"), col("e").as("e_a"))
    val b = iv.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("id_b"), col("event_type").as("type_b"),
        col("s").as("s_b"), col("e").as("e_b"))
    graft.operators.Intervals.overlapJoin(a, b, binSeconds = 3600L)
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")))
          .as("overlap_sec"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Population stability index per event type between the first and
    * second half of the event stream (split at the median day) — the
    * standard drift gate an ML feature pipeline runs before retraining.
    * Values bin into 10 fixed-width buckets (domain-pinned, so bins
    * mean the same thing in both periods and both engines);
    * Laplace-smoothed proportions keep ln defined on empty bins.
    * Everything is two combinable aggregates and a broadcast-sized
    * |types|×|bins| frame.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val binned = t(spark, dir, "events").select(
      col("event_type"),
      (to_date(col("ts")) <= lit(java.sql.Date.valueOf("2024-01-15")))
        .as("is_a"),
      least(greatest(floor(col("value") / 50.0), lit(0.0)), lit(9.0))
        .cast("long").as("bin"))
    val counts = binned.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val pa = (col("ca") + 1) / (col("na") + 10)
    val pb = (col("cb") + 1) / (col("nb") + 10)
    counts.join(broadcast(totals), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_bins"),
        round(sum((pa - pb) * log(pa / pb)), 6).as("psi"))
      .orderBy(col("event_type"))
  }

  /** Bounded multi-source BFS ([[graft.operators.Graph.bfsHops]]) over
    * the q132 user-transition graph: minimal hop count from the seed
    * set (user_id ≡ 0 mod 97) to everything within 4 hops — the
    * contamination-blast-radius / crawl-frontier query. The oracle is a
    * DuckDB recursive CTE over the same edges with the same depth cap,
    * so level-synchronous frontier expansion must equal the declarative
    * fixpoint exactly.
    */
  def bfsReach(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val ev = t(spark, dir, "events")
    val edges = ev
      .select(col("user_id").as("src"), lead(col("user_id"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    val sources = ev.select(col("user_id").as("node"))
      .filter(col("node") % 97 === 0).distinct()
    graft.operators.Graph.bfsHops(edges, sources, maxHops = 4)
      .select(col("node").as("user_id"), col("hops"))
      .orderBy(col("user_id"))
  }

  /** Theil–Sen robust trend per event type: the median of all pairwise
    * slopes of the daily event count — outlier-resistant where q157's
    * least-squares line is not (one bot-spike day drags OLS, not the
    * pairwise median). The self-join is |days|² per type BY DESIGN:
    * pairs grow with the bounded time dimension, not the row count, so
    * 100 TB of events still yields ~days² slope rows per type. For
    * unbounded day ranges the O(n) regression (q157) is the scale path.
    */
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
      .agg(count(lit(1)).cast("double").as("c"))
    val a = daily.select(col("event_type"), col("day").as("d1"), col("c").as("c1"))
    val b = daily.select(col("event_type"), col("day").as("d2"), col("c").as("c2"))
    a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .select(col("event_type"),
        ((col("c2") - col("c1")) / (col("d2") - col("d1"))).as("slope"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"))
      .orderBy(col("event_type"))
  }

  /** Benford first-digit audit over order totals — the classic
    * fabricated-data / instrumentation-bug screen. First digit comes
    * from the decimal string of the integer part (never floor(log10):
    * an ulp flip near a power of ten would move a value across digits
    * in one engine only). Per-digit observed vs expected proportions
    * plus the χ² contribution; everything is one combinable aggregate
    * and a 9-row broadcast.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digits = t(spark, dir, "orders")
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .filter(col("digit").between(1, 9))
    val total = digits.agg(count(lit(1)).as("n_total"))
    val pExp = log(10.0, lit(1) + lit(1.0) / col("digit"))
    digits.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs") / col("n_total"), 6).as("p_obs"),
        round(pExp, 6).as("p_exp"),
        round(pow(col("n_obs") - col("n_total") * pExp, 2) /
          (col("n_total") * pExp), 6).as("chi2_contrib"))
      .orderBy(col("digit"))
  }

  /** Mergeable histogram-sketch quantiles
    * ([[graft.operators.Sketches.histByGroup]]): the event stream is
    * split into three batches (event_id mod 3 — standing in for daily
    * appends), each batch contributes one fixed-domain sketch row per
    * type, and the merged sketch answers p50/p90/p99 by cumulative bin
    * walk (right-edge estimate). The oracle bins the WHOLE table in one
    * pass — equality is the end-to-end merge law `hist(A∪B∪C) ==
    * merge(hist(A), hist(B), hist(C))`, exact because counts add.
    */
  def histSketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val batches = (0 until 3).map { i =>
      graft.operators.Sketches.histByGroup(
        ev.filter(col("event_id") % 3 === i), "event_type", "value",
        lo = 0.0, width = 25.0, nBins = 20)
    }
    val merged = graft.operators.Sketches.histMergeByGroup(
      batches.reduce(_ unionAll _), "event_type")
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("pos"))
    val wAll = Window.partitionBy(col("event_type"))
    val cum = merged
      .select(col("event_type"), posexplode(col("hist")).as(Seq("pos", "cnt")))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wAll))
    def est(q: Double) = min(when(col("cum") >= ceil(lit(q) * col("total")),
      lit(25.0) * (col("pos") + 1)))
    cum.groupBy(col("event_type"))
      .agg(max(col("total")).as("n_rows"),
        round(est(0.5), 6).as("p50_est"),
        round(est(0.9), 6).as("p90_est"),
        round(est(0.99), 6).as("p99_est"))
      .orderBy(col("event_type"))
  }

  /** Association rules over order baskets: support, both directional
    * confidences, and lift for the top co-ordered part pairs — the rule
    * layer on top of q137's raw 2-itemsets. Per-item counts ride a
    * broadcast onto the pair aggregate (pairs ≫ items); the top-20 cut
    * is a TakeOrdered with a full tie-break, never a global sort.
    */
  def associationRules(spark: SparkSession, dir: String): DataFrame = {
    // r19: ONE groupBy(basket) builds each basket's sorted distinct-item
    // set (the r18 q163/q168 basket recipe) and every consumer derives
    // from the staged baskets — basket count is parquet metadata, item
    // counts explode the sets (each basket contributes an item once, so
    // the count is "baskets containing item", exactly the old distinct
    // row count), and the a<b pair grid generates SCAN-LOCALLY via the
    // chained generators instead of the basket self-join. Identical
    // (basket, pair) multiset, so identical n_pair; the old form paid a
    // distinct exchange plus two join-side exchanges before the pair
    // count — this pays one basket exchange.
    val baskets = stageScratch(spark, "assoc-baskets",
      t(spark, dir, "lineitem")
        .groupBy(col("l_orderkey").as("basket"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("items")))
    val nBaskets = baskets.count().toDouble
    val itemCnt = baskets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val pairs = baskets
      .select(col("items"), posexplode(col("items")).as(Seq("i", "x")))
      .select(col("x"),
        explode(slice(col("items"), col("i") + lit(2),
          size(col("items")) - col("i") - lit(1))).as("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("n_pair"))
    pairs
      .join(broadcast(itemCnt.select(col("item").as("a"), col("cnt").as("ca"))), "a")
      .join(broadcast(itemCnt.select(col("item").as("b"), col("cnt").as("cb"))), "b")
      .select(col("a"), col("b"), col("n_pair"),
        round(col("n_pair") / nBaskets, 6).as("support"),
        round(col("n_pair") / col("ca"), 6).as("conf_ab"),
        round(col("n_pair") / col("cb"), 6).as("conf_ba"),
        round(col("n_pair") * nBaskets / (col("ca") * col("cb")), 6).as("lift"))
      .orderBy(col("n_pair").desc, col("a"), col("b")).limit(20)
  }

  /** Longest consecutive-day activity streak per user — the
    * islands-and-gaps pattern: within a user's distinct active days,
    * `day − row_number()` is constant exactly along a run of
    * consecutive days, so one window + one groupBy finds every island
    * without self-joins or iteration. Top-20 by (streak, active days,
    * user) with a full tie-break.
    */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(max(col("len")).as("best_streak"), sum(col("len")).as("n_active_days"))
      .orderBy(col("best_streak").desc, col("n_active_days").desc, col("user_id"))
      .limit(20)
  }

  /** Last-touch attribution: each purchase credits the user's most
    * recent prior `view`, carried by a running `last(..., ignoreNulls)`
    * window — one shuffle on user_id, no self-join, no as-of join
    * machinery (the window IS the backward as-of here because both
    * sides live in one stream). Daily rollup of purchases, attributed
    * share, and mean view→purchase lag.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("ts").cast("long").as("sec"))
    ev.withColumn("last_view_sec",
        last(when(col("event_type") === "view", col("sec")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("last_view_sec").isNotNull, 1L).otherwise(0L))
          .as("n_attributed"),
        round(avg(col("sec") - col("last_view_sec")), 2).as("avg_lag_sec"))
      .orderBy(col("day"))
  }

  /** Day-of-week seasonality profile per event type: each weekday's
    * mean daily count as an index against the type's overall daily
    * mean (index 1 = flat). Two combinable aggregates and a broadcast
    * of |types| rows — the pre-detrending step any anomaly gate runs
    * before alerting on "traffic dropped" at a weekend.
    */
  def seasonalityProfile(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("c"))
      .withColumn("dow", dayofweek(col("day")))
    val overall = daily.groupBy(col("event_type"))
      .agg(avg(col("c")).as("overall_avg"))
    daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), avg(col("c")).as("dow_avg"))
      .join(broadcast(overall), "event_type")
      .select(col("event_type"), col("dow"), col("n_days"),
        round(col("dow_avg"), 6).as("dow_avg"),
        round(col("dow_avg") / col("overall_avg"), 6).as("seasonal_idx"))
      .orderBy(col("event_type"), col("dow"))
  }

  def bigramCrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    // three consumers (bigram counts, left-marginal counts, per-doc
    // join): stage the narrow bigram table — one corpus scan (q162 rule)
    val big = stageScratch(spark, "bixent-bigrams",
      toks.select(col("doc_id"),
          explode(arrays_zip(
            slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
            slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val c12 = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("double").as("c12"))
    val c1 = big.groupBy(col("w1")).agg(count(lit(1)).cast("double").as("c1"))
    big.join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(2.0, col("c12") / col("c1"))), 4).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** Exact weighted percentiles (p25/p50/p75) of extended price weighted
    * by quantity, per return flag — the order-statistics sibling of
    * q120's unweighted exact percentiles (a weighted median is
    * inexpressible via `percentile`). Values are grouped FIRST
    * (combinable weight sums per distinct value), so the cumulative
    * window runs over |distinct values| rows per group in one
    * deterministic sorted order — both engines add the same doubles in
    * the same sequence, so the running weights are bit-identical. The
    * per-group sorted walk is the irreducible cost of EXACT weighted
    * order statistics; the approximate scale path is the q183 histogram
    * sketch with per-bin weight sums.
    */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val grouped = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      .agg(sum(col("l_quantity")).as("w"))
    val wOrd = Window.partitionBy(col("flag")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("flag"))
    val cum = grouped
      .withColumn("cw", sum(col("w")).over(wOrd))
      .withColumn("tw", sum(col("w")).over(wAll))
    // first value whose cumulative weight reaches q·W (q dyadic, so the
    // threshold product is exact)
    def pick(q: Double) = min(when(col("cw") >= lit(q) * col("tw"), col("v")))
    cum.groupBy(col("flag"))
      .agg(count(lit(1)).as("n_distinct_values"),
        round(max(col("tw")), 2).as("total_weight"),
        round(pick(0.25), 2).as("wp25"),
        round(pick(0.5), 2).as("wp50"),
        round(pick(0.75), 2).as("wp75"))
      .orderBy(col("flag"))
  }

  /** Gini concentration of positive account balances per market segment
    * (G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over ascending balances) — the
    * inequality diagnostic a mixture-sampling pipeline checks before
    * trusting per-source budgets. One rank window per segment; equal
    * values contribute identically under any stable order, so the
    * row_number tie-break cannot change the sum. The rank·value products
    * stay exact-integer-scaled (rank is integral), and the only
    * cross-engine float ops are the two final divisions.
    */
  def giniBySegment(spark: SparkSession, dir: String): DataFrame = {
    val pos = t(spark, dir, "customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"),
        col("c_custkey"))
    val w = Window.partitionBy(col("segment")).orderBy(col("bal"), col("c_custkey"))
    pos.withColumn("i", row_number().over(w).cast("double"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_accounts"),
        round(sum(col("bal")), 2).as("total_bal"),
        round(lit(2.0) * sum(col("i") * col("bal"))
            / (count(lit(1)) * sum(col("bal")))
          - (count(lit(1)) + 1) / count(lit(1)).cast("double"), 6).as("gini"))
      .orderBy(col("segment"))
  }

  /** Autocorrelation of the daily event-count series at calendar lags
    * 1/2/3/7 per event type — the periodicity detector behind q187's
    * seasonality index (a weekly cycle shows as an ACF spike at lag 7).
    * The lag spray is an equi-join on (type, day − lag) against the
    * DAILY aggregate (|days| rows, never raw events), and the Pearson
    * correlation is assembled from six combinable LONG sums — counts
    * are integers, so every shuffled partial is exact and the only
    * float math is the final closed form (no Welford merge-order drift).
    */
  def dailyAcf(spark: SparkSession, dir: String): DataFrame = {
    // the series joins itself (current vs lagged) — stage the tiny
    // days×types table so the event scan + aggregate run once
    val daily = stageScratch(spark, "acf-daily",
      t(spark, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
        .agg(count(lit(1)).as("c")))
    val sprayed = daily
      .withColumn("lag", explode(array(lit(1), lit(2), lit(3), lit(7))))
    val prev = daily.select(col("event_type").as("ptype"),
      col("day").as("pday"), col("c").as("pc"))
    val pairs = sprayed.join(prev,
      sprayed("event_type") === prev("ptype")
        && sprayed("day") - sprayed("lag") === prev("pday"))
      .select(sprayed("event_type"), sprayed("lag"),
        sprayed("c").as("x"), prev("pc").as("y"))
    pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        round((col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("n_pairs") * col("syy") - col("sy") * col("sy"))
              .cast("double")), 6).as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** CUSUM changepoint scan over each type's daily count series: the
    * day maximizing |Σ_{i≤t}(cᵢ − mean)|, plus the normalized statistic
    * max|S| / (sd·√n). The running deviation is kept EXACT by scaling:
    * cum(n·cᵢ − T) over longs (T = total) equals n·S_t, so the shuffle
    * and the ordered cumsum never touch a float; mean, sd (from exact
    * long moments) and the final ratios are closed-form driver-free
    * math. Argmax is a combinable max(struct) with earliest-day
    * tie-break — never a second pass.
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    // consumed by the per-type stats AND the cumulative walk — stage
    // the tiny days×types series so the event scan runs once
    val daily = stageScratch(spark, "cusum-daily",
      t(spark, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
        .agg(count(lit(1)).as("c")))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("tot"),
        sum(col("c") * col("c")).as("sqtot"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = daily.join(broadcast(stats), "event_type")
      .withColumn("ns", sum(col("n") * col("c") - col("tot")).over(wOrd))
    val sd = sqrt((col("n_days") * col("sqtot") - col("tot") * col("tot"))
      .cast("double") / (col("n_days") * (col("n_days") - 1)))
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"), max(col("tot")).as("tot"),
        max(col("sqtot")).as("sqtot"),
        max(struct(abs(col("ns")).as("a"), (-col("day")).as("md")))
          .as("best"))
      .select(col("event_type"), col("n_days"), (-col("best.md")).as("cp_day"),
        round(col("best.a") / col("n_days").cast("double"), 6)
          .as("max_abs_dev"),
        round(col("best.a") / col("n_days") / (sd * sqrt(col("n_days")
          .cast("double"))), 6).as("cusum_stat"))
      .orderBy(col("event_type"))
  }

  /** Degree assortativity of the q132/q180 user-transition graph:
    * Pearson correlation between the endpoint total degrees across
    * edges — do heavy users link to heavy users (assortative, > 0) or
    * to one-hit users (disassortative, < 0)? Degrees come from one
    * combinable count over the stacked endpoint list; the two
    * degree-fetch joins shuffle on the node key (deliberately unhinted:
    * |nodes| is corpus-scale). Correlation is the q190 exact-long-sums
    * closed form — degrees are integers, so nothing drifts.
    */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val edges = t(spark, dir, "events")
      .select(col("user_id").as("src"), lead(col("user_id"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    // edges feeds three consumers (degree build + both fetch sides);
    // stage it once — DataFrame reuse gets no CSE, so each consumer
    // would otherwise re-run the window
    val edgesPath = scratch(spark, "assort-edges")
    edges.write.mode("overwrite").parquet(edgesPath)
    val staged = spark.read.parquet(edgesPath)
    val deg = staged.select(col("src").as("node"))
      .unionAll(staged.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    staged
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      .agg(count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n_edges"),
        round((col("n_edges") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n_edges") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("n_edges") * col("syy") - col("sy") * col("sy"))
              .cast("double")), 6).as("assortativity"))
  }

  /** Per-dimension embedding-column profile (mean/std/min/max per
    * coordinate) — the feature-drift / dead-dimension diagnostic run
    * before training an ANN index or quantizer on a new corpus drop.
    * posexplode + groupBy(dim) is combinable: map-side partials reduce
    * the shuffle to |dims|·|partitions| rows regardless of corpus size.
    * Float sums drift with add order, so drifting aggregates are
    * rounded to 4 (the q114 precedent); min/max are exact.
    */
  def embeddingProfile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("v")), 4).as("mean"),
        round(stddev_samp(col("v")), 4).as("std"),
        round(min(col("v")), 4).as("vmin"),
        round(max(col("v")), 4).as("vmax"))
      .orderBy(col("dim"))

  /** Top event-type trigrams over per-user clickstreams (two leads in
    * ONE window pass — the n-gram generalization of q125's bigram
    * transition matrix). One shuffle on user_id; the count agg is
    * combinable over ≤|types|³ keys; top-20 is a TakeOrdered with a
    * full tie-break.
    */
  def pathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .select(col("user_id"), col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  /** Referential-integrity audit over the whole star schema: for each
    * FK edge, child rows / null keys / orphans (non-null keys with no
    * parent) / orphan rate — the reference's row-count reconciliation
    * (X1's per-table counts, load_tables_daily.py:365–372) upgraded to
    * actual key-level integrity. Each edge is one LEFT ANTI join; the
    * six dimension parents ride broadcasts, and the one fact-fact edge
    * (lineitem→orders) shuffles on the key like any big join. Counts
    * are 1-row aggregates crossJoined back (broadcast singletons).
    */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def audit(fk: String, child: DataFrame, key: String,
              parent: DataFrame, pkey: String): DataFrame = {
      val keys = child.select(col(key).as("k"))
      val base = keys.agg(count(lit(1)).as("n_child"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null"))
      val orphans = keys.filter(col("k").isNotNull)
        .join(parent.select(col(pkey).as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphan"))
      base.crossJoin(orphans)
        .select(lit(fk).as("fk"), col("n_child"), col("n_null"),
          col("n_orphan"),
          round(col("n_orphan") / col("n_child").cast("double"), 6)
            .as("orphan_rate"))
    }
    val li = t(spark, dir, "lineitem")
    Seq(
      audit("customer.nation", t(spark, dir, "customer"), "c_nationkey",
        t(spark, dir, "nation"), "n_nationkey"),
      audit("lineitem.orders", li, "l_orderkey",
        t(spark, dir, "orders"), "o_orderkey"),
      audit("lineitem.part", li, "l_partkey",
        t(spark, dir, "part"), "p_partkey"),
      audit("lineitem.supplier", li, "l_suppkey",
        t(spark, dir, "supplier"), "s_suppkey"),
      audit("nation.region", t(spark, dir, "nation"), "n_regionkey",
        t(spark, dir, "region"), "r_regionkey"),
      audit("orders.customer", t(spark, dir, "orders"), "o_custkey",
        t(spark, dir, "customer"), "c_custkey"),
      audit("supplier.nation", t(spark, dir, "supplier"), "s_nationkey",
        t(spark, dir, "nation"), "n_nationkey")
    ).reduce(_ unionAll _).orderBy(col("fk"))
  }

  /** One-way ANOVA of daily counts by day-of-week per event type: how
    * much of the daily variance the weekday explains (η² = SS_between /
    * SS_total) plus the F statistic — the significance layer on top of
    * q187's descriptive seasonality index. Every sum is an exact LONG
    * partial (counts are integers), so the shuffled moments cannot
    * drift; the only float math is the ≤7-term between-groups fold and
    * the final ratios.
    */
  def dowAnova(spark: SparkSession, dir: String): DataFrame = {
    // consumed by both the per-dow and per-type aggregates — stage the
    // tiny days×types series so the event scan runs once (q190 rule)
    val daily = stageScratch(spark, "anova-daily",
      t(spark, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("dow", dayofweek(col("day"))))
    val perDow = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("nd"), sum(col("c")).as("sd"))
    val perType = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
    val agg = perDow.groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"),
        sum(col("sd") * col("sd") / col("nd")).as("between_raw"))
      .join(broadcast(perType), "event_type")
    val grand = col("s") * col("s") / col("n")
    val ssBetween = col("between_raw") - grand
    val ssTotal = col("ss") - grand
    agg.select(col("event_type"), col("n").as("n_days"), col("k").as("n_dows"),
        round(ssBetween / ssTotal, 6).as("eta_sq"),
        round((ssBetween / (col("k") - 1)) /
          ((ssTotal - ssBetween) / (col("n") - col("k"))), 6).as("f_stat"))
      .orderBy(col("event_type"))
  }

  /** Winnowing document fingerprints (the MOSS scheme): base-31 rolling
    * hashes of 5-char grams, one fingerprint per window of 4 consecutive
    * gram hashes (its minimum), deduplicated per document — guaranteed
    * to catch any shared substring of length ≥ k + w − 1 = 8 while
    * storing ~1/w of the gram hashes. The selection is entirely
    * scan-local (the q175 bounded-accumulator fold over HOFs); only the
    * winnowed fingerprints cross the shuffle for the corpus rollup
    * (total / distinct / shared-across-docs / docs-per-fingerprint).
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    NativeTextExpressions.register(spark)
    winnowRollup(perDocFps(spark, dir,
      d => d.select(col("doc_id"), expr("winnow_hashes(text, 5, 4)").as("fps"))))
  }

  /** The HOF formulation of [[winnowFingerprints]]'s selection — kept as
    * the parity oracle for the native `winnow_hashes` expression (the
    * spec asserts identical fingerprint sets per document at sf0.001).
    * ~10× slower than the native pass: every gram hash and window min is
    * an interpreted lambda evaluation. The let-binding via a 1-element
    * transform is load-bearing: the window lambda references the lambda
    * VARIABLE h, which Catalyst cannot inline — without it,
    * CollapseProject substitutes the O(len·k) hash build into every
    * window's slice and the plan goes O(len²·k) per document (observed:
    * sf0.001 ran minutes instead of milliseconds).
    */
  private[graft] def winnowFpsHof(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val w = 4
    val prepared = t(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).as("len"),
        filter(split(col("text"), ""), c => length(c) > 0).as("chars"))
    val gramHash = (i: org.apache.spark.sql.Column) => aggregate(
      slice(col("chars"), i - (k - 1), lit(k)),
      lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % lit(1000000007L))
    val hashes = transform(
      filter(sequence(lit(k), greatest(col("len"), lit(k))), i => i <= col("len")),
      i => gramHash(i))
    prepared
      .filter(col("len") >= k + w - 1)
      .select(col("doc_id"),
        element_at(transform(array(hashes), h =>
          array_distinct(transform(
            sequence(lit(1), col("len") - (k + w - 2)),
            j => array_min(slice(h, j, lit(w)))))), 1).as("fps"))
  }

  private def perDocFps(spark: SparkSession, dir: String,
                        build: DataFrame => DataFrame): DataFrame =
    build(t(spark, dir, "documents"))
      .filter(size(col("fps")) > 0)

  private def winnowRollup(wins: DataFrame): DataFrame =
    wins.select(col("doc_id"), explode(col("fps")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .agg(count(lit(1)).as("distinct_fps"),
        sum(col("nd")).as("total_fps"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("shared_fps"),
        round(avg(col("nd")), 4).as("avg_docs_per_fp"))

  /** Spearman rank correlation between the first 8 embedding dimensions
    * (28 pairs): exact ranks via one row_number window PER DIMENSION
    * (dims are independent partitions — scan-parallel), then Pearson
    * over the integer ranks from exact LONG sums, so nothing drifts.
    * Monotone dependence that q155's Pearson misses shows up here; at
    * 100 TB the exact per-dim rank sort is the irreducible cost, and
    * the approximate path is ranking against q123's equi-depth edges.
    */
  def spearmanPairs(spark: SparkSession, dir: String): DataFrame = {
    val coords = t(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .filter(col("dim") < 8)
    val ranked = coords.withColumn("r",
      row_number().over(Window.partitionBy(col("dim"))
        .orderBy(col("v"), col("vec_id"))).cast("long"))
    val a = ranked.select(col("vec_id"), col("dim").as("di"), col("r").as("ri"))
    val b = ranked.select(col("vec_id"), col("dim").as("dj"), col("r").as("rj"))
    a.join(b, Seq("vec_id")).filter(col("di") < col("dj"))
      .groupBy(col("di"), col("dj"))
      .agg(count(lit(1)).as("n"),
        sum(col("ri")).as("sx"), sum(col("rj")).as("sy"),
        sum(col("ri") * col("rj")).as("sxy"),
        sum(col("ri") * col("ri")).as("sxx"),
        sum(col("rj") * col("rj")).as("syy"))
      .select(col("di"), col("dj"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("spearman"))
      .orderBy(col("di"), col("dj"))
  }

  /** The 100 TB path for q169's trailing 7-day distinct users: one HLL
    * sketch row per day ([[graft.operators.Sketches.hllByGroup]]), each
    * sprayed to the ≤7 window ends it falls within, then a register
    * union per end day — the shuffle carries |days|·7 sketch rows
    * (~2^lgK bytes each), NEVER the event rows q169's exact fan-out
    * re-shuffles. Rows-only by design (HLL estimate); the spec gates it
    * within the sketch envelope against q169's exact answer on the
    * same days.
    */
  def slidingDistinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daySketches = graft.operators.Sketches.hllByGroup(ev, "day", "user_id")
    val days = ev.select(col("day").as("d")).distinct()
    val sprayed = daySketches
      .withColumn("d", explode(sequence(col("day"), date_add(col("day"), 6))))
      .join(broadcast(days), "d")
    graft.operators.Sketches.hllMergeByGroup(
        sprayed.select(col("d"), col("hll"), col("n_rows")), "d")
      .select(col("d"), col("distinct_est").as("users_7d_est"),
        col("n_rows").as("events_7d"))
      .orderBy(col("d"))
  }

  /** Truncated-string zone maps ([[graft.operators.SkippingIndex]]):
    * range-cluster `part` on `p_name`, keep 8-char truncated bounds per
    * shard (the Iceberg lower/upper-bound trick — bytes per shard no
    * matter how long the keys), and answer a name-range scan through
    * the pruned path list. The layout is an optimization, never part of
    * the answer: the oracle replays a plain WHERE over the raw table
    * and must agree bit-for-bit (the q149 contract). Pruning soundness
    * (truncation can cost extra reads, never rows) is spec-gated with
    * adversarial shared-prefix keys.
    */
  def stringZoneMap(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch(spark, "strzm-part")
    graft.operators.SkippingIndex.writeStringLayout(
      t(spark, dir, "part"), "p_name", n = 8, path)
    val manifest = graft.operators.SkippingIndex.stringManifest(
      spark.read.parquet(path), "p_name", prefixLen = 8)
    graft.operators.SkippingIndex
      .scanStringRange(spark, path, manifest, "p_name", "f", "o")
      .agg(count(lit(1)).as("n_parts"),
        min(col("p_name")).as("first_name"),
        max(col("p_name")).as("last_name"),
        round(sum(col("p_retailprice")), 2).as("total_price"))
  }

  /** Per-shard bloom skipping ([[graft.operators.SkippingIndex]]): the
    * orders layout is clustered by o_orderkey, so the zone map is
    * VACUOUS for a customer lookup (o_custkey spans the full domain in
    * every shard) — the bloom manifest answers "which shards might hold
    * customer 42" from ~1.2 bytes/key of metadata, and the scan reads
    * only those. Exactness is the contract (bloom prunes, the equality
    * predicate decides); the oracle replays plain WHERE o_custkey = 42.
    */
  def bloomZoneMap(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch(spark, "bloomzm-orders")
    val sharded = graft.operators.ZoneMap.withShard(
      t(spark, dir, "orders"), "o_orderkey", 16)
    graft.operators.ZoneMap.writeLayout(sharded, path)
    val layout = spark.read.parquet(path)
    // expectedPerShard is deployment config, NOT derived from the data:
    // filter geometry must stay constant so manifests built at different
    // corpus sizes remain mergeable (see bloomManifest's contract). 16K
    // covers every test SF's shard population; beyond it fpp degrades
    // gracefully while absence proofs stay exact.
    val bloom = graft.operators.SkippingIndex.bloomManifest(
      layout, "o_custkey", expectedPerShard = 16384L)
    graft.operators.SkippingIndex
      .scanEquals(spark, path, bloom, "o_custkey", 42L)
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_orderkey"),
        max(col("o_orderkey")).as("max_orderkey"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
  }

  /** HITS hubs & authorities over the q132 user-transition graph
    * ([[graft.operators.Graph.hits]], 3 iterations): the hub
    * and authority score for EVERY node (rounded to 8 decimals, ordered
    * by user_id — no limit). The oracle replays the identical sequential
    * update (auth ← Eᵀh, normalize; hub ← E·auth, normalize) unrolled in
    * SQL — the q132 PageRank validation pattern.
    */
  def hitsRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val edges = t(spark, dir, "events")
      .select(col("user_id").as("src"), lead(col("user_id"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
    graft.operators.Graph.hits(edges, iters = 3)
      .select(col("node").as("user_id"),
        round(col("hub"), 8).as("hub"), round(col("auth"), 8).as("auth"))
      .orderBy(col("user_id"))
  }

  /** Q205 — opt-in lenient date inference end-to-end (the dateutil-parity
    * gap: reference load_tables_daily.py:104–116 defers to
    * `dateutil.parser.parse`; the strict temporal grammar deliberately types
    * free-form shapes as text). Render o_orderdate into four word-month
    * styles a clinical extract might carry — "March 4th, 2020",
    * "4 of march 2020", "Wed, Mar 4, 2020", "March 4 2020 7:30 pm" —
    * then run the rendered strings through the REAL opt-in path: the
    * lenient type vote (`inferColumnTypes(lenient = true)`) followed by
    * `TypeInference.narrow(lenient = true)`, whose codegen'd
    * `lenient_temporal_norm` canonicalizes scan-locally before the same
    * strict grammar. The oracle is round-trip identity (DuckDB reads
    * o_orderdate directly), so any grammar failure surfaces
    * as a null/hash mismatch rather than a weaker rows-only check. The
    * voted type is date or timestamp depending on which styles the
    * bounded sample saw; both narrow through the identical parse and
    * cast to the same civil day, so the output is vote-invariant.
    * Scale shape: one orders scan, one fused codegen projection
    * (render → normalize → parse), no shuffle before the final sort.
    */
  def lenientDates(spark: SparkSession, dir: String): DataFrame = {
    import graft.etl.{DType, TypeInference}
    val orders = t(spark, dir, "orders")
    val d = col("o_orderdate")
    val day = dayofmonth(d)
    val dayS = day.cast("string")
    val yearS = year(d).cast("string")
    val suffix = when(day % 100 >= 11 && day % 100 <= 13, lit("th"))
      .when(day % 10 === 1, lit("st"))
      .when(day % 10 === 2, lit("nd"))
      .when(day % 10 === 3, lit("rd"))
      .otherwise(lit("th"))
    val style0 = concat(date_format(d, "MMMM "), dayS, suffix, lit(", "), yearS)
    val style1 = lower(concat(dayS, lit(" of "), date_format(d, "MMMM "), yearS))
    val style2 = concat(date_format(d, "EEE, MMM "), dayS, lit(", "), yearS)
    // deterministic 12-hour clock exercising the am/pm fold; hours 1–11
    // keep the civil day unchanged through the date cast
    val hour12 = (col("o_orderkey") % 11 + 1).cast("string")
    val mer = when(col("o_orderkey") % 2 === 0, lit("am")).otherwise(lit("pm"))
    val style3 = concat(date_format(d, "MMMM "), dayS, lit(" "), yearS,
      lit(" "), hour12, lit(":30 "), mer)
    val rendered = stageScratch(spark, "q205-render", orders.select(col("o_orderkey"),
      when(col("o_orderkey") % 4 === 0, style0)
        .when(col("o_orderkey") % 4 === 1, style1)
        .when(col("o_orderkey") % 4 === 2, style2)
        .otherwise(style3).as("raw_date")))
    val voted = TypeInference.inferColumnTypes(
      rendered.select(col("raw_date")), lenient = true)
    require(Set[DType](DType.DateD, DType.Timestamp)(voted("raw_date")),
      s"lenient vote classified raw_date as ${voted("raw_date").name}, not temporal")
    TypeInference.narrow(rendered, voted, lenient = true)
      .select(col("o_orderkey"), col("raw_date").cast("date").as("parsed_day"))
      .orderBy(col("o_orderkey"))
  }
}
