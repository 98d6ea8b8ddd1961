package graft

import graft.functions.{CosineSimilarity, DotProduct, VectorFunctions}
import graft.plans.RewriteCosineToDot
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

/** Extension surfaces: the optimizer rule's rewrite (applied directly to an
  * analyzed plan, conf-gated) and the V2 manifest source end-to-end.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f)), (1L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")

  test("RewriteCosineToDot rewrites only when the session asserts unit vectors") {
    val df = vecs.as("a").crossJoin(vecs.as("b"))
      .select(expr("cosine_sim(a.embedding, b.embedding)").as("c"))
    val analyzed = df.queryExecution.analyzed

    spark.conf.set("spark.graft.assumeUnitVectors", "false")
    val untouched = RewriteCosineToDot(analyzed)
    assert(untouched.expressions.forall(e =>
      e.collectFirst { case d: DotProduct => d }.isEmpty))

    spark.conf.set("spark.graft.assumeUnitVectors", "true")
    try {
      val rewritten = RewriteCosineToDot(analyzed)
      assert(rewritten.expressions.exists(e =>
        e.collectFirst { case d: DotProduct => d }.isDefined))
    } finally spark.conf.set("spark.graft.assumeUnitVectors", "false")
  }

  test("on a session built without the extension, install makes the unit-vector key rewrite cosine_sim") {
    // the documented knob, end to end: the rule reaches the optimized plan
    // through GraftExtensions.install alone (the shared session is plain)
    def optimized() = vecs.as("a").crossJoin(vecs.as("b"))
      .select(expr("cosine_sim(a.embedding, b.embedding)").as("c"))
      .queryExecution.optimizedPlan
    def has(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, cls: Class[_]) =
      plan.expressions.exists(_.find(e => cls.isInstance(e)).isDefined)
    assert(!spark.conf.getOption("spark.sql.extensions").exists(_.contains("GraftExtensions")))
    val off = withConf("spark.graft.assumeUnitVectors" -> "false")(optimized())
    assert(has(off, classOf[CosineSimilarity]) && !has(off, classOf[DotProduct]), off.toString)
    val on = withConf("spark.graft.assumeUnitVectors" -> "true")(optimized())
    assert(has(on, classOf[DotProduct]) && !has(on, classOf[CosineSimilarity]), on.toString)
  }

  test("dot product equals cosine for unit vectors (the rewrite's soundness)") {
    val r = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.vec_id" === 0 && $"b.vec_id" === 1)
      .select(
        expr("cosine_sim(a.embedding, b.embedding)").as("cos"),
        VectorFunctions.dotHof($"a.embedding", $"b.embedding").as("dot"))
      .first()
    // (0.6f, 0.8f) is unit only to float32 precision, so cosine vs dot
    // agree to ~1e-7, not machine-double epsilon.
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6)
    assert(math.abs(r.getDouble(0) - 0.6) < 1e-6)
  }

  test("GraftExtensions applies its injections cleanly") {
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("a session built with the extensions resolves every injected function end-to-end") {
    // the real cluster path: a FRESH session (shared SparkContext) with
    // spark.sql.extensions applied, NO install() call anywhere — every
    // function must resolve and evaluate through the injection alone
    val names = (functions.VectorFunctions.builders ++
      functions.NativeTextExpressions.builders).map(_._1)
    assert(names.contains("canon_text") && names.contains("cosine_sim") &&
      names.contains("srp_buckets"), "unification must span both modules")
    assert(names.distinct.length == names.length, "duplicate function name")
    val (oldDefault, oldActive) =
      (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val fresh = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = fresh.sql(
        """SELECT canon_text('Café  Noir!') AS canon,
          |  round(cosine_sim(array(CAST(0.6 AS FLOAT), CAST(0.8 AS FLOAT)),
          |                   array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))), 4) AS cos,
          |  size(word_ngram_hashes('a b c d', 3)) AS n_grams""".stripMargin).first()
      assert(r.getString(0) == "cafe noir")
      assert(math.abs(r.getDouble(1) - 0.6) < 1e-4)
      assert(r.getInt(2) == 2)
    } finally {
      oldDefault.foreach(SparkSession.setDefaultSession)
      oldActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("manifest DataSource V2 reads (file_path, table_name) rows") {
    val dir = java.nio.file.Files.createTempDirectory("mani")
    val manifest = dir.resolve("files.list")
    java.nio.file.Files.writeString(manifest,
      "Patient_Labs.csv\n# skip me\n\n/abs/path/Encounters.CSV\n")
    val df = spark.read.format("graft.sources.ManifestDataSource")
      .option("path", manifest.toString).load()
    assert(df.schema.fieldNames.toSeq == Seq("file_path", "table_name"))
    val rows = df.orderBy("file_path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(
      ("/abs/path/Encounters.CSV", "encounters"),
      ("Patient_Labs.csv", "patient_labs")))
  }

  test("manifest source splits a large manifest into multiple partitions, no line lost") {
    val dir = java.nio.file.Files.createTempDirectory("manifest-big")
    val manifest = dir.resolve("big.list")
    // 5000 entries with varying lengths so split points land mid-line
    val entries = (0 until 5000).map(i => s"/data/in/Table_${"x" * (i % 17)}_$i.csv")
    java.nio.file.Files.writeString(manifest, entries.mkString("\n") + "\n")
    val df = spark.read.format("graft.sources.ManifestDataSource")
      .option("path", manifest.toString)
      .option("splitSizeBytes", "8192").load()
    assert(df.rdd.getNumPartitions > 1, s"expected >1 partitions")
    val got = df.select("file_path").collect().map(_.getString(0)).toSeq
    assert(got.length == entries.length, s"${got.length} vs ${entries.length}")
    assert(got.toSet == entries.toSet)
    // and the default single-ish split reads identically
    val whole = spark.read.format("graft.sources.ManifestDataSource")
      .option("path", manifest.toString).load()
      .select("file_path").collect().map(_.getString(0)).toSeq
    assert(whole.sorted == got.sorted)
  }
}
