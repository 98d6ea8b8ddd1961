package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic inputs for the benchmark.
  *
  * `tables` writes the ten query tables in the shape of the sf0.1 test
  * set (same schemas, row counts and value ranges), so the query workloads
  * need nothing outside the checkout. Every value is a pure function of
  * (table, row id), so the files are identical whatever the partitioning.
  *
  * `extracts` writes daily CSV extracts of the `daily_load` workload,
  * named after tables of the source system's 22-table manifest, from the
  * workload seed, each column drawn from one planted type of the `DType`
  * lattice, and returns that planted truth.
  */
object DataGen extends Serializable {

  /** Seed of the query tables. It is fixed: the goldens depend on it. */
  val TablesSeed = 42L

  private def rng(seed: Long, table: Int, id: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + table * 7919L + id * 0x9E3779B97F4A7C15L)

  private def round2(d: Double): Double = math.rint(d * 100) / 100

  private val epochDay1995 = LocalDate.of(1995, 1, 1).toEpochDay
  private def tsOfDay(day: Long): Timestamp =
    Timestamp.from(LocalDate.ofEpochDay(day).atStartOfDay().toInstant(ZoneOffset.UTC))

  val Vocab: Array[String] = ("a and agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(" ")

  private val Langs = Array("en", "en", "en", "en", "zh", "de", "es", "fr", "en", "zh", "de",
    "es", "fr", "en")

  def tables(spark: SparkSession, dir: String): Unit = {
    def write(name: String, salt: Int, n: Long, schema: StructType)(row: (Long, SplittableRandom) => Row): Unit = {
      val rdd = spark.sparkContext.range(0L, n, 1L, 4).map(i => row(i, rng(TablesSeed, salt, i)))
      spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def f(name: String, t: DataType) = StructField(name, t)

    val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", 1, 5, StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType)))) {
      (i, _) => Row(i.toInt, regions(i.toInt))
    }
    write("nation", 2, 25, StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType)))) { (i, _) => Row(i.toInt, s"NATION_$i", (i % 5).toInt) }

    val segments = Array("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
    write("customer", 3, 15000, StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType)))) {
      (i, r) => Row(i, f"Customer#$i%09d", r.nextInt(25), round2(r.nextDouble(-999.99, 9999.99)),
        segments(r.nextInt(5)))
    }
    write("supplier", 4, 1000, StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)))) {
      (i, r) => Row(i, f"Supplier#$i%09d", r.nextInt(25), round2(r.nextDouble(-999.99, 9999.99)))
    }

    val adjectives = Array("red", "new", "hot", "small", "cold", "large", "blue", "green")
    val nouns = Array("bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "screw")
    val types = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
    write("part", 5, 20000, StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType)))) {
      (i, r) => Row(i, s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
        types(r.nextInt(6)), 1 + r.nextInt(50), math.rint(9000 + i % 1000) / 10)
    }

    val statuses = Array("O", "P", "F")
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDays = LocalDate.of(2001, 8, 1).toEpochDay - epochDay1995
    write("orders", 6, 150000, StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType)))) {
      (i, r) => Row(i, r.nextLong(15000), statuses(r.nextInt(3)), round2(r.nextDouble(1000, 500000)),
        tsOfDay(epochDay1995 + r.nextLong(orderDays + 1)), priorities(r.nextInt(5)))
    }

    val shipDays = LocalDate.of(2001, 11, 4).toEpochDay - epochDay1995
    write("lineitem", 7, 600000, StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType)))) {
      (_, r) => Row(r.nextLong(150000), r.nextLong(20000), r.nextLong(1000), 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, round2(r.nextDouble(900, 105000)), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        tsOfDay(epochDay1995 + 1 + r.nextLong(shipDays)))
    }

    // Events arrive in id order over 30 days: the i-th event falls in the
    // i-th slot of the window, at a random offset inside it.
    val eventTypes = Array("signup", "click", "error", "view", "purchase")
    val n = 100000L
    val start = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    val slot = 30L * 86400L * 1000000L / n
    write("events", 8, n, StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType)))) {
      (i, r) =>
        val micros = start + i * slot + r.nextLong(slot)
        val ts = new Timestamp(Math.floorDiv(micros, 1000L))
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        Row(i, ts, r.nextLong(1500), eventTypes(r.nextInt(5)),
          round2(-50.0 * math.log(1.0 - r.nextDouble())), s"""{"k": ${r.nextInt(100)}}""")
    }

    // Documents: random text over a small vocabulary, with every 50th
    // document an exact copy and every 20th a near copy (a few words
    // replaced) of an earlier one, so the dedup kernels find clusters.
    def docText(id: Long): String = {
      val r = rng(TablesSeed, 9, id)
      val words = Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
      if (id >= 100 && id % 50 == 0) docText(r.nextLong(id))
      else if (id >= 100 && id % 20 == 0) {
        val base = docText(r.nextLong(id)).split(" ")
        (0 until 1 + r.nextInt(3)).foreach(_ => base(r.nextInt(base.length)) = Vocab(r.nextInt(Vocab.length)))
        base.mkString(" ")
      } else words.mkString(" ")
    }
    write("documents", 10, 5000, StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType)))) {
      (i, r) =>
        val text = docText(i)
        Row(i, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }

    write("embeddings", 11, 2000, StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType)))) {
      (i, r) =>
        val v = Array.fill(64)(gaussian(r))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // ---------------------------------------------------------------- daily_load

  /** One planted column: the type inference should assign, and a value
    * generator for row `i`. */
  final case class Column(name: String, dtype: String, value: (SplittableRandom, Long) => String)

  final case class Extract(table: String, path: String, rows: Long, bytes: Long, columns: Seq[Column])

  /** The 22 table names of the source system's daily manifest. */
  val ExtractNames: Seq[String] = Seq(
    "PH_D_Person_Race", "PH_D_Person", "PH_F_Claim", "PH_D_Person_Alias",
    "PH_D_Person_Demographics", "PH_F_Encounter", "PH_F_Encounter_Benefit_Coverage",
    "PH_F_Encounter_Location", "PH_F_Medication", "PH_F_Procedure", "PH_F_Condition",
    "PH_F_Result", "EMPI_ID_Observation_Period", "Map_Between_Claim_Id_Encounter_Id",
    "recent_documents_titles", "recent_enc_with_documents", "recent_rad_documents_titles",
    "pui_mapped_mrns_to_empi_id", "map2_condition_occurrence_with_ccs", "hi_care_site",
    "med_admin", "med_admin_ingred")

  private val Bools = Array("t", "f", "TRUE", "false")
  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
    "Oct", "Nov", "Dec")

  /** Column kinds, each with the lattice type `TypeInference` must infer
    * from any sample of its values. Nullable kinds leave one value in ten
    * empty, which the CSV reader turns into null. */
  private val Kinds: Seq[(String, String, (SplittableRandom, Long) => String)] = {
    def day(r: SplittableRandom) = LocalDate.of(2019, 1, 1).plusDays(r.nextInt(2000))
    def nullable(g: (SplittableRandom, Long) => String): (SplittableRandom, Long) => String =
      (r, i) => if (r.nextInt(10) == 0) "" else g(r, i)
    Seq(
      ("id", "bigint", (_: SplittableRandom, i: Long) => (3000000000L + i).toString),
      ("code", "smallint", (r: SplittableRandom, _: Long) => (2 + r.nextInt(30000)).toString),
      ("qty", "smallint", nullable((r, _) => (r.nextInt(2000) - 1000).toString)),
      ("count", "integer", (r: SplittableRandom, _: Long) => (40000 + r.nextInt(2000000000)).toString),
      ("amount", "numeric", nullable((r, _) => f"${r.nextInt(100000)}.${1 + r.nextInt(99)}%02d")),
      ("flag", "boolean", (r: SplittableRandom, _: Long) => Bools(r.nextInt(4))),
      ("iso_date", "date", nullable((r, _) => day(r).toString)),
      ("us_date", "date", (r: SplittableRandom, _: Long) => {
        val d = day(r); s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}" }),
      ("eu_date", "date", (r: SplittableRandom, _: Long) => {
        val d = day(r); s"${d.getDayOfMonth}.${d.getMonthValue}.${d.getYear}" }),
      ("word_date", "date", (r: SplittableRandom, _: Long) => {
        val d = day(r); s"\"${Months(d.getMonthValue - 1)} ${d.getDayOfMonth}, ${d.getYear}\"" }),
      ("event_ts", "timestamp", nullable((r, _) =>
        f"${day(r)} ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${1 + r.nextInt(59)}%02d")),
      ("us_ts", "timestamp", (r: SplittableRandom, _: Long) => {
        val d = day(r); f"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear} ${r.nextInt(24)}:${1 + r.nextInt(59)}%02d" }),
      ("mrn", "text", (r: SplittableRandom, _: Long) => f"0${r.nextInt(10000000)}%07d"),
      ("note", "text", nullable((r, _) =>
        "\"" + Array.fill(3 + r.nextInt(8))(Vocab(r.nextInt(Vocab.length))).mkString(" ") +
          (if (r.nextInt(4) == 0) ", O'Brien's" else "") + "\"")),
      ("empty", "text", (_: SplittableRandom, _: Long) => ""))
  }

  /** Writes `tables` extracts under `dir` and returns what was planted.
    * The seed picks which tables of the manifest they are, the order of
    * their columns and every value; the row counts (a Zipf-like split of
    * `totalRows`) and the column kinds (an id and one column of every kind)
    * are the same for every seed, so every seed costs the same work. */
  def extracts(dir: String, seed: Long, tables: Int, totalRows: Long): Seq[Extract] = {
    Files.createDirectories(Path.of(dir))
    val weights = (0 until tables).map(k => 1.0 / (k + 1))
    val names = new scala.util.Random(seed).shuffle(ExtractNames).take(tables)
    names.zipWithIndex.map { case (table, k) =>
      val rows = math.max(50L, (totalRows * weights(k) / weights.sum).toLong)
      val r = new SplittableRandom(seed * 31 + table.hashCode)
      val picked = Kinds.head +: new scala.util.Random(r.nextLong()).shuffle(Kinds.tail)
      val columns = picked.zipWithIndex.map { case ((kind, t, g), c) =>
        Column(if (c == 0) s"${table.toLowerCase}_id" else s"${kind}_$c", t, g) }
      val path = s"$dir/$table.csv"
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        Files.newOutputStream(Path.of(path)), StandardCharsets.UTF_8), 1 << 16)
      try {
        out.write(columns.map(_.name).mkString(",")); out.write('\n')
        var i = 0L
        while (i < rows) {
          val vr = new SplittableRandom(r.nextLong())
          out.write(columns.map(_.value(vr, i)).mkString(",")); out.write('\n')
          i += 1
        }
      } finally out.close()
      Extract(table, path, rows, Files.size(Path.of(path)), columns)
    }
  }
}
