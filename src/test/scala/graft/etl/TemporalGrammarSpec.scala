package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import java.time.{Instant, LocalDateTime, LocalTime, ZoneId}
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.time.temporal.TemporalQueries
import java.util.Locale
import scala.util.{Random, Try}

import DType._

/** Pins the one temporal grammar that both the vote (`guessType`) and the
  * narrowing cast (`narrow`) use against the two format lists it
  * replaced, which are kept here verbatim as reference oracles:
  *   - [[Old.verdict]]: the 13 java.time patterns the vote tried one by
  *     one under `Try` (`parseTemporal`);
  *   - [[Old.cascade]]: the 13-way `coalesce(try_to_timestamp…)` that
  *     `narrow` evaluated.
  *
  * On a seeded corpus covering every pattern, 2-digit years, 29 February
  * under STRICT resolution, offsets, 3- and 6-digit fractions, word
  * months, out-of-range fields and stray whitespace:
  *   - the vote's verdict equals the old java.time list's;
  *   - where both old lists accept a string, the narrowed value equals
  *     the cascade's, under UTC and under non-UTC session zones;
  *   - where the two old lists disagreed, `narrow` now follows the vote:
  *     a string the vote calls temporal narrows to the value its shape
  *     spells, and a string the vote calls text narrows to null
  *     (MIGRATION.md lists the cases with examples).
  * The exceptions to the first two are strings the java.time list took
  * with a 3+-digit month, day or hour field, a signed year or two
  * fractions: they are text now, pinned with the drift cases.
  *
  * The first two properties hold on the two-list implementation as well;
  * the drift pins describe the one-grammar behavior.
  */
class TemporalGrammarSpec extends SparkSpec {
  import TypeInference._

  /** The replaced format lists, verbatim. */
  object Old {
    private val formats: Seq[DateTimeFormatter] = Seq(
      "uuuu-MM-dd['T'][' ']HH:mm:ss[.SSSSSS][.SSS]",
      "uuuu-MM-dd['T'][' ']HH:mm:ss[.SSS]XXX",
      "uuuu-MM-dd",
      "uuuu/MM/dd",
      "uuuu.MM.dd",
      "M/d/uuuu[ H:mm[:ss]]",
      "M/d/uu",
      "M-d-uuuu",
      "d.M.uuuu",
      "MMM d, uuuu",
      "MMMM d, uuuu",
      "d MMM uuuu",
      "uuuuMMdd'T'HHmmss"
    ).map(p => DateTimeFormatter.ofPattern(p, Locale.US).withResolverStyle(ResolverStyle.STRICT))

    /** (index of the first pattern that parses the trimmed string, the
      * local date-time, the offset in seconds if one was given). */
    def parse(raw: String): Option[(Int, LocalDateTime, Option[Int])] = {
      val s = raw.trim
      formats.iterator.zipWithIndex.flatMap { case (f, i) =>
        Try {
          val p = f.parse(s)
          val date = p.query(TemporalQueries.localDate())
          val time = Option(p.query(TemporalQueries.localTime())).getOrElse(LocalTime.MIDNIGHT)
          (i, LocalDateTime.of(date, time), Option(p.query(TemporalQueries.offset())).map(_.getTotalSeconds))
        }.toOption
      }.nextOption()
    }

    /** `parseTemporal`'s verdict: offset-bearing or non-midnight → timestamp. */
    def verdict(s: String): DType = parse(s) match {
      case None => Text
      case Some((_, ldt, off)) =>
        if (off.isEmpty && ldt.toLocalTime == LocalTime.MIDNIGHT) DateD else Timestamp
    }

    /** The instant the vote's parse spells, in `zone` when no offset was given. */
    def micros(s: String, zone: ZoneId): Option[Long] = parse(s).map { case (_, ldt, off) =>
      val i: Instant = off.fold(ldt.atZone(zone).toInstant)(o =>
        ldt.toInstant(java.time.ZoneOffset.ofTotalSeconds(o)))
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    }

    private val sparkFormats: Seq[String] = Seq(
      "yyyy/M/d", "yyyy.M.d",
      "M/d/yyyy H:mm:ss", "M/d/yyyy H:mm", "M/d/yyyy", "M/d/yy",
      "M-d-yyyy", "d.M.yyyy",
      "MMM d, yyyy", "MMMM d, yyyy", "d MMM yyyy",
      "yyyyMMdd'T'HHmmss")

    def cascade(c: Column): Column =
      coalesce((try_to_timestamp(c) +: sparkFormats.map(f => try_to_timestamp(c, lit(f)))): _*)
  }

  private val MonthsShort = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
    "Oct", "Nov", "Dec")
  private val MonthsFull = Array("January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December")

  /** Seeded strings over every shape of both lists, their near misses,
    * and the shapes only one of them accepted. */
  private val corpus: Seq[String] = {
    val r = new Random(20201005L)
    def pick[A](xs: A*): A = xs(r.nextInt(xs.size))
    def p2(i: Int) = f"$i%02d"
    def p4(i: Int) = f"$i%04d"
    def monthCase(m: String) = pick(m, m, m, m.toUpperCase, m.toLowerCase)
    val generated = (0 until 6000).map { _ =>
      val y = if (r.nextInt(6) == 0) pick(1, 1000, 1900, 1999, 2000, 2023, 2024, 2100, 9999)
              else 1950 + r.nextInt(120)
      val m = if (r.nextInt(12) == 0) pick(0, 13) else 1 + r.nextInt(12)
      // 29–31 and 0/32 exercise STRICT month lengths (29 February included)
      val d = if (r.nextInt(5) == 0) pick(0, 29, 30, 31, 32) else 1 + r.nextInt(28)
      val midnight = r.nextInt(3) == 0
      val hh = if (midnight) 0 else if (r.nextInt(15) == 0) 24 else r.nextInt(24)
      val mi = if (midnight) 0 else if (r.nextInt(15) == 0) 60 else r.nextInt(60)
      val ss = if (midnight) 0 else if (r.nextInt(15) == 0) 60 else r.nextInt(60)
      val frac = pick("", "", "", ".000", ".000000", s".${p2(r.nextInt(100))}${r.nextInt(10)}",
        f".${r.nextInt(1000000)}%06d", ".5", ".12", ".1234", ".1234567", ".123456789")
      val off = pick("", "Z", "+05:30", "-08:00", "+00:00", "-00:00", "+14:00", "+18:00", "+19:00",
        "+0530", "+05", " UTC", "+05:30:15")
      val sep = pick("T", " ", "T", " ", "T ", "")
      val hm = pick("", s" $hh:${p2(mi)}", s" $hh:${p2(mi)}:${p2(ss)}", s" ${p2(hh)}:${p2(mi)}:${p2(ss)}")
      val s = r.nextInt(23) match {
        case 0  => s"${p4(y)}-${p2(m)}-${p2(d)}"
        case 1  => s"${p4(y)}-${p2(m)}-${p2(d)}$sep${p2(hh)}:${p2(mi)}:${p2(ss)}$frac"
        case 2  => s"${p4(y)}-${p2(m)}-${p2(d)}$sep${p2(hh)}:${p2(mi)}:${p2(ss)}$frac$off"
        case 3  => s"${p4(y)}/${p2(m)}/${p2(d)}"
        case 4  => s"${p4(y)}/$m/$d"
        case 5  => s"${p4(y)}.${p2(m)}.${p2(d)}"
        case 6  => s"${p4(y)}.$m.$d"
        case 7  => s"$m/$d/${p4(y)}$hm"
        case 8  => s"${pick(s"$m", p2(m))}/${pick(s"$d", p2(d))}/${p2(y % 100)}${pick("", "", s" $hh:${p2(mi)}")}"
        case 9  => s"$m-$d-${p4(y)}"
        case 10 => s"$d.$m.${p4(y)}"
        case 11 => s"${monthCase(MonthsShort((m + 11) % 12))} $d, ${p4(y)}"
        case 12 => s"${monthCase(MonthsFull((m + 11) % 12))} $d, ${p4(y)}"
        case 13 => s"$d ${monthCase(pick(MonthsShort((m + 11) % 12), MonthsFull((m + 11) % 12)))} ${p4(y)}"
        case 14 => s"${p4(y)}${p2(m)}${p2(d)}T${p2(hh)}${p2(mi)}${p2(ss)}"
        case 15 => s"${p4(y)}-$m-$d${pick("", s" $hh:$mi:$ss")}"       // 1-digit ISO fields
        case 16 => pick(p4(y), s"${p4(y)}-${p2(m)}", s"${p2(hh)}:${p2(mi)}:${p2(ss)}", s"${p4(y)}-${p2(m)}-${p2(d)} ${p2(hh)}:${p2(mi)}")
        case 17 => s"${pick("0", "00", "000")}$m/${pick("0", "")}$d/${p4(y)}" // zero-padded M/d
        case 18 => s"${p4(y)}-${p2(m)}-${p2(d)}${pick("T", " ")}${p2(hh)}:${p2(mi)}:${p2(ss)}$frac${pick("Z", "+05:30", "-03:00")}"
        case 19 => pick(s"$m/$d/${p4(y)}", s"${p4(y)}-${p2(m)}-${p2(d)}", s"$d.$m.${p4(y)}",
                        s"${MonthsShort((m + 11) % 12)} $d, ${p4(y)}")
        case 20 => s"${p4(y)}-02-29${pick("", " 00:00:00", s" ${p2(hh)}:${p2(mi)}:${p2(ss)}")}"
        case 21 => pick(s"2/29/${p4(y)}", s"29.2.${p4(y)}", s"Feb 29, ${p4(y)}", s"2/29/${p2(y % 100)}")
        case _  => s"${p4(y)}-${p2(m)}-${p2(d)}"
      }
      // stray whitespace around the value, as an untrimmed CSV field has it
      if (r.nextInt(12) == 0) pick(" ", "  ", "\t") + s + pick("", " ") else s
    }
    val edges = Seq(
      "2020/1/5", "JAN 5, 2020", "2020", "2020-1-5", "2020-01", "10:30:00",
      "2024-02-29", "2023-02-29", "1900-02-29", "2000-02-29", "2/29/2023", "29.2.2024",
      "2024-01-15T10:30:00.123456", "2024-01-15 10:30:00.123", "2024-01-15T10:30:00.123+05:30",
      "2024-01-01T00:00:00+05:00", "2024-01-01T00:00:00Z", "3/14/24", "12/31/99",
      "March 14, 2024", "14 Mar 2024", "20240101T120000", "20240101T000000",
      "3/8/2020 2:30", "11/1/2020 1:30:00", "2020-03-08T02:30:00", "2020-11-01 01:30:00",
      "  3/14/2024 ", "2024-13-01", "2024-04-31", "2024-01-15 24:00:00", "2024-01-15 23:59:60",
      "", "   ", "hello", "2024-01-15T", "T10:30:00")
    (edges ++ generated).distinct
  }

  // the trimmed string is numeric or boolean: guessType decides before any temporal rule
  private def preTemporal(s: String): Boolean = { val t = s.trim; isNumeric(t) || isBool(t) }

  private def temporalVerdict(s: String): DType = guessType(s) match {
    case t @ (DateD | Timestamp) => t
    case _ => Text
  }

  /** (string, old-list micros under `zone`, cascade micros, narrowed micros,
    * cascade day, narrowed day) for every corpus string. */
  private def values(zone: String): Seq[(String, Option[Long], Option[Long], Option[Long], Option[Int], Option[Int])] =
    withConf("spark.sql.session.timeZone" -> zone) {
      import spark.implicits._
      val z = ZoneId.of(zone)
      val df = corpus.toDF("s").select(col("s"), col("s").as("t"), col("s").as("d"))
      val rows = df.withColumn("o", Old.cascade(col("s")))
        .transform(d => narrow(d, Map("t" -> Timestamp, "d" -> DateD)))
        .select(col("s"), expr("unix_micros(t)"), expr("unix_date(d)"),
          expr("unix_micros(o)"), expr("unix_date(cast(o as date))"))
        .collect()
      def opt[A](r: org.apache.spark.sql.Row, i: Int): Option[A] =
        if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[A])
      rows.toSeq.map { r =>
        val s = r.getString(0)
        (s, Old.micros(s, z), opt[Long](r, 3), opt[Long](r, 1), opt[Int](r, 4), opt[Int](r, 2))
      }
    }

  test("the corpus reaches every pattern of the replaced list and both drift directions") {
    val hits = corpus.flatMap(s => Old.parse(s).map(_._1)).groupBy(identity).map { case (k, v) => k -> v.size }
    assert((0 until 13).forall(i => hits.getOrElse(i, 0) >= 20), s"pattern hits: $hits")
    val v = values("UTC")
    val javaOnly = v.count(x => x._2.isDefined && x._3.isEmpty)
    val cascadeOnly = v.count(x => x._2.isEmpty && x._3.isDefined)
    val both = v.count(x => x._2.isDefined && x._3.isDefined)
    assert(both > 1000 && javaOnly > 20 && cascadeOnly > 100, s"both $both javaOnly $javaOnly cascadeOnly $cascadeOnly")
  }

  test("the vote's verdict equals the replaced java.time list on every string without a 3+-digit field") {
    val bad = corpus.filterNot(preTemporal).filterNot(wideField)
      .filter(s => temporalVerdict(s) != Old.verdict(s))
    assert(bad.isEmpty, s"${bad.size} verdicts differ, e.g. ${bad.take(10).map(s => s"'$s'")}")
  }

  test("where both old lists accept, the narrowed value equals the cascade's (UTC and other zones)") {
    for (zone <- Seq("UTC", "America/New_York", "Asia/Kolkata", "Australia/Lord_Howe")) {
      val v = values(zone).filter(x => x._2.isDefined && x._3.isDefined && !wideField(x._1))
      val badTs = v.filter(x => x._4 != x._3)
      val badDay = v.filter(x => x._6 != x._5)
      assert(badTs.isEmpty, s"$zone: ${badTs.size} timestamps differ, e.g. ${badTs.take(5)}")
      assert(badDay.isEmpty, s"$zone: ${badDay.size} dates differ, e.g. ${badDay.take(5)}")
    }
  }

  /** Strings the replaced java.time list accepted with a month, day or
    * hour field of 3+ digits ("009/30/2043", "3/5/2020 010:30"): its
    * single-letter fields took any number of leading zeros. The grammar
    * takes 1 or 2 digits, so these are text now. */
  private def wideField(s: String): Boolean = Old.parse(s).exists { case (i, _, _) =>
    val runs = "\\d+".r.findAllIn(s).toSeq
    val year = if (i <= 8) 2 else runs.size - 1 // M/d/y, M-d-y, d.M.y: third run; word months: last
    i >= 5 && i <= 11 && runs.indices.exists(k => k != year && runs(k).length > 2)
  }

  test("where the old lists disagreed, narrow follows the vote (UTC and another zone)") {
    for (zone <- Seq("UTC", "America/New_York")) {
      val z = ZoneId.of(zone)
      val v = values(zone)
      val javaOnly = v.filter(x => x._2.isDefined && x._3.isEmpty && !wideField(x._1))
      val cascadeOnly = v.filter(x => x._2.isEmpty && x._3.isDefined)
      assert(javaOnly.nonEmpty && cascadeOnly.nonEmpty)
      // the vote accepted it and the cascade nulled it: now the value the vote's parse spells
      val badJava = javaOnly.filter(x => x._4 != x._2 ||
        x._6 != x._2.map(m => Instant.ofEpochSecond(Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000)
          .atZone(z).toLocalDate.toEpochDay.toInt))
      assert(badJava.isEmpty, s"$zone: ${badJava.take(5)}")
      // the vote called it text and the cascade parsed it: now null
      val badCascade = cascadeOnly.filter(x => x._4.isDefined || x._6.isDefined)
      assert(badCascade.isEmpty, s"$zone: ${badCascade.take(5)}")
    }
    val wide = values("UTC").filter(x => wideField(x._1))
    assert(wide.size > 20 && wide.forall(x => temporalVerdict(x._1) == Text && x._4.isEmpty && x._6.isEmpty),
      wide.filter(x => x._4.isDefined).take(5))
  }

  test("the drift cases MIGRATION.md lists") {
    import spark.implicits._
    // (value, old java.time verdict, old cascade accepted it, verdict now, narrowed timestamp now)
    val cases = Seq(
      ("2020/1/5", Text, true, Text, null),
      ("2020.1.5", Text, true, Text, null),
      ("JAN 5, 2020", Text, true, Text, null),
      ("jan 5, 2020", Text, true, Text, null),
      ("2020", Text, true, SmallInt, null),
      ("2020-01", Text, true, Text, null),
      ("2020-1-5", Text, true, Text, null),
      ("10:30:00", Text, true, Text, null),
      ("2024-01-15 1:2:3", Text, true, Text, null),
      ("2024-01-15 10:30:00.5", Text, true, Text, null),
      ("2024-01-15 10:30:00.1234567", Text, true, Text, null),
      ("2024-01-15 10:30:00+0530", Text, true, Text, null),
      ("2024-01-15 10:30:00 UTC", Text, true, Text, null),
      ("2024-01-15T10:30:00.123456+05:30", Text, true, Text, null),
      ("  3/14/2024 ", DateD, false, DateD, "2024-03-14 00:00:00"),
      ("2024-01-1510:30:00", Timestamp, false, Timestamp, "2024-01-15 10:30:00"),
      ("2024-01-15T 10:30:00", Timestamp, false, Timestamp, "2024-01-15 10:30:00"),
      ("009/30/2043", DateD, true, Text, null),
      ("3/5/2020 010:30", Timestamp, true, Text, null),
      ("+12020-01-05", DateD, true, Text, null),
      ("2024-01-15 10:30:00.123000.123", Timestamp, false, Text, null))
    val got = withConf("spark.sql.session.timeZone" -> "UTC") {
      cases.map(_._1).toDF("s").withColumn("o", Old.cascade(col("s")).isNotNull)
        .withColumn("t", col("s"))
        .transform(narrow(_, Map("t" -> Timestamp)))
        .select(col("s"), col("o"), col("t").cast("string"))
        .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    }
    for ((s, oldVote, oldCascade, vote, ts) <- cases) {
      assert(Old.verdict(s) == oldVote, s"'$s': old java.time verdict")
      assert(got(s)._1 == oldCascade, s"'$s': old cascade")
      assert(guessType(s) == vote, s"'$s': verdict now")
      assert(got(s)._2 == ts, s"'$s': narrowed now")
    }
  }

  test("temporal_parse is codegen'd, not a fallback (CODEGEN_ONLY pin)") {
    import spark.implicits._
    graft.functions.NativeTextExpressions.register(spark)
    val out = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false", "spark.sql.session.timeZone" -> "UTC") {
      // an RDD scan: a local relation's projection would be evaluated by the optimizer
      spark.sparkContext.parallelize(Seq("3/14/2024 9:05", "2024-01-15T10:30:00.123+05:30", "not a date"), 1)
        .toDF("s").select(expr("cast(temporal_parse(s) as string)")).collect().map(_.getString(0)).toSeq
    }
    assert(out == Seq("2024-03-14 09:05:00", "2024-01-15 05:00:00.123", null))
  }
}
