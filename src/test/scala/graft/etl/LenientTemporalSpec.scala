package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

import DType._

/** The opt-in free-form date grammar (`TemporalGrammar.parse(…, lenient =
  * true)`) — the deterministic stand-in for the reference's dateutil
  * leniency (load_tables_daily.py:104–116). It replaced a canonicalizer
  * that rewrote word-order values to the strict grammar's
  * "M/d/yyyy[ H:mm:ss]" for a second parse; that canonicalizer is kept
  * here verbatim as the reference oracle ([[Old.normalize]]). Covers: the
  * accepted shapes and the deliberate rejections (each pinned to the
  * strict parse of what the canonicalizer made of it), the lenient
  * classifier/vote, the end-to-end lenient narrow, a CODEGEN_ONLY pin on
  * `temporal_parse(s, true)`, a generative render → parse round trip over
  * random dates and styles, and a generative equality with the oracle on
  * seeded word-order strings and arbitrary strings.
  */
class LenientTemporalSpec extends SparkSpec {
  import TypeInference.guessType

  /** The replaced canonicalizer, verbatim. */
  object Old {
    private val months: Map[String, Int] = {
      val full = Seq("january", "february", "march", "april", "may", "june",
        "july", "august", "september", "october", "november", "december")
      (full.zipWithIndex.map { case (m, i) => m -> (i + 1) } ++
        full.zipWithIndex.map { case (m, i) => m.take(3) -> (i + 1) } ++
        // dateutil also takes the 4-letter September abbreviation
        Seq("sept" -> 9)).toMap
    }

    private val weekdays: Set[String] = {
      val full = Seq("monday", "tuesday", "wednesday", "thursday", "friday",
        "saturday", "sunday")
      (full ++ full.map(_.take(3)) ++ Seq("tues", "thur", "thurs")).toSet
    }

    private val Ordinal = "^(\\d{1,2})(st|nd|rd|th)$".r
    private val TimeTok = "^(\\d{1,2}):(\\d{2})(?::(\\d{2}))?(am|pm)?$".r
    private val HourMeridiem = "^(\\d{1,2})(am|pm)$".r
    private val Digits = "^(\\d{1,4})$".r

    /** Canonicalize `raw` to "M/d/yyyy[ H:mm:ss]" if the grammar matches,
      * else return `raw` unchanged. Never throws; null-safe at the caller.
      */
    def normalize(raw: String): String = {
      val s = raw.trim
      // pure-numeric shapes belong to the strict grammar; a letter is the cheap
      // gate for "might be a word-month form" before any tokenization
      if (s.isEmpty || !s.exists(_.isLetter)) return raw

      var month = -1; var day = -1; var year = -1
      var hour = -1; var minute = -1; var second = -1
      var meridiem: String = null // "am"/"pm" once seen (attached or standalone)

      val tokens = s.toLowerCase.split("[,\\s]+").filter(_.nonEmpty)
      var i = 0
      while (i < tokens.length) {
        val t0 = tokens(i)
        val t = if (t0.length > 1 && t0.endsWith(".")) t0.dropRight(1) else t0
        t match {
          case _ if weekdays.contains(t) || t == "of" || t == "the" => // drop
          case m if months.contains(m) =>
            if (month > 0) return raw // two month words: not a date
            month = months(m)
          case Ordinal(d, _) =>
            if (day > 0) return raw
            day = d.toInt
          case TimeTok(h, mi, se, mer) =>
            if (hour >= 0) return raw
            hour = h.toInt; minute = mi.toInt
            second = if (se == null) 0 else se.toInt
            if (mer != null) meridiem = mer
          case HourMeridiem(h, mer) =>
            if (hour >= 0) return raw
            hour = h.toInt; minute = 0; second = 0; meridiem = mer
          case "am" | "pm" =>
            if (hour < 0 || meridiem != null) return raw // meridiem needs a time
            meridiem = t
          case Digits(d) =>
            val v = d.toInt
            if (d.length >= 3) { // 3-digit numbers are not day/2-digit-year
              if (d.length != 4 || year > 0) return raw
              year = v
            } else if (day < 0) day = v
            else if (year < 0) year = 2000 + v // strict grammar's "M/d/yy" base
            else return raw
          case _ => return raw // unknown word ⇒ not a date
        }
        i += 1
      }

      if (month < 1 || day < 1 || day > 31 || year < 0) return raw
      if (meridiem != null) {
        if (hour < 1 || hour > 12) return raw
        if (meridiem == "am") { if (hour == 12) hour = 0 }
        else if (hour != 12) hour += 12
      }
      if (hour > 23 || minute > 59 || second > 59) return raw

      val date = s"$month/$day/$year"
      // the strict grammar's form; calendar validity (Feb 30) is still
      // the strict parser's call, exactly as for native "M/d/yyyy" input
      if (hour < 0) date else f"$date $hour%d:$minute%02d:$second%02d"
    }
  }

  /** The parsed fields of `s`, or None if it is not temporal. */
  private def parse(s: String, lenient: Boolean): Option[Seq[Any]] = {
    val f = new TemporalFields
    if (!TemporalGrammar.parse(s, f, lenient)) None
    else Some(Seq(f.year, f.month, f.day, f.hour, f.minute, f.second, f.nanos,
      f.hasOffset, f.offsetSeconds))
  }
  private def lenient(s: String) = parse(s, lenient = true)
  private def strict(s: String) = parse(s, lenient = false)

  /** `s` parses leniently to the strict parse of `canonical`, which the
    * replaced canonicalizer made of it. */
  private def reads(s: String, canonical: String): Unit = {
    assert(Old.normalize(s) == canonical, s"oracle drifted on '$s'")
    assert(strict(canonical).isDefined, s"'$canonical' is not strict-temporal")
    assert(lenient(s) == strict(canonical), s"'$s' should read as '$canonical'")
  }

  test("word-month shapes canonicalize to the strict cascade's form") {
    reads("March 4th, 2020", "3/4/2020")
    reads("4 of march 2020", "3/4/2020")
    reads("Wed, Mar 4, 2020", "3/4/2020")
    reads("Wednesday, March 4, 2020", "3/4/2020")
    reads("4 Mar. 2020", "3/4/2020")         // dotted abbrev
    reads("Sept 21 2021", "9/21/2021")       // 4-letter Sept
    reads("2020 March 4", "3/4/2020")        // year-first
    reads("the 1st of January 2000", "1/1/2000")
    reads("DECEMBER 31ST, 1999", "12/31/1999") // case-blind
  }

  test("times fold in: 24h, am/pm (attached and standalone), seconds") {
    reads("March 4 2020 7:30 pm", "3/4/2020 19:30:00")
    reads("March 4 2020 7:30pm", "3/4/2020 19:30:00")
    reads("March 4 2020 7pm", "3/4/2020 19:00:00")
    reads("March 4 2020 12:00 am", "3/4/2020 0:00:00")
    reads("March 4 2020 12:15 pm", "3/4/2020 12:15:00")
    reads("March 4 2020 23:59:58", "3/4/2020 23:59:58")
  }

  test("2-digit years take the strict list's 2000 base (M/d/uu parity)") {
    reads("March 4 20", "3/4/2020")
    reads("4th March 99", "3/4/2099")
  }

  test("deliberate rejections return the input verbatim") {
    // each is not of the word-order grammar, so it reads exactly as the
    // strict grammar reads it (the canonicalizer returned it verbatim)
    def verbatim(s: String): Unit = {
      assert(Old.normalize(s) == s, s"oracle drifted on '$s'")
      assert(lenient(s) == strict(s), s"'$s' should read as the strict grammar reads it")
    }
    // no day (dateutil would fill it from `default` = today — the
    // pinned divergence that keeps inference time-independent)
    verbatim("March 2020")
    verbatim("4th")                    // no month/year
    verbatim("March April 2020")       // 2 months
    verbatim("March 4 5 2020 6")       // extra nums
    verbatim("March 150 2020")         // 3-digit
    verbatim("March 32nd, 2020")       // day > 31
    verbatim("visited March 4th, 2020")
    verbatim("March 4 2020 13:00 pm")
    verbatim("3/4/2020")               // numeric: strict's turf
    verbatim("")
    Seq("March 2020", "4th", "March April 2020", "March 4 5 2020 6", "March 150 2020",
      "March 32nd, 2020", "visited March 4th, 2020", "March 4 2020 13:00 pm", "")
      .foreach(s => assert(lenient(s).isEmpty, s"'$s' should not be temporal"))
    assert(lenient("3/4/2020").isDefined)
  }

  test("the canonical form's corner cases: years that do not render as 4 digits, the calendar") {
    // the fields are checked as the `M/d/yyyy` they render to, so a year
    // below 1000 is text, except 10–99 without a time (`M/d/yy`) ...
    assert(lenient("March 4, 0999").isEmpty)
    assert(lenient("March 4, 0005").isEmpty)
    assert(lenient("March 4, 0024") == strict("3/4/24"))
    assert(lenient("March 4, 0024 7pm").isEmpty)
    // ... even where the strict month-word shape alone takes the year
    assert(strict("Mar 4, 0999").isDefined && lenient("Mar 4, 0999").isEmpty)
    assert(strict("Mar 4, 0024") != lenient("Mar 4, 0024"))
    // and the strict calendar rules decide the day
    assert(lenient("February 29th, 2020") == strict("2/29/2020"))
    assert(lenient("February 29th, 2021").isEmpty)
    assert(lenient("April 31 2020").isEmpty)
    // a second ordinal may replace a day of 0, as the canonicalizer let it
    reads("March 0th 4th 2020", "3/4/2020")
  }

  test("lenient guessType accepts the shapes, strict still refuses them") {
    assert(guessType("March 4th, 2020") == Text)
    assert(guessType("March 4th, 2020", lenient = true) == DateD)
    assert(guessType("March 4 2020 7:30 pm", lenient = true) == Timestamp)
    assert(guessType("March 4 2020 12:00 am", lenient = true) == DateD) // midnight
    assert(guessType("March 2020", lenient = true) == Text)
    // non-temporal verdicts are untouched by the lenient pass
    assert(guessType("32767", lenient = true) == SmallInt)
    assert(guessType("true", lenient = true) == Bool)
    assert(guessType("2020-03-04", lenient = true) == DateD)
  }

  test("lenient vote + narrow recover the civil day end-to-end") {
    import spark.implicits._
    val df = Seq(
      (1L, "March 4th, 2020"), (2L, "4 of march 2020"),
      (3L, "Wed, Mar 4, 2020"), (4L, "March 4 2020 7:30 pm"),
      (5L, "not a date at all")).toDF("id", "raw")
    val strictVote = TypeInference.inferColumnTypes(df.select($"raw"), Some(5))
    assert(strictVote("raw") == Text)
    val vote = TypeInference.inferColumnTypes(
      df.filter($"id" =!= 5).select($"raw"), Some(5), lenient = true)
    assert(vote("raw") == Timestamp) // date ⊔ timestamp
    val out = TypeInference.narrow(df, Map("raw" -> vote("raw")), lenient = true)
      .select($"id", $"raw".cast("date").cast("string").as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 4L).forall(out(_) == "2020-03-04"))
    assert(out(5L) == null) // unparseable degrades to null, never throws
  }

  test("temporal_parse(s, true) is codegen'd (CODEGEN_ONLY pin)") {
    import spark.implicits._
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val out = Seq("March 4th, 2020", "plain text", "2020-03-04").toDF("s")
        .select(expr("cast(temporal_parse(s, true) as date)").cast("string").as("lenient"),
          expr("cast(temporal_parse(s) as date)").cast("string").as("strict"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(out == Seq(("2020-03-04", null), (null, null), ("2020-03-04", "2020-03-04")))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("generative round-trip: render → lenient parse = identity") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val months = Array("January", "February", "March", "April", "May", "June",
      "July", "August", "September", "October", "November", "December")
    def suffix(d: Int) =
      if (d % 100 >= 11 && d % 100 <= 13) "th"
      else d % 10 match { case 1 => "st"; case 2 => "nd"; case 3 => "rd"; case _ => "th" }
    val gen = for {
      epochDay <- Gen.choose(
        java.time.LocalDate.of(1950, 1, 1).toEpochDay,
        java.time.LocalDate.of(2099, 12, 31).toEpochDay)
      style <- Gen.choose(0, 3)
    } yield (java.time.LocalDate.ofEpochDay(epochDay), style)
    val prop = Prop.forAll(gen) { case (date, style) =>
      val (m, d, y) = (months(date.getMonthValue - 1), date.getDayOfMonth, date.getYear)
      val rendered = style match {
        case 0 => s"$m $d${suffix(d)}, $y"
        case 1 => s"$d of ${m.toLowerCase} $y"
        case 2 => s"${date.getDayOfWeek.toString.take(3).toLowerCase.capitalize}, ${m.take(3)} $d, $y"
        case _ => s"$m $d $y"
      }
      lenient(rendered) == Some(Seq(y, date.getMonthValue, d, 0, 0, 0, 0, false, 0))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, s"round-trip: $res")
  }

  test("lenient parse = strict parse of the old canonicalizer output (seeded)") {
    val rnd = new scala.util.Random(20260418L)
    val words = Seq("January", "feb", "MAR", "april", "May", "jun", "July", "aug", "Sept", "sep",
      "September", "oct", "November", "DEC", "Mon", "tues", "Wednesday", "thur", "THURS", "fri",
      "sat", "Sunday", "of", "the", "The", "am", "PM", "pm", "noon", "x", "mArCh", "Ma", "marchs",
      "julyy", "İt", "Kelvin", "ſept", "ﬁve")
    def num(maxDigits: Int): String = {
      val w = 1 + rnd.nextInt(maxDigits)
      Seq.fill(w)(rnd.nextInt(10)).mkString
    }
    def token(): String = {
      val t = rnd.nextInt(12) match {
        case 0 | 1 | 2 => words(rnd.nextInt(words.length))
        case 3 | 4 => num(2)
        case 5 => num(5)
        case 6 => num(2) + Seq("st", "nd", "rd", "th", "TH", "xx")(rnd.nextInt(6))
        case 7 => num(2) + ":" + num(3) + (if (rnd.nextBoolean()) ":" + num(3) else "") +
          (if (rnd.nextBoolean()) Seq("am", "pm", "PM", "a")(rnd.nextInt(4)) else "")
        case 8 => num(3) + Seq("am", "pm", "Am")(rnd.nextInt(3))
        case 9 => f"${rnd.nextInt(10000)}%04d"
        case 10 => Seq(".", "-", "2020-03-04", "3/4/2020", "T", "10:30:00Z", "1e5")(rnd.nextInt(7))
        case _ => (1 + rnd.nextInt(2099)).toString
      }
      if (rnd.nextInt(6) == 0) t + "." else t
    }
    val seps = Seq(" ", ", ", ",", "  ", "\t", "\r\n", "\u000B", "\f", " ,", " ")
    def wordOrder(): String = {
      val body = Seq.fill(1 + rnd.nextInt(7))(token())
        .reduce((a, b) => a + seps(rnd.nextInt(seps.length)) + b)
      Seq("", " ", "\t", "\u0001")(rnd.nextInt(4)) + body + Seq("", " ", "\n")(rnd.nextInt(3))
    }
    // renders of random dates in word order, with the grammar's options
    def rendered(): String = {
      val date = java.time.LocalDate.ofEpochDay(
        rnd.nextInt(120000) - 60000 + java.time.LocalDate.of(1970, 1, 1).toEpochDay)
      val fullMonth = date.getMonth.getDisplayName(java.time.format.TextStyle.FULL, java.util.Locale.US)
      val m = rnd.nextInt(4) match {
        case 0 => fullMonth
        case 1 => fullMonth.take(3) + (if (rnd.nextBoolean()) "." else "")
        case 2 => fullMonth.toUpperCase
        case _ => fullMonth.toLowerCase
      }
      val d = date.getDayOfMonth
      val day = if (rnd.nextBoolean()) d.toString else s"$d${Seq("st", "nd", "rd", "th")(rnd.nextInt(4))}"
      val y = rnd.nextInt(4) match {
        case 0 => f"${date.getYear % 100}%02d"
        case 1 => f"${rnd.nextInt(10000)}%04d" // years below 1000 too
        case _ => date.getYear.toString
      }
      val time = rnd.nextInt(4) match {
        case 0 => ""
        case 1 => s" ${rnd.nextInt(25)}:${f"${rnd.nextInt(61)}%02d"}"
        case 2 => s" ${rnd.nextInt(14)}:${f"${rnd.nextInt(60)}%02d"}:${f"${rnd.nextInt(61)}%02d"} " +
          Seq("am", "pm")(rnd.nextInt(2))
        case _ => s" ${rnd.nextInt(14)}${Seq("am", "pm")(rnd.nextInt(2))}"
      }
      val weekday = if (rnd.nextBoolean()) "" else date.getDayOfWeek.toString.take(3).toLowerCase + ", "
      rnd.nextInt(4) match {
        case 0 => s"$weekday$m $day, $y$time"
        case 1 => s"$weekday$day of $m $y$time"
        case 2 => s"the $day of $m, $y$time"
        case _ => s"$y $m $day$time"
      }
    }
    def arbitrary(): String = rnd.nextInt(3) match {
      case 0 => Seq.fill(rnd.nextInt(20))((32 + rnd.nextInt(95)).toChar).mkString
      case 1 => Seq.fill(rnd.nextInt(12))(rnd.nextInt(0x10000).toChar).mkString
      case _ => rnd.nextString(rnd.nextInt(16))
    }
    val inputs = Seq.fill(20000)(wordOrder()) ++ Seq.fill(20000)(rendered()) ++
      Seq.fill(5000)(arbitrary())
    val mismatches = inputs.filter(s => lenient(s) != strict(Old.normalize(s)))
    assert(mismatches.isEmpty, s"${mismatches.size} mismatches, e.g. ${mismatches.take(5)
      .map(s => s"'$s': ${lenient(s)} vs ${strict(Old.normalize(s))}")}")
    // the inputs reach both verdicts of the word-order grammar
    val accepted = inputs.count(s => Old.normalize(s) != s && lenient(s).isDefined)
    val rejected = inputs.count(s => Old.normalize(s) != s && lenient(s).isEmpty)
    assert(accepted > 1000 && rejected > 100, s"accepted $accepted, rejected $rejected")
  }
}
