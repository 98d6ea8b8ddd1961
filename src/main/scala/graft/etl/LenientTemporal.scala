package graft.etl

/** Deterministic free-form date canonicalizer — the opt-in stand-in for
  * the reference's `dateutil.parser.parse` leniency
  * (load_tables_daily.py:104–116) beyond the strict [[TemporalGrammar]].
  *
  * dateutil accepts open-ended word-order shapes ("March 4th, 2020",
  * "Wed, 4 of March 2020 10:30 PM"); the strict [[TemporalGrammar]] deliberately
  * does not (SURVEY.md §7 hard-part 1: inference must be deterministic).
  * This closes the gap WITHOUT giving up determinism: a fixed token
  * grammar rewrites the free-form shapes into one canonical form that the
  * strict grammar already parses ("M/d/yyyy[ H:mm:ss]"), and
  * anything the grammar does not recognize is returned verbatim (so it
  * types as text exactly as before). Normalization is a pure per-value
  * function — scan-local on the Spark side (see `lenient_temporal_norm`
  * in NativeTextExpressions), driver-side in the sampled classifier.
  *
  * Grammar (one pass over whitespace/comma-split tokens; any token
  * outside it ⇒ not temporal ⇒ verbatim):
  *   - weekday names/abbrevs and the fillers "of"/"the" are dropped
  *   - exactly one month word (full or 3-letter, optional trailing '.')
  *   - day: ordinal ("4th") or bare 1–2-digit number, 1–31
  *   - year: one 4-digit number, or a remaining 2-digit number once the
  *     day is taken (2000-based, matching the strict grammar's "M/d/yy")
  *   - time: "H:mm[:ss]" with optional attached or standalone am/pm, or
  *     a bare "Ham"/"H pm" hour
  *
  * Pinned divergences from dateutil (both deliberate — dateutil fills
  * missing fields from `default`, i.e. "today", which makes inference
  * time-dependent): a month+year string without a day ("March 2020") and
  * a bare day without a year are NOT temporal here; numeric-only shapes
  * ("3/4/2020") are untouched — the strict grammar already owns them and
  * their month-first convention.
  */
object LenientTemporal {

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
