package graft.etl

import java.time.{LocalDateTime, ZoneId}

/** Fields of one temporal string, filled by [[TemporalGrammar.parse]].
  * Reused across values: the narrowing expression keeps one per task, so
  * parsing a value allocates nothing. */
final class TemporalFields {
  var year = 0; var month = 0; var day = 0
  var hour = 0; var minute = 0; var second = 0; var nanos = 0
  var hasOffset = false; var offsetSeconds = 0

  /** Midnight with no offset: a date. Offset-bearing strings are always
    * timestamps — "midnight" in some zone is not a date once normalized to
    * the session zone. */
  def isDate: Boolean = !hasOffset && hour == 0 && minute == 0 && second == 0 && nanos == 0
}

/** The one temporal grammar: a shape classifier and parser that the type
  * vote ([[TypeInference.guessType]]) and the narrowing cast
  * ([[TypeInference.narrow]], through the codegen'd `temporal_parse`
  * expression) both call, so a column voted date or timestamp narrows
  * exactly the values the vote accepted. It stands in for dateutil's
  * lenient parser (reference load_tables_daily.py:104–116) with a pinned
  * set of shapes, which keeps inference deterministic (SURVEY.md §7
  * hard-part 1). It never throws: a string outside the table is simply
  * not temporal.
  *
  * The value is trimmed of leading and trailing whitespace (chars ≤ ' ').
  * Shapes (`yyyy` 4 digits, `MM`/`dd`/`HH`/`mm`/`ss` 2 digits, `M`/`d`/`H`
  * 1 or 2 digits, `yy` 2 digits read as 2000–2099):
  *
  * | shape                                      | example                     |
  * |--------------------------------------------|-----------------------------|
  * | `yyyy-MM-dd`                               | `2024-01-15`                |
  * | `yyyy-MM-dd` sep `HH:mm:ss` [frac]         | `2024-01-15T10:30:00.123456`|
  * | `yyyy-MM-dd` sep `HH:mm:ss` [`.SSS`] offset| `2024-01-15 10:30:00+05:30` |
  * | `yyyy/MM/dd`, `yyyy.MM.dd`                 | `2024/01/15`                |
  * | `M/d/yyyy` [` H:mm` [`:ss`]]               | `1/15/2024 9:05`            |
  * | `M/d/yy`                                   | `1/15/24`                   |
  * | `M-d-yyyy`                                 | `1-15-2024`                 |
  * | `d.M.yyyy`                                 | `15.1.2024`                 |
  * | `Mon d, yyyy`, `Month d, yyyy`             | `Jan 15, 2024`              |
  * | `d Mon yyyy`                               | `15 Jan 2024`               |
  * | `yyyyMMdd'T'HHmmss`                        | `20240115T103000`           |
  *
  * sep is `T`, one space, `T` and a space, or nothing; frac is `.` and 3
  * or 6 digits; offset is `Z` or `±HH:MM` (at most ±18:00). Month words
  * come from a fixed English table, matched case-sensitively (`Jan`…`Dec`,
  * `January`…`December`; `d Mon yyyy` takes only the short form). Fields
  * are range-checked with STRICT calendar rules (no 29 February outside
  * leap years, no hour 24, no second 60).
  *
  * Midnight without an offset is a date; anything else is a timestamp.
  */
object TemporalGrammar {

  private val ShortMonths = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
    "Oct", "Nov", "Dec")
  private val FullMonths = Array("January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December")
  private val MonthDays = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  /** [[DType.DateD]], [[DType.Timestamp]], or [[DType.Text]] if `s` has
    * none of the shapes. */
  def classify(s: String): DType = {
    val f = new TemporalFields
    if (!parse(s, f)) DType.Text else if (f.isDate) DType.DateD else DType.Timestamp
  }

  /** Fills `f` from `s` and returns true if `s` has one of the shapes. */
  def parse(s: String, f: TemporalFields): Boolean = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) <= ' ') b += 1
    while (e > b && s.charAt(e - 1) <= ' ') e -= 1
    f.hour = 0; f.minute = 0; f.second = 0; f.nanos = 0; f.hasOffset = false; f.offsetSeconds = 0
    if (e - b < 6) false
    else if (isDigit(s.charAt(b))) numeric(s, b, e, f)
    else monthFirst(s, b, e, f)
  }

  /** Microseconds since the epoch of the parsed value: at its offset if
    * it has one, else as local time in `zone` (a time in a DST gap moves
    * forward, as `LocalDateTime.atZone` does). */
  def toMicros(f: TemporalFields, zone: ZoneId): Long = {
    val epochSecond =
      if (f.hasOffset || zone.getRules.isFixedOffset) {
        val offset = if (f.hasOffset) f.offsetSeconds
                     else zone.getRules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
        java.time.LocalDate.of(f.year, f.month, f.day).toEpochDay * 86400L +
          f.hour * 3600 + f.minute * 60 + f.second - offset
      } else
        LocalDateTime.of(f.year, f.month, f.day, f.hour, f.minute, f.second).atZone(zone).toEpochSecond
    epochSecond * 1000000L + f.nanos / 1000
  }

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Length of the digit run of `s` starting at `i`, up to `e`. */
  private def digits(s: String, i: Int, e: Int): Int = {
    var j = i
    while (j < e && isDigit(s.charAt(j))) j += 1
    j - i
  }

  private def num(s: String, i: Int, n: Int): Int = {
    var v = 0
    var j = i
    while (j < i + n) { v = v * 10 + (s.charAt(j) - '0'); j += 1 }
    v
  }

  private def at(s: String, i: Int, e: Int, c: Char): Boolean = i < e && s.charAt(i) == c

  private def validDate(f: TemporalFields): Boolean =
    f.month >= 1 && f.month <= 12 && f.day >= 1 && f.day <= {
      val leap = f.year % 4 == 0 && (f.year % 100 != 0 || f.year % 400 == 0)
      if (f.month == 2 && leap) 29 else MonthDays(f.month - 1)
    }

  private def validTime(f: TemporalFields): Boolean =
    f.hour <= 23 && f.minute <= 59 && f.second <= 59

  /** Shapes that start with a digit. */
  private def numeric(s: String, b: Int, e: Int, f: TemporalFields): Boolean = {
    val n = digits(s, b, e)
    val sep = if (b + n < e) s.charAt(b + n) else ' '
    if (n == 4 && b + n < e) {
      // yyyy-MM-dd…, yyyy/MM/dd, yyyy.MM.dd
      f.year = num(s, b, 4)
      // the ISO day may run straight into the hour ("2024-01-1510:30:00")
      if (digits(s, b + 5, e) != 2 || !at(s, b + 7, e, sep) || digits(s, b + 8, e) < 2) return false
      f.month = num(s, b + 5, 2); f.day = num(s, b + 8, 2)
      if (!validDate(f)) return false
      if (sep == '-') isoTime(s, b + 10, e, f)
      else (sep == '/' || sep == '.') && b + 10 == e
    } else if (n == 8 && at(s, b + 8, e, 'T')) {
      // yyyyMMdd'T'HHmmss
      if (e - b != 15 || digits(s, b + 9, e) != 6) return false
      f.year = num(s, b, 4); f.month = num(s, b + 4, 2); f.day = num(s, b + 6, 2)
      f.hour = num(s, b + 9, 2); f.minute = num(s, b + 11, 2); f.second = num(s, b + 13, 2)
      validDate(f) && validTime(f)
    } else if (n <= 2 && b + n < e) {
      val second = b + n + 1
      if (sep == ' ') return dayMonthWord(s, b, n, e, f)
      val m = digits(s, second, e)
      if (m < 1 || m > 2 || !at(s, second + m, e, sep)) return false
      val third = second + m + 1
      val y = digits(s, third, e)
      if (sep == '.') { f.day = num(s, b, n); f.month = num(s, second, m) }
      else { f.month = num(s, b, n); f.day = num(s, second, m) }
      if (sep == '/' && y == 2 && third + 2 == e) {
        f.year = 2000 + num(s, third, 2) // M/d/yy
        validDate(f)
      } else if (y == 4 && (sep == '/' || sep == '-' || sep == '.')) {
        f.year = num(s, third, 4)
        val p = third + 4
        if (!validDate(f)) false
        else if (p == e) true
        else sep == '/' && clockTime(s, p, e, f) // M/d/yyyy H:mm[:ss]
      } else false
    } else false
  }

  /** ` H:mm[:ss]` to the end. */
  private def clockTime(s: String, p: Int, e: Int, f: TemporalFields): Boolean = {
    if (!at(s, p, e, ' ')) return false
    val h = digits(s, p + 1, e)
    if (h < 1 || h > 2 || !at(s, p + 1 + h, e, ':')) return false
    val q = p + 2 + h
    if (digits(s, q, e) != 2) return false
    f.hour = num(s, p + 1, h); f.minute = num(s, q, 2)
    if (q + 2 == e) validTime(f)
    else at(s, q + 2, e, ':') && digits(s, q + 3, e) == 2 && q + 5 == e && {
      f.second = num(s, q + 3, 2); validTime(f)
    }
  }

  /** After `yyyy-MM-dd`: nothing, or sep `HH:mm:ss` [frac] [offset]. */
  private def isoTime(s: String, start: Int, e: Int, f: TemporalFields): Boolean = {
    var p = start
    if (p == e) return true
    if (at(s, p, e, 'T')) p += 1
    if (at(s, p, e, ' ')) p += 1
    if (digits(s, p, e) != 2 || !at(s, p + 2, e, ':') || digits(s, p + 3, e) != 2 ||
        !at(s, p + 5, e, ':') || digits(s, p + 6, e) != 2) return false
    f.hour = num(s, p, 2); f.minute = num(s, p + 3, 2); f.second = num(s, p + 6, 2)
    if (!validTime(f)) return false
    p += 8
    var frac = 0
    if (at(s, p, e, '.')) {
      frac = digits(s, p + 1, e)
      if (frac == 3) f.nanos = num(s, p + 1, 3) * 1000000
      else if (frac == 6) f.nanos = num(s, p + 1, 6) * 1000
      else return false
      p += 1 + frac
    }
    if (p == e) return true
    if (frac == 6) return false // an offset follows at most a 3-digit fraction
    if (s.charAt(p) == 'Z') { f.hasOffset = true; return p + 1 == e }
    val sign = s.charAt(p)
    if ((sign != '+' && sign != '-') || e - p != 6 || digits(s, p + 1, e) != 2 ||
        !at(s, p + 3, e, ':') || digits(s, p + 4, e) != 2) return false
    val hh = num(s, p + 1, 2)
    val mm = num(s, p + 4, 2)
    val total = hh * 3600 + mm * 60
    if (mm > 59 || total > 18 * 3600) return false
    f.hasOffset = true
    f.offsetSeconds = if (sign == '-') -total else total
    true
  }

  /** Index of the month word `s[i, i + len)` in `table`, or -1. */
  private def monthIndex(s: String, i: Int, len: Int, table: Array[String]): Int = {
    var k = 0
    while (k < 12) {
      val w = table(k)
      if (w.length == len && s.regionMatches(i, w, 0, len)) return k
      k += 1
    }
    -1
  }

  /** `d Mon yyyy`, the day's digits at `b` (length `n`) already read. */
  private def dayMonthWord(s: String, b: Int, n: Int, e: Int, f: TemporalFields): Boolean = {
    val w = b + n + 1
    var j = w
    while (j < e && Character.isLetter(s.charAt(j))) j += 1
    val k = monthIndex(s, w, j - w, ShortMonths)
    if (k < 0 || !at(s, j, e, ' ') || digits(s, j + 1, e) != 4 || j + 5 != e) return false
    f.day = num(s, b, n); f.month = k + 1; f.year = num(s, j + 1, 4)
    validDate(f)
  }

  /** `Mon d, yyyy` and `Month d, yyyy`. */
  private def monthFirst(s: String, b: Int, e: Int, f: TemporalFields): Boolean = {
    var j = b
    while (j < e && Character.isLetter(s.charAt(j))) j += 1
    val k = math.max(monthIndex(s, b, j - b, ShortMonths), monthIndex(s, b, j - b, FullMonths))
    if (k < 0 || !at(s, j, e, ' ')) return false
    val n = digits(s, j + 1, e)
    val p = j + 1 + n
    if (n < 1 || n > 2 || !at(s, p, e, ',') || !at(s, p + 1, e, ' ') ||
        digits(s, p + 2, e) != 4 || p + 6 != e) return false
    f.month = k + 1; f.day = num(s, j + 1, n); f.year = num(s, p + 2, 4)
    validDate(f)
  }
}
