package graft.semantics

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.regex.Pattern

/** Multi-format date parsing with exactness levels (reconstructed:
  * ws.palladian.helper.date.{DateParser, ExtractedDate, DateExactness} —
  * SURVEY.md §2 row 25, D15). All timestamps UTC; unknown fields default
  * to their minimum (Jan / 1st / 00:00:00) but exactness records what was
  * actually present so downstream never confuses "2021" with
  * "2021-01-01T00:00".
  */
final case class ExtractedDate(epochMillis: Long, exactness: String) {
  def iso: String =
    java.time.Instant.ofEpochMilli(epochMillis).toString
}

object DateParser {

  val YEAR = "YEAR"; val MONTH = "MONTH"; val DAY = "DAY"
  val HOUR = "HOUR"; val MINUTE = "MINUTE"; val SECOND = "SECOND"

  private val months: Map[String, Int] = Map(
    "january" -> 1, "february" -> 2, "march" -> 3, "april" -> 4, "may" -> 5,
    "june" -> 6, "july" -> 7, "august" -> 8, "september" -> 9,
    "october" -> 10, "november" -> 11, "december" -> 12,
    "jan" -> 1, "feb" -> 2, "mar" -> 3, "apr" -> 4, "jun" -> 6, "jul" -> 7,
    "aug" -> 8, "sep" -> 9, "sept" -> 9, "oct" -> 10, "nov" -> 11, "dec" -> 12)

  private case class Rule(pattern: Pattern, build: java.util.regex.Matcher => Option[ExtractedDate])

  private def millis(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int): Option[Long] =
    try Some(LocalDateTime.of(y, mo, d, h, mi, s).toInstant(ZoneOffset.UTC).toEpochMilli)
    catch { case _: java.time.DateTimeException => None }

  private def date(y: Int, mo: Int, d: Int, ex: String): Option[ExtractedDate] =
    millis(y, mo, d, 0, 0, 0).map(ExtractedDate(_, ex))

  private val rules: List[Rule] = List(
    // ISO datetime: 2021-07-04T12:30:45 / 2021-07-04 12:30[:45]
    Rule(Pattern.compile("^(\\d{4})-(\\d{2})-(\\d{2})[T ](\\d{2}):(\\d{2})(?::(\\d{2}))?(?:Z|\\.\\d+Z?)?$"),
      m => {
        val hasSec = m.group(6) != null
        millis(m.group(1).toInt, m.group(2).toInt, m.group(3).toInt,
          m.group(4).toInt, m.group(5).toInt, if (hasSec) m.group(6).toInt else 0)
          .map(ExtractedDate(_, if (hasSec) SECOND else MINUTE))
      }),
    // ISO date: 2021-07-04, 2021/07/04
    Rule(Pattern.compile("^(\\d{4})[-/](\\d{1,2})[-/](\\d{1,2})$"),
      m => date(m.group(1).toInt, m.group(2).toInt, m.group(3).toInt, DAY)),
    // European: 04.07.2021, 4.7.2021
    Rule(Pattern.compile("^(\\d{1,2})\\.(\\d{1,2})\\.(\\d{4})$"),
      m => date(m.group(3).toInt, m.group(2).toInt, m.group(1).toInt, DAY)),
    // US: 07/04/2021 (month first)
    Rule(Pattern.compile("^(\\d{1,2})/(\\d{1,2})/(\\d{4})$"),
      m => date(m.group(3).toInt, m.group(1).toInt, m.group(2).toInt, DAY)),
    // Month d, yyyy / Month d yyyy
    Rule(Pattern.compile("^([A-Za-z]+)\\.? (\\d{1,2})(?:st|nd|rd|th)?,? (\\d{4})$"),
      m => months.get(m.group(1).toLowerCase)
        .flatMap(mo => date(m.group(3).toInt, mo, m.group(2).toInt, DAY))),
    // d Month yyyy
    Rule(Pattern.compile("^(\\d{1,2})(?:st|nd|rd|th)?\\.? ([A-Za-z]+)\\.? (\\d{4})$"),
      m => months.get(m.group(2).toLowerCase)
        .flatMap(mo => date(m.group(3).toInt, mo, m.group(1).toInt, DAY))),
    // Month yyyy
    Rule(Pattern.compile("^([A-Za-z]+)\\.? (\\d{4})$"),
      m => months.get(m.group(1).toLowerCase)
        .flatMap(mo => date(m.group(2).toInt, mo, 1, MONTH))),
    // yyyy-MM
    Rule(Pattern.compile("^(\\d{4})-(\\d{1,2})$"),
      m => date(m.group(1).toInt, m.group(2).toInt, 1, MONTH)),
    // bare year 1000-2999
    Rule(Pattern.compile("^([12]\\d{3})$"),
      m => date(m.group(1).toInt, 1, 1, YEAR))
  )

  /** Parse a full string as a date, trying each pattern in order. */
  def parse(s: String): Option[ExtractedDate] = {
    if (s == null) return None
    val t = s.trim
    if (t.isEmpty) return None
    var rs = rules
    while (rs.nonEmpty) {
      val m = rs.head.pattern.matcher(t)
      if (m.matches()) {
        val r = rs.head.build(m)
        if (r.isDefined) return r
      }
      rs = rs.tail
    }
    None
  }

  private val findPattern: Pattern = Pattern.compile(
    "\\d{4}[-/]\\d{1,2}[-/]\\d{1,2}(?:[T ]\\d{2}:\\d{2}(?::\\d{2})?)?" +
      "|\\d{1,2}[./]\\d{1,2}[./]\\d{4}" +
      "|[A-Za-z]+\\.? \\d{1,2}(?:st|nd|rd|th)?,? \\d{4}" +
      "|\\d{1,2}(?:st|nd|rd|th)? [A-Za-z]+\\.? \\d{4}" +
      "|(?<![\\d-])[12]\\d{3}(?![\\d-])")

  /** Find all date substrings with spans (regex tagger surface,
    * SURVEY.md §2 row 24).
    */
  def findDates(text: String): Array[(Int, Int, ExtractedDate)] = {
    if (text == null || text.isEmpty) return Array.empty
    val m = findPattern.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, ExtractedDate)]
    while (m.find()) {
      parse(m.group).foreach(d => out += ((m.start, m.end, d)))
    }
    out.toArray
  }
}
