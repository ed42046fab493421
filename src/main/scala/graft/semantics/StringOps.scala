package graft.semantics

/** String utilities mirroring the reference's helper surface (reconstructed:
  * ws.palladian.helper.nlp.StringHelper — SURVEY.md §2 rows 11, 18, 23).
  * Pure JVM code; the exact same functions run in Spark UDFs/mapPartitions
  * and in the oracle.
  */
object StringOps {

  /** Case signature: collapse runs of uppercase→"A", lowercase→"a",
    * digits→"0", everything else→"-". "PlayStation 3" → "aAa-0" is NOT what
    * we emit (we keep leading-cap runs distinct): "PlayStation" → "AaAa",
    * "NASA" → "A", "Paris" → "Aa", "3rd" → "0a".
    */
  def caseSignature(s: String): String = {
    if (s == null || s.isEmpty) return ""
    val sb = new java.lang.StringBuilder(8)
    var last: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val cls: Char =
        if (Character.isUpperCase(c)) 'A'
        else if (Character.isLowerCase(c)) 'a'
        else if (Character.isDigit(c)) '0'
        else '-'
      if (cls != last) { sb.append(cls); last = cls }
      i += 1
    }
    sb.toString
  }

  /** Whitespace squeeze + trim + control-char removal. */
  def clean(s: String): String = {
    if (s == null) return ""
    val sb = new java.lang.StringBuilder(s.length)
    var lastWs = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || Character.isISOControl(c)) {
        if (!lastWs) { sb.append(' '); lastWs = true }
      } else { sb.append(c); lastWs = false }
      i += 1
    }
    var end = sb.length
    while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
    sb.substring(0, end)
  }

  /** Normalization for entity-linking block keys: lowercase, strip
    * punctuation (keep letters/digits/spaces), squeeze whitespace.
    */
  def normalizeSurface(s: String): String = {
    if (s == null) return ""
    val sb = new java.lang.StringBuilder(s.length)
    var lastWs = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetterOrDigit(c)) { sb.append(Character.toLowerCase(c)); lastWs = false }
      else if (!lastWs && sb.length > 0) { sb.append(' '); lastWs = true }
      i += 1
    }
    var end = sb.length
    while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
    sb.substring(0, end)
  }

  private val monthsAndDays: Set[String] = Set(
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december",
    "monday", "tuesday", "wednesday", "thursday", "friday", "saturday",
    "sunday", "jan", "feb", "mar", "apr", "jun", "jul", "aug", "sep",
    "oct", "nov", "dec")

  /** True if the string is dominated by date words/digits — the NER
    * post-rule that drops date fragments (SURVEY.md §2 row 32).
    */
  def containsDateFragment(s: String): Boolean = {
    val toks = Tokenizer.words(s)
    if (toks.isEmpty) return false
    val dateToks = toks.count { t =>
      monthsAndDays.contains(t.toLowerCase) || t.forall(Character.isDigit)
    }
    // strictly more than half: "GameStation 5" (1/2) is NOT a date fragment,
    // "June 1998" (2/2) and "1998" (1/1) are.
    dateToks.toDouble / toks.length > 0.5
  }

  /** Count word-boundary occurrences of `word` in `text` (case-insensitive). */
  def countWordOccurrences(text: String, word: String): Int = {
    if (text == null || word == null || word.isEmpty) return 0
    val p = java.util.regex.Pattern.compile(
      "\\b" + java.util.regex.Pattern.quote(word) + "\\b",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    val m = p.matcher(text)
    var c = 0
    while (m.find()) c += 1
    c
  }
}
