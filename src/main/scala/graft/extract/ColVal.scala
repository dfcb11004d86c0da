package graft.extract

import java.util.regex.Pattern
import scala.collection.mutable

/**
 * Ditto `COL <key> VAL <value>` parsing, per-row byte-identical to the
 * reference's three parser variants:
 *
 *  - strict:  /root/reference/Converters/computers/iTuens.py:5-21
 *    pattern `COL\s+([^\s]+)\s+VAL`, value = index slice up to the next
 *    marker, python-strip. Keys keep their case. Last key wins on dup.
 *  - robust:  /root/reference/Converters/computers/dcm.py:7-29 (identical
 *    walmart.py:6-28): case-insensitive `\bCOL\s+([A-Za-z0-9_]+)\s+VAL\b`,
 *    keys lower-cased, value whitespace-collapsed then stripped of ' |;,:'.
 *  - title:   /root/reference/Converters/computers/computer.py:45-56:
 *    `COL\s+title\s+VAL\s+(.*?)(?=\s+COL\s+|\s*$)`, then remove all `"`
 *    and the literal tags @en/@NL/@fr, python-strip; "" when no match.
 *
 * Index-slicing (not a greedy regex over the value) is load-bearing: values
 * may embed the token "COL" without a following "VAL" and must not split
 * there. All `\s` classes use Python's unicode whitespace (PyText.WS).
 */
object ColVal {
  private val W = PyText.WS

  private val StrictField: Pattern =
    Pattern.compile(s"COL[$W]+([^$W]+)[$W]+VAL")

  private val RobustField: Pattern =
    Pattern.compile(s"\\bCOL[$W]+([A-Za-z0-9_]+)[$W]+VAL\\b",
      Pattern.CASE_INSENSITIVE)

  // CPython `.` excludes only \n (Java's dot also excludes \r, NEL and
  // U+2028/U+2029 -> use [^\n]); CPython `$` equals `\z` here because a trailing
  // \n is itself consumed by the preceding whitespace class.
  private val TitleRe: Pattern =
    Pattern.compile(s"COL[$W]+title[$W]+VAL[$W]+([^\n]*?)(?=[$W]+COL[$W]+|[$W]*\\z)")

  /** iTuens.py:5-21 semantics. */
  def parseStrict(text: String): Map[String, String] = {
    if (text == null) return Map.empty
    val m = StrictField.matcher(text)
    val starts = mutable.ArrayBuffer.empty[Int]
    val keys = mutable.ArrayBuffer.empty[String]
    val ends = mutable.ArrayBuffer.empty[Int]
    while (m.find()) { keys += m.group(1); starts += m.start(); ends += m.end() }
    val out = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < keys.length) {
      val end = if (i + 1 < keys.length) starts(i + 1) else text.length
      out(PyText.strip(keys(i))) = PyText.strip(text.substring(ends(i), end))
      i += 1
    }
    out.toMap
  }

  /** dcm.py:9-29 / walmart.py:8-28 semantics. */
  def parseRobust(text: String): Map[String, String] = {
    if (text == null || text.isEmpty) return Map.empty
    val m = RobustField.matcher(text)
    val starts = mutable.ArrayBuffer.empty[Int]
    val keys = mutable.ArrayBuffer.empty[String]
    val ends = mutable.ArrayBuffer.empty[Int]
    while (m.find()) { keys += m.group(1); starts += m.start(); ends += m.end() }
    val out = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < keys.length) {
      val end = if (i + 1 < keys.length) starts(i + 1) else text.length
      val raw = PyText.strip(text.substring(ends(i), end))
      val v = PyText.strip(PyText.collapseWs(raw), " |;,:")
      out(PyText.strip(keys(i)).toLowerCase(java.util.Locale.ROOT)) = v
      i += 1
    }
    out.toMap
  }

  /** computer.py:45-56 semantics; returns "" when the title field is absent. */
  def extractTitle(text: String): String = {
    if (text == null) return ""
    val m = TitleRe.matcher(text)
    if (m.find()) {
      val raw = m.group(1)
      val cleaned = raw.replace("\"", "").replace("@en", "")
        .replace("@NL", "").replace("@fr", "")
      PyText.strip(cleaned)
    } else ""
  }
}
