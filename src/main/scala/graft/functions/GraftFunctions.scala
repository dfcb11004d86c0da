package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.extract.ColVal

/**
 * Scalar-function library: the reference's deterministic string/coercion
 * chain (SURVEY.md §2.4 F1-F13) as Catalyst `Column` compositions —
 * codegen'd built-ins wherever the semantics allow, UDFs only for the
 * index-slicing COL/VAL parse (F1/F2), which has no regexp_extract
 * equivalent (values may embed fake `COL` tokens; see
 * /root/reference/Converters/computers/iTuens.py:5-10).
 */
object GraftFunctions {

  // ---------- F1/F2/F3: COL/VAL parsing (UDF: index-slicing semantics) ----
  val parseColValStrict = udf((s: String) => ColVal.parseStrict(s))
  val parseColValRobust = udf((s: String) => ColVal.parseRobust(s))
  val extractTitleUdf = udf((s: String) => ColVal.extractTitle(s))

  /** Python-strip as a built-in chain (unicode whitespace both ends). */
  def pyTrim(c: Column): Column = {
    val ws = graft.extract.PyText.WS
    regexp_replace(regexp_replace(c, s"^[$ws]+", ""), s"[$ws]+$$", "")
  }

  // ---------- F4: whitespace collapse (dcm.py:26, walmart.py:25) ----------
  def wsCollapse(c: Column): Column = {
    val ws = graft.extract.PyText.WS
    pyTrim(regexp_replace(c, s"[$ws]+", " "))
  }

  // ---------- F5: code-fence strip (Amazon/prompt.py:53-55) ---------------
  def stripCodeFence(c: Column): Column =
    regexp_replace(regexp_replace(c, "^```[a-zA-Z]*\\n?", ""), "```$", "")

  // ---------- F6: outermost-JSON-object slice (Amazon/prompt.py:56-60) ----
  def jsonSlice(c: Column): Column = {
    val start = instr(c, "{")
    val end = length(c) - instr(reverse(c), "}") + 1
    when(start > lit(0) && end >= start,
      c.substr(start, (end - start + lit(1)).cast(IntegerType)))
      .otherwise(c)
  }

  // ---------- F5+F6+F7: LLM-envelope JSON parsing -------------------------
  /** Full envelope chain (Amazon/prompt.py:53-61): strip markdown code
    * fences, slice the outermost `{...}` object, decode via `from_json`.
    * Malformed payloads decode to a null struct (M3 fallback semantics —
    * the reference catches json.JSONDecodeError and returns {}). */
  def parseJsonEnvelope(c: Column, schema: DataType): Column =
    from_json(jsonSlice(stripCodeFence(c)), schema)

  // ---------- F8: currency strip + 2dp float (Amazon/prompt.py:23-39) -----
  /** Returns DoubleType or null (null <=> the reference's "unknown"). */
  def priceParse(c: Column): Column = {
    val v = lower(trim(c))
    // currency strip: commas/$ (Amazon/prompt.py:34) plus a leading "USD "
    // word (iTunes/process.py:101 "Extract prices from ... USD 0.99").
    val cleaned = regexp_replace(v, "^usd\\s*|[,$]", "")
    // try_cast, not cast: Spark 4 runs ANSI mode by default, so a plain cast
    // on dirty input ("free", "€5.99") throws CAST_INVALID_INPUT and kills
    // the job; the reference coerces failures to "unknown" (prompt.py:33-39).
    when(v.isNull || v.isin("", "n/a", "na", "none", "null", "unknown"), lit(null))
      .otherwise(round(cleaned.try_cast(DoubleType), 2))
  }

  /** Rendered form: float with two decimals or the literal "unknown". */
  def priceRender(c: Column): Column = {
    val p = priceParse(c)
    when(p.isNull, lit("unknown")).otherwise(format_number(p, 2))
  }

  // ---------- F9: first-number extraction (Beer/prompt.py:52-57) ----------
  def firstNumber(c: Column): Column =
    nullif(regexp_extract(c, "[-+]?[0-9]*\\.?[0-9]+", 0), lit("")).cast(DoubleType)

  /** abv coercion: "unknown" markers → null, else first number. */
  def abvParse(c: Column): Column = {
    val v = lower(trim(c))
    when(v.isNull || v.isin("", "n/a", "na", "none", "unknown", "-"), lit(null))
      .otherwise(firstNumber(v))
  }

  // ---------- F10: null-marker normalization (Amazon/prompt.py:30-32) -----
  def nullMarkers(c: Column): Column =
    when(lower(trim(c)).isin("", "n/a", "na", "none", "null", "unknown", "-",
      "?", "val -"), lit(null)).otherwise(c)

  // ---------- F11: boolean coercion (Beer/prompt.py:30-42) ----------------
  def boolCoerce(c: Column): Column = {
    val v = lower(trim(c))
    when(v.isin("true", "yes", "1"), lit(true))
      .when(v.isin("false", "no", "0"), lit(false))
      .when(v.rlike("^[-+]?[0-9]*\\.?[0-9]+$"), v.cast(DoubleType) =!= 0.0)
      .otherwise(lit(false))
  }

  // ---------- F13: 4-digit year extract (dcm.py:93-97) --------------------
  def yearExtract(c: Column): Column =
    regexp_extract(c.cast(StringType), "(\\d{4})", 1)

  // ---------- R8: date/time normalization (iTunes/process.py:111-121) -----
  /** Multi-format date → 'yyyy-MM-dd' string, null if unparseable. */
  def dateNormalize(c: Column): Column = {
    val t = trim(c)
    val d = coalesce(
      try_to_date(t, "d-MMM-yy"),
      try_to_date(t, "MMMM d, yyyy"),
      try_to_date(t, "MMM d, yyyy"),
      try_to_date(t, "yyyy-MM-dd"),
      try_to_date(t, "M/d/yyyy"),
      try_to_date(t, "d MMMM yyyy"))
    date_format(d, "yyyy-MM-dd")
  }

  /** Zero-padded MM:SS from "m:s"-ish input ("3:5" → "03:05"). */
  def timeNormalize(c: Column): Column = {
    val parts = split(trim(c), ":")
    when(size(parts) === 2 &&
        element_at(parts, 1).rlike("^\\d{1,2}$") &&
        element_at(parts, 2).rlike("^\\d{1,2}$"),
      concat(lpad(element_at(parts, 1), 2, "0"), lit(":"),
             lpad(element_at(parts, 2), 2, "0")))
      .otherwise(lit(null))
  }

  // ---------- R9: US phone formats (Fodors/prompt.py:55) ------------------
  /** Digits-only → NNN-NNN-NNNN; strips a leading '1'; null if not 10 digits. */
  def phoneUs(c: Column): Column = {
    val digits0 = regexp_replace(c, "[^0-9]", "")
    val digits = when(length(digits0) === 11 && digits0.startsWith("1"),
      substring(digits0, 2, 10)).otherwise(digits0)
    when(length(digits) === 10,
      concat_ws("-", substring(digits, 1, 3), substring(digits, 4, 3),
        substring(digits, 7, 4))).otherwise(lit(null))
  }

  // ---------- R12: price rendering "USD X.XX" (iTunes/process.py:100-104) -
  def priceUsd(c: Column): Column = {
    val p = priceParse(c)
    when(p.isNull, lit(null)).otherwise(format_string("USD %.2f", p))
  }

  // ---------- R2: dedupe consecutive duplicate words ----------------------
  def dedupeWords(c: Column): Column =
    regexp_replace(c, "(?i)\\b(\\S+)(\\s+\\1)+\\b", "$1")

  // ---------- tokenization helpers ----------------------------------------
  /** Lowercased alphanumeric word tokens, empties removed. */
  def tokens(c: Column): Column =
    filter(split(regexp_replace(lower(c), "[^a-z0-9]+", " "), " "),
      t => t =!= "")

  private val tokNonAlnum = java.util.regex.Pattern.compile("[^a-z0-9]+")
  private val tokSpace = java.util.regex.Pattern.compile(" ")

  /** JVM twin of [[tokens]] — element-identical token arrays (parity
    * spec TokenizerParitySpec): Spark's Lower via UTF8String.toLowerCase,
    * the same Java-regex replace and split, empties removed. For hot
    * scans: the declarative `tokens` chain ends in a `filter` lambda,
    * which Catalyst evaluates interpreted (CodegenFallback), so paths
    * that build word grams over the whole corpus ([[wordGrams]]: near-dup
    * shingles, decontamination and repetition grams) use this instead.
    * Null input → null, matching the null-propagating column chain. */
  def tokensJvm(s: String): Array[String] = {
    if (s == null) null
    else {
      val lowered = org.apache.spark.unsafe.types.UTF8String
        .fromString(s).toLowerCase.toString
      val parts = tokSpace.split(tokNonAlnum.matcher(lowered).replaceAll(" "), -1)
      var n = 0
      val out = new Array[String](parts.length)
      var i = 0
      while (i < parts.length) {
        if (parts(i).nonEmpty) { out(n) = parts(i); n += 1 }
        i += 1
      }
      if (n == parts.length) out else java.util.Arrays.copyOf(out, n)
    }
  }

  /** Every sliding word n-gram of `toks`, joined by " ", in order, with
    * duplicates kept; empty for null input or fewer than `n` tokens. The
    * one word-gram builder behind near-dup shingles, decontamination
    * grams and repetition signals: one JVM loop per row instead of the
    * interpreted (CodegenFallback) transform/slice lambdas. */
  private[graft] def wordGrams(toks: Array[String], n: Int): Array[String] = {
    require(n >= 1, s"ngram order must be >= 1, got $n")
    if (toks == null || toks.length < n) Array.empty[String]
    else {
      val out = new Array[String](toks.length - n + 1)
      var i = 0
      while (i < out.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out(i) = sb.toString
        i += 1
      }
      out
    }
  }

  /** splitmix64 finalizer: deterministic 64-bit mixing (MinHash band
    * keys, random-hyperplane signs). */
  @inline private[graft] def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** FNV-1a 64 over UTF-16 code units (MinHash token hash, SimHash). */
  @inline private[graft] def fnv1a64(s: String): Long = {
    var h = -3750763034362895579L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 1099511628211L; i += 1 }
    h
  }
}
