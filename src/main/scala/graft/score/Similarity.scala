package graft.score

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/**
 * Pairwise similarity measures for the scoring stage (SURVEY.md §7.2 M5;
 * north_rule: Jaro-Winkler + Levenshtein on title/url fields plus cosine on
 * token-shingle vectors). Levenshtein is the Spark built-in; Jaro-Winkler is
 * a native Catalyst expression (no public Spark builtin) with a pure-Scala
 * parity reference;
 * set measures (Jaccard, cosine) are pure higher-order-function column
 * expressions so they stay inside whole-stage codegen.
 */
object Similarity {

  /** Jaro similarity in [0,1]. Standard definition (Jaro 1989). */
  def jaro(s1: String, s2: String): Double = {
    if (s1 == null || s2 == null) return 0.0
    val len1 = s1.length; val len2 = s2.length
    if (len1 == 0 && len2 == 0) return 1.0
    if (len1 == 0 || len2 == 0) return 0.0
    val matchDist = math.max(0, math.max(len1, len2) / 2 - 1)
    val m1 = new Array[Boolean](len1)
    val m2 = new Array[Boolean](len2)
    var matches = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - matchDist)
      val hi = math.min(len2 - 1, i + matchDist)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val t = transpositions / 2.0
    (matches.toDouble / len1 + matches.toDouble / len2 +
      (matches - t) / matches) / 3.0
  }

  /** Jaro-Winkler with standard scaling p=0.1, max prefix 4. */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j // standard boost threshold
    var prefix = 0
    val max = math.min(4, math.min(
      if (s1 == null) 0 else s1.length, if (s2 == null) 0 else s2.length))
    while (prefix < max && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  /** Column surface backed by the NATIVE Catalyst expression
    * (JaroWinklerExpr, codegen'd); `jaroWinkler` above is its
    * interpreted body and scalar parity reference. */
  def jaro_winkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(JaroWinklerExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Levenshtein similarity ratio: 1 - dist/maxLen (built-in distance). */
  def levenshteinRatio(a: Column, b: Column): Column = {
    val mx = greatest(length(a), length(b))
    when(mx === 0, lit(1.0))
      .otherwise(lit(1.0) - levenshtein(a, b).cast(DoubleType) / mx.cast(DoubleType))
  }

  /** Jaccard similarity of two string arrays (null-safe, codegen'd). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val uni = size(array_union(a, b)).cast(DoubleType)
    when(uni === 0.0, lit(1.0)).otherwise(inter / uni)
  }

  /** Cosine similarity of two *set-valued* token arrays (binary weights):
    * |A∩B| / sqrt(|A||B|). Pure built-ins. */
  def tokenCosine(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val denom = sqrt(size(a).cast(DoubleType) * size(b).cast(DoubleType))
    when(denom === 0.0, lit(0.0)).otherwise(inter / denom)
  }
}
