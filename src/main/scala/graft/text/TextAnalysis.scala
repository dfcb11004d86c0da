package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text-analysis operators for a large-scale training-data pipeline:
 * token counting, quality counters, a LIKE-based language guess, and
 * winnowing fingerprints with their containment join. All pure built-in
 * expressions (whole-stage codegen) except the winnowing rolling hash
 * (JVM function, still distributed).
 */
object TextAnalysis {

  /** Whitespace token count (matches DuckDB
    * `len(regexp_split_to_array(trim(text),'\s+'))`). */
  def tokenCount(c: Column): Column = size(split(trim(c), "\\s+"))

  /** BPE-ish subtoken count: alpha runs + digit runs + single punctuation,
    * the standard pre-tokenizer split (regex identical to the oracle). */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  def alphaCount(c: Column): Column =
    length(regexp_replace(c, "[^a-zA-Z]", ""))

  def digitCount(c: Column): Column =
    length(regexp_replace(c, "[^0-9]", ""))

  /** ASCII punctuation count (the four ASCII punct ranges). */
  def punctCount(c: Column): Column =
    length(regexp_replace(c, "[^!-/:-@\\[-`{-~]", ""))

  val stopwordsEn = Seq("the", "a", "an", "of", "and", "or", "to", "in",
    "is", "it", "that", "for", "on", "with", "as")

  def stopwordCount(c: Column): Column =
    size(regexp_extract_all(lower(c),
      lit("\\b(" + stopwordsEn.mkString("|") + ")\\b"), lit(0)))

  /** LIKE-based language guess — semantics chosen to be expressible
    * identically in ANSI SQL (see SparkEntry.oracleSql doc_lang_guess). */
  def langGuessSql(c: Column): Column = {
    val lo = lower(c)
    when(lo.like("% the %") || lo.like("% and %") || lo.like("% of %"), "en")
      .when(lo.like("% de %") || lo.like("% la %") || lo.like("% el %"), "es")
      .when(lo.like("% le %") || lo.like("% et %") || lo.like("% les %"), "fr")
      .otherwise("unknown")
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003): Rabin-Karp rolling hashes of every k-gram, then the minimum
    * hash of each sliding window of `w` consecutive k-grams (rightmost
    * min on ties), deduplicated. Guarantees: any shared substring of
    * length >= w + k - 1 contributes at least one shared fingerprint —
    * the standard containment/near-dup primitive for web-scale text.
    * Narrow per-row JVM function; output is a small Array[Long] per doc
    * suitable for explode + groupBy postings-list joins. k = 5 and w = 4,
    * the DuckDB oracle's constants. */
  def winnowFingerprints(c: Column): Column = {
    val k = 5
    val w = 4
    val f = udf { (s0: String) =>
      if (s0 == null) Array.empty[Long]
      else {
        // hash UNICODE CODE POINTS, not UTF-16 code units: a supplementary
        // character (emoji) is ONE gram position, matching the DuckDB
        // oracle's per-character unicode(ch) and any engine that thinks in
        // codepoints. (charAt would split it into two surrogates.)
        val cps = s0.toLowerCase(java.util.Locale.ROOT).codePoints().toArray
        val n = cps.length - k + 1
        if (n <= 0) Array.empty[Long]
        else {
          // rolling k-gram hashes, base 31 (no mod: 64-bit wraparound)
          var pow = 1L
          var j = 1
          while (j < k) { pow *= 31L; j += 1 }
          val hs = new Array[Long](n)
          var h = 0L
          var i = 0
          while (i < k) { h = 31 * h + cps(i); i += 1 }
          hs(0) = h
          i = 1
          while (i < n) {
            h = (h - cps(i - 1) * pow) * 31 + cps(i + k - 1)
            hs(i) = h
            i += 1
          }
          if (n <= w) Array(hs.min)
          else {
            val out = scala.collection.mutable.LinkedHashSet.empty[Long]
            var start = 0
            while (start + w <= n) {
              var mi = start
              var p = start + 1
              while (p < start + w) {        // rightmost minimum
                if (hs(p) <= hs(mi)) mi = p
                p += 1
              }
              out += hs(mi)
              start += 1
            }
            out.toArray
          }
        }
      }
    }
    f(c)
  }

  /** Containment / clone-detection pair join over winnowing fingerprints —
    * the postings-list consumer of [[winnowFingerprints]] (Schleimer et
    * al. §5: shared fingerprints ⇒ shared substrings of length ≥ w+k-1).
    * For each candidate pair: n_shared = |F(a) ∩ F(b)| and containment =
    * n_shared / min(|F(a)|, |F(b)|) — 1.0 when the smaller document's
    * fingerprint set is fully contained in the larger's.
    *
    * Scale shape: postings are SLIM (fp, doc_id, n_fp) rows; the self-join
    * shuffles on the 64-bit fingerprint, never on text. Boilerplate
    * fingerprints shared by more than a CORPUS-DERIVED fraction of
    * documents are dropped from candidate generation (stoplist semantics —
    * the quadratic blowup of a mega-posting is the same failure mode as a
    * mega-LSH-block, and the same fix as ERPipeline's fractional
    * MaxTokenDf: an absolute row cap is meaningless across corpus sizes);
    * pairs that share ONLY boilerplate are intentionally not candidates.
    * The drop is observable in the pairs: filtered fingerprints lower
    * n_shared (never silently cap pair rows).
    *
    * Two caps with DIFFERENT jobs, mirroring ERPipeline's MaxTokenDf +
    * PairCapPerBlock split exactly:
    * @param maxPostingsFrac BOILERPLATE semantics — fingerprints in more
    *   than floor(frac × corpus) documents are template noise at any
    *   corpus size, so the threshold must scale with the corpus; never
    *   below 2 (df = 2 is the smallest useful posting).
    * @param maxPostingsAbs QUADRATIC-COST guard — each kept fingerprint
    *   contributes ~df²/2 join pairs, so compute per posting list is
    *   bounded only by an ABSOLUTE df cap (a fractional one grows the
    *   per-list cost as (frac×n)²: measured 1.3 s → 22 s on a 10×
    *   corpus when the fraction alone governed). The effective cap is
    *   min(frac-derived, abs). */
  def winnowContainmentPairs(docs: DataFrame, idCol: Column,
      textCol: Column, floor: Double = 0.5,
      maxPostingsFrac: Double = 0.01, maxPostingsAbs: Long = 256L)
      : DataFrame = {
    val n = docs.count()
    val maxPostings = math.min(maxPostingsAbs,
      math.max(2L, math.floor(n * maxPostingsFrac).toLong))
    val fps = docs.select(idCol.as("doc_id"),
      winnowFingerprints(textCol).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast(LongType).as("n_fp"),
        explode(col("fps")).as("fp"))
    // document-frequency trim of boilerplate postings in ONE pass: the
    // previous groupBy-df + semi-join-back shape evaluated the winnowing
    // UDF twice (df aggregation + join probe side) and shuffled the
    // postings twice; a count-over-window computes df on the same single
    // hash(fp) exchange the pair self-join below then REUSES (both join
    // sides read the window output, already partitioned and sorted by
    // fp) — one exchange end-to-end before the pair aggregation.
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val post = fps.withColumn("_df", count(lit(1)).over(win))
      .where(col("_df") <= maxPostings && col("_df") >= 2)
      .drop("_df")
    val l = post.select(col("fp"), col("doc_id").as("l_id"), col("n_fp").as("l_n"))
    val r = post.select(col("fp"), col("doc_id").as("r_id"), col("n_fp").as("r_n"))
    l.join(r, Seq("fp")).where(col("l_id") < col("r_id"))
      // fps are deduped per document, so one posting per (doc, fp):
      // count(*) per pair IS the shared-fingerprint count
      .groupBy(col("l_id"), col("r_id"), col("l_n"), col("r_n"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment", round(col("n_shared").cast(DoubleType) /
        least(col("l_n"), col("r_n")).cast(DoubleType), 6))
      .where(col("containment") >= floor)
      .select(col("l_id"), col("r_id"), col("n_shared"), col("containment"))
  }
}
