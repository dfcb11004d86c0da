package graft.norm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions._

/**
 * The enrichment operator (SURVEY.md §2.5 M1/M2): one parameterized,
 * fully deterministic transform that replaces the reference's 12
 * per-dataset LLM scripts. A dataset config = closed output schema +
 * per-field rule chain + missing-value rendering; the whole enrichment is
 * a single `select` over the wide pair table (no shuffle, codegen'd).
 *
 * The reference's label-conditioned alignment (R14: matched pairs get
 * cross-side value copying — Amazon/prompt.py:64-109 vs :111-148) is
 * behind `alignMatches` and never applied unless explicitly requested
 * (it leaks the label into features; SURVEY.md §7.5 risk 2).
 */
object Enrichment {

  /** Missing-value rendering per dataset ("unknown" vs "VAL -").
    * R14 knobs (all gated on `alignMatches` + label==1; `price`/`Price`
    * values never cross sides, in any config — Amazon/prompt.py:95
    * "NEVER invent prices. Do not copy a price"):
    *  - `versionAlign`: fields that receive the other side's version/
    *    edition tokens when they have none (Amazon/prompt.py:90-93).
    *  - `matchRules`: extra per-field cleanup applied ONLY to matched
    *    pairs (the reference's aggressive prompt-A rules). */
  final case class DatasetConfig(
      name: String,
      fields: Seq[String],                    // closed output schema (per side)
      rules: Map[String, Column => Column],   // field → normalizer
      missing: String = "unknown",
      sources: Map[String, String] = Map.empty,    // field → input column (C3)
      alignMatches: Boolean = false,
      versionAlign: Set[String] = Set.empty,
      matchRules: Map[String, Column => Column] = Map.empty)

  /** Generic text cleanup used for name-ish fields: strip artifacts,
    * collapse whitespace, dedupe repeated words (R2), Title Case (R1). */
  def cleanEntityName(c: Column): Column =
    initcap(wsCollapse(dedupeWords(regexp_replace(c, "[\\\\`]|\"", ""))))

  /** Same cleanup but preserving original casing (titles keep versions). */
  def cleanText(c: Column): Column =
    wsCollapse(dedupeWords(regexp_replace(c, "[\\\\`]", "")))

  /** Fields whose values never cross sides under R14a. */
  private val noCopy = Set("price", "Price")

  private def renderOr(c: Column, missing: String): Column =
    coalesce(c, lit(missing))

  /** Apply a config to a wide pair table (id, label, left_*, right_*).
    * Output schema: id, label, left_<f>, right_<f> for f in cfg.fields —
    * closed (C5's open-schema leak is intentionally NOT reproduced). */
  def enrich(df: DataFrame, cfg: DatasetConfig): DataFrame = {
    def inputCol(side: String, f: String): Column = {
      val base = cfg.sources.getOrElse(f, f)
      val candidates = Seq(s"${side}_$base", s"${side}_$f")
      candidates.find(df.columns.contains) match {
        case Some(name) => col(name).cast(StringType)
        case None => lit(null).cast(StringType)
      }
    }
    val matched = col("label") === 1
    // label-gated extra cleanup (the reference's prompt-A aggressiveness)
    def full(side: String, f: String): Column = {
      val rule = cfg.rules.getOrElse(f, (c: Column) => cleanText(c))
      val n = rule(nullMarkers(inputCol(side, f)))
      cfg.matchRules.get(f) match {
        case Some(mr) => when(matched, mr(n)).otherwise(n)
        case None => n
      }
    }
    if (!cfg.alignMatches) {
      val sideCols = cfg.fields.flatMap { f =>
        Seq(renderOr(full("left", f), cfg.missing).as(s"left_$f"),
          renderOr(full("right", f), cfg.missing).as(s"right_$f"))
      }
      df.select((col("id") +: col("label") +: sideCols): _*)
    } else {
      // TWO-STAGE projection for the aligned configs: alignment reads
      // BOTH sides' normalized values in several places, and inlining
      // the full rule chain at every reference (the previous shape) made
      // one Project whose generated method blew past Janino's 64 KB
      // limit — silently dropping the whole chain out of whole-stage
      // codegen AND re-evaluating the ~20-regex normalization up to 4×
      // per output column. Stage 1 names each side's normalized value
      // once; stage 2 aligns over those attributes. CollapseProject
      // keeps the stages apart (merging would duplicate non-cheap
      // expressions), so each stage codegens comfortably.
      val normCols = cfg.fields.flatMap { f =>
        Seq(full("left", f).as(s"_n_left_$f"),
          full("right", f).as(s"_n_right_$f"))
      }
      val staged = df.select((col("id") +: col("label") +: normCols): _*)
      val sideCols = cfg.fields.flatMap { f =>
        def out(side: String): Column = {
          val normalized = col(s"_n_${side}_$f")
          val other =
            col(s"_n_${if (side == "left") "right" else "left"}_$f")
          // R14a: copy the other side's value when this side is missing
          val copied =
            if (noCopy(f)) normalized
            else when(matched && normalized.isNull, other).otherwise(normalized)
          // R14b: graft the other side's version/edition tokens when this
          // side has none (no conflict possible) — matched pairs only
          val aligned =
            if (!cfg.versionAlign(f)) copied
            else {
              val vOther = Normalize.versionTokens(coalesce(other, lit("")))
              when(matched && copied.isNotNull &&
                  size(Normalize.versionTokens(copied)) === 0 &&
                  size(vOther) > 0,
                concat_ws(" ", copied, array_join(vOther, " ")))
                .otherwise(copied)
            }
          renderOr(aligned, cfg.missing).as(s"${side}_$f")
        }
        Seq(out("left"), out("right"))
      }
      staged.select((col("id") +: col("label") +: sideCols): _*)
    }
  }

  // ---------------- per-dataset configs (FIXTURES.md §4) -----------------

  /** Amazon software (Amazon/prompt.py:11-15, 23-39). */
  val amazon = DatasetConfig(
    name = "amazon",
    fields = Seq("title", "manufacturer", "price"),
    rules = Map(
      "title" -> (c => Normalize.stripVendorNoise(
        Normalize.expandAbbreviations(cleanText(c)))),
      "manufacturer" -> (c => Normalize.brandCanon(c)), // R4 lookup table
      "price" -> (c => when(priceParse(c).isNull, lit(null))
        .otherwise(format_string("%.2f", priceParse(c))))))

  /** Amazon with the reference's label-conditioned R14 alignment ON
    * (Amazon/prompt.py:64-148): matched pairs get aggressive title cleanup
    * + version-token grafting; prices never cross sides. */
  val amazonAligned: DatasetConfig = amazon.copy(
    alignMatches = true,
    versionAlign = Set("title"),
    matchRules = Map("title" -> (c => Normalize.alignedTitleCleanup(c))))

  /** Beer (Beer/prompt.py:10-21, 30-63; Beer/process.py:30-51, 86-116). */
  val beer = DatasetConfig(
    name = "beer",
    fields = Seq("name", "brewery", "primary_style", "secondary_style",
      "abv", "is_amber", "is_ale", "is_lager", "is_imperial",
      "special_ingredients"),
    sources = Map("name" -> "Beer_Name", "brewery" -> "Brew_Factory_Name",
      "primary_style" -> "Style", "secondary_style" -> "Style",
      "abv" -> "ABV"),
    rules = Map(
      "name" -> (c => cleanEntityName(c)),
      "brewery" -> (c => cleanEntityName(Normalize.dropCorpSuffixes(c))),
      // R7: "American Amber / Red Ale" → primary=Red Ale (most specific =
      // last segment), secondary = first qualifier
      "primary_style" -> (c =>
        initcap(trim(element_at(split(c, "/"), -1)))),
      "secondary_style" -> (c =>
        when(size(split(c, "/")) > 1,
          initcap(trim(regexp_replace(element_at(split(c, "/"), 1),
            "(?i)\\bamerican\\b", "")))).otherwise(lit(null))),
      "abv" -> (c => when(abvParse(c).isNull, lit(null))
        .otherwise(abvParse(c).cast(StringType))),
      "is_amber" -> (c => boolCoerce(c).cast(StringType)),
      "is_ale" -> (c => boolCoerce(c).cast(StringType)),
      "is_lager" -> (c => boolCoerce(c).cast(StringType)),
      "is_imperial" -> (c => boolCoerce(c).cast(StringType)),
      "special_ingredients" -> (c => lower(cleanText(c)))))

  /** DBLP-ACM (DBLACM/prompt.py:10-15, 41-42, 55-70). */
  val dblacm = DatasetConfig(
    name = "dblacm",
    fields = Seq("title", "authors", "venue", "year"),
    missing = "VAL -",
    rules = Map(
      "title" -> (c => cleanText(c)),
      "authors" -> (c => wsCollapse(c)),
      "venue" -> (c => Normalize.venueCanon(c)),
      "year" -> (c => nullif(yearExtract(c), lit("")))))

  /** Fodors-Zagats (Fodors/prompt.py:10-17, 40-58). */
  val fodors = DatasetConfig(
    name = "fodors",
    fields = Seq("name", "addr", "city", "phone", "category", "class"),
    rules = Map(
      "name" -> (c => cleanEntityName(c)),
      "addr" -> (c => initcap(wsCollapse(Normalize.expandAbbreviations(c)))),
      "city" -> (c => {
        val t = lower(trim(c))
        when(t.isin("la", "l.a."), "Los Angeles")
          .when(t.isin("nyc", "new york"), "New York City")
          .otherwise(initcap(wsCollapse(c)))
      }),
      "phone" -> (c => phoneUs(c)),
      "category" -> (c => lower(wsCollapse(c))),
      "class" -> (c => trim(c))))

  /** iTunes-Amazon (iTunes/prompt.py:10-20; iTunes/process.py:84-125). */
  val itunes = DatasetConfig(
    name = "itunes",
    fields = Seq("Song_Name", "Artist_Name", "Album_Name", "Genre", "Price",
      "CopyRight", "Time", "Released"),
    missing = "VAL -",
    rules = Map(
      "Song_Name" -> (c => cleanText(c)),
      "Artist_Name" -> (c => wsCollapse(c)),
      "Album_Name" -> (c => cleanText(c)),
      "Genre" -> (c => wsCollapse(c)),
      "Price" -> (c => priceUsd(c)),
      "CopyRight" -> (c => wsCollapse(c)),
      "Time" -> (c => timeNormalize(c)),
      "Released" -> (c => dateNormalize(c))))

  /** Walmart-Amazon (walmart/prompt.py:12, 20-38, 85). */
  val walmart = DatasetConfig(
    name = "walmart",
    fields = Seq("title", "category", "brand", "modelno", "price"),
    rules = Map(
      "title" -> (c => Normalize.stripVendorNoise(cleanText(c))),
      "category" -> (c => lower(wsCollapse(c))),
      "brand" -> (c => Normalize.brandCanon(c)), // R4: "Hewlett Packard"→"HP"
      // R6: model numbers upper-case, restricted charset A-Z0-9-._/
      "modelno" -> (c => nullif(
        regexp_replace(upper(trim(c)), "[^A-Z0-9\\-._/]", ""), lit(""))),
      "price" -> (c => when(priceParse(c).isNull, lit(null))
        .otherwise(format_string("%.2f", priceParse(c))))))

  /** WDC cameras / computers (camers|computer/single.py:10-12, 43-71). */
  val wdcTitle = DatasetConfig(
    name = "wdc_title",
    fields = Seq("title"),
    rules = Map(
      "title" -> (c => Normalize.unitSpacing(
        Normalize.stripVendorNoise(Normalize.stripLangTags(cleanText(c)))))))

  /** Walmart with R14 alignment ON (walmart/prompt.py:66-130): brand
    * lookup already canonicalizes both sides; matched pairs additionally
    * cross-copy missing values (never price). */
  val walmartAligned: DatasetConfig = walmart.copy(alignMatches = true)

  /** WDC cameras: wdcTitle plus the camera-domain abbreviation/brand
    * rows (camers/single.py:55-67). */
  val wdcCamera: DatasetConfig = wdcTitle.copy(
    name = "wdc_camera",
    rules = Map("title" -> (c => Normalize.cameraNormalize(
      Normalize.unitSpacing(Normalize.stripVendorNoise(
        Normalize.stripLangTags(cleanText(c))))))))

  /** WDC titles with the reference's match-sensitive alignment ON
    * (computer/procs.py:70-85): matched pairs unify units to compact
    * form and cross-copy a missing title; part codes are never removed
    * or altered (procs.py:62) — see Normalize.unitUnify for why the
    * Amazon SKU-deleting cleanup is NOT reused here. */
  val wdcTitleAligned: DatasetConfig = wdcTitle.copy(
    name = "wdc_title_aligned",
    alignMatches = true,
    matchRules = Map("title" -> (c => Normalize.unitUnify(c))))

  /** P5: wide pair row → per-side record structs — the reference's
    * record-splitting step that feeds each side's payload into the
    * normalizer (Amazon/prompt.py:171-186 left_record/right_record). */
  def splitRecord(df: DataFrame, fields: Seq[String]): DataFrame =
    df.select(col("id"), col("label"),
      struct(fields.map(f => col(s"left_$f").as(f)): _*).as("left_record"),
      struct(fields.map(f => col(s"right_$f").as(f)): _*).as("right_record"))

  /** P6 inverse: record structs back to the wide layout. */
  def unsplitRecord(df: DataFrame, fields: Seq[String]): DataFrame =
    df.select(col("id") +: col("label") +: fields.flatMap(f => Seq(
      col(s"left_record.$f").as(s"left_$f"),
      col(s"right_record.$f").as(s"right_$f"))): _*)

  /** F12: generic type-enforcing projection — every listed column cast to
    * string with null → "" (the reference's `str(x or "")` loop,
    * Amazon/prompt.py:44-52). */
  def enforceStrings(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((acc, c) =>
      acc.withColumn(c, coalesce(col(c).cast(StringType), lit(""))))

  /** R4 as a broadcast dim join — the open-table twin of
    * Normalize.brandCanon for user-supplied brand dictionaries that don't
    * fit a CASE chain. The dim side is always broadcast (it is a brand
    * dictionary: thousands of rows, not billions), so the fact table never
    * shuffles. dim schema: (variant STRING lower-cased, canonical STRING). */
  def canonicalizeBrandJoin(df: DataFrame, brandCol: String,
      dim: DataFrame): DataFrame = {
    val key = lower(trim(Normalize.dropCorpSuffixes(col(brandCol))))
    df.withColumn("_brand_key", key)
      .join(org.apache.spark.sql.functions.broadcast(
        dim.toDF("_brand_key", "_canonical")), Seq("_brand_key"), "left")
      .withColumn(brandCol, coalesce(col("_canonical"),
        initcap(trim(Normalize.dropCorpSuffixes(col(brandCol))))))
      .drop("_brand_key", "_canonical")
  }

  val all: Seq[DatasetConfig] =
    Seq(amazon, amazonAligned, beer, dblacm, fodors, itunes, walmart,
      walmartAligned, wdcTitle, wdcCamera, wdcTitleAligned)
}
