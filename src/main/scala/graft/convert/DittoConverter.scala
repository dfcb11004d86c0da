package graft.convert

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions

/**
 * Ditto COL/VAL pair file → DeepMatcher wide CSV converter — the
 * reference's converter lifecycle (SURVEY.md §3.1;
 * /root/reference/Converters/computers/{computer,dcm,iTuens,walmart}.py)
 * as two Spark jobs over a cached parsed frame:
 *
 *   read.text → blank-line filter (P3) → tab split + 3-part filter (P1)
 *   → COL/VAL parse (F1/F2) → [job 1] field-name union (C1, A1)
 *   → [job 2] label coercion filter (P2) → ordered wide projection (C2)
 *   → sequential id (O1) → sink
 *
 * Row ids reproduce the reference's input-order sequence exactly:
 * `monotonically_increasing_id` is ordered by (partition, offset) which for
 * a text source follows byte order; graft.ops.Ids.denseIdByMono makes the
 * ids dense with per-partition ranks + prefix-sum offsets — no
 * single-partition global window anywhere in the plan.
 */
object DittoConverter {

  final case class Config(
      robust: Boolean = true, // dcm/walmart parser; false = iTuens strict
      preferredOrder: Seq[String] = Nil,
      normalizeYear: Boolean = false) // dcm.py:93-97

  /** @param ordCol when the caller already carries an explicit input-order
    *   column (e.g. staged fixtures), ids are assigned in ITS order via a
    *   range-repartitioned rank; otherwise input (byte) order via
    *   `monotonically_increasing_id`. Either way: no global window. */
  def convertLines(spark: SparkSession, lines: DataFrame, cfg: Config,
      ordCol: Option[String] = None): DataFrame = {
    import spark.implicits._
    val parseUdf =
      if (cfg.robust) GraftFunctions.parseColValRobust
      else GraftFunctions.parseColValStrict

    // P3 + P1: blank filter, tolerant tab split, exactly 3 parts
    val src =
      if (ordCol.isDefined) lines
      else lines.withColumn("_ord", monotonically_increasing_id())
    val split0 = graft.io.Materialize(src
      .withColumn("line", GraftFunctions.pyTrim($"value"))
      .where(length($"line") > 0)
      .withColumn("parts",
        if (cfg.robust) split($"line", "\t+") else split($"line", "\t", -1))
      .where(size($"parts") === 3)
      .withColumn("left_map", parseUdf(element_at($"parts", 1)))
      .withColumn("right_map", parseUdf(element_at($"parts", 2))))
      // materialized once for the two downstream jobs (field-union collect
      // + final projection); Materialize leaves no CacheManager entry to
      // leak across the repeated convert runs of a long-lived session.

    // C1/A1: two-pass schema inference — union of keys from both sides.
    // Computed BEFORE the label filter: the reference's first pass unions
    // COL keys from every 3-part line, label validity is only checked in
    // the second pass (dcm.py two-pass shape) — a 3-part line with a bad
    // label still contributes columns.
    val fields = split0
      .select(explode(concat(map_keys($"left_map"), map_keys($"right_map"))).as("k"))
      .distinct().as[String].collect().toSeq

    // P2: label coercion — Python int() accepts optional sign + digits
    val labeled = split0
      .withColumn("label_raw", GraftFunctions.pyTrim(element_at($"parts", 3)))
      .where($"label_raw".rlike("^[-+]?[0-9]+$"))
      .withColumn("label", $"label_raw".cast(IntegerType))

    // C2: preferred fields first, rest sorted
    val ordered =
      cfg.preferredOrder.filter(fields.contains) ++
        fields.filterNot(cfg.preferredOrder.contains).sorted

    // O1: dense sequential id in input order (per-partition offsets — no
    // global window; see graft.ops.Ids)
    val withId = ordCol match {
      // labeled = narrow filters over the materialized parse — skip the
      // second materialization inside denseIdByOrder (its 3 consumers
      // re-run only those cheap filters against the materialized frame)
      case Some(oc) => graft.ops.Ids.denseIdByOrder(labeled, Seq(col(oc)), "id",
        materialize = false)
      case None     => graft.ops.Ids.denseIdByMono(labeled, "_ord", "id")
    }

    val sideCols = ordered.flatMap { f =>
      def side(m: String, pfx: String) = {
        val raw = coalesce(element_at(col(m), f), lit(""))
        val v = if (cfg.normalizeYear && f == "year")
          GraftFunctions.yearExtract(raw) else raw
        v.as(s"$pfx$f")
      }
      Seq(side("left_map", "left_"), side("right_map", "right_"))
    }
    withId.select((col("id") +: col("label") +: sideCols): _*)
  }

  /** computer.py:6-40 variant: title-only projection with the reference's
    * exact output header (id, label, title_left, title_right — note the
    * suffix order differs from the dcm-style left_/right_ prefixes) and
    * its looser line filter (>= 3 tab parts, extras ignored). */
  def convertTitleOnly(spark: SparkSession, lines: DataFrame): DataFrame = {
    import spark.implicits._
    val kept = lines
      .withColumn("_ord", monotonically_increasing_id())
      .withColumn("line", GraftFunctions.pyTrim($"value"))
      .withColumn("parts", split($"line", "\t", -1))
      .where(size($"parts") >= 3)
      .withColumn("label_raw", GraftFunctions.pyTrim(element_at($"parts", 3)))
      .where($"label_raw".rlike("^[-+]?[0-9]+$"))
    graft.ops.Ids.denseIdByMono(kept, "_ord", "id")
      .select($"id", $"label_raw".cast(IntegerType).as("label"),
        GraftFunctions.extractTitleUdf(element_at($"parts", 1)).as("title_left"),
        GraftFunctions.extractTitleUdf(element_at($"parts", 2)).as("title_right"))
  }

  /** S5: fixed train/valid/test split-set iteration, skipping missing
    * files (Amazon/prompt.py:250-257 main() shape). */
  def convertSplits(spark: SparkSession, dir: String, cfg: Config)
      : Map[String, DataFrame] =
    Seq("train", "valid", "test").flatMap { s =>
      val p = s"$dir/$s.txt"
      if (new java.io.File(p).exists())
        Some(s -> convertLines(spark, spark.read.text(p), cfg))
      else None
    }.toMap

  /** Sink with QUOTE_NONNUMERIC-equivalent quoting (computer.py:40):
    * all string columns quoted, numeric columns bare.
    *
    * SCOPE: golden-parity writer ONLY. The coalesce(1) single-task sink
    * exists because the reference (pandas to_csv) emits exactly one file
    * to byte-compare against; it must never become a production sink
    * path — at scale, write partitioned parquet (Snapshots) instead. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", true).option("quoteAll", true)
      .csv(path)

  /** Byte-exact QUOTE_NONNUMERIC parity writer (pandas to_csv semantics:
    * header labels are strings so QUOTE_NONNUMERIC quotes them too,
    * numeric cells bare, string cells quoted with `"` doubled). Emits the
    * file as ordered text lines.
    * @param quoteHeader the committed reference computer {test,train}.csv
    *   goldens carry an UNQUOTED header over a QUOTE_NONNUMERIC body —
    *   pass false to replay those files byte-exactly. */
  def referenceCsvLines(df: DataFrame, quoteHeader: Boolean = true): DataFrame = {
    val numeric = Set("id", "label")
    val cols = df.columns
    def cell(name: String) =
      if (numeric(name)) col(name).cast(StringType)
      else concat(lit("\""), regexp_replace(col(name), "\"", "\"\""), lit("\""))
    def quoteLabel(s: String) =
      if (quoteHeader) "\"" + s.replace("\"", "\"\"") + "\"" else s
    val body = df.select(col("id").cast(LongType).as("_k"),
      concat_ws(",", cols.map(cell): _*).as("value"))
    val header = df.sparkSession.range(1).select(
      lit(-1L).as("_k"), lit(cols.map(quoteLabel).mkString(",")).as("value"))
    header.unionByName(body).orderBy("_k").select("value")
  }

  /** Golden-parity writer only (one file, like pandas) — see writeCsv. */
  def writeReferenceCsv(df: DataFrame, path: String): Unit =
    referenceCsvLines(df).coalesce(1).write.mode("overwrite").text(path)
}
