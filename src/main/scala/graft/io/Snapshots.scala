package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/**
 * Snapshot / lineage convention over partitioned Parquet (SURVEY.md §7
 * header: no Iceberg runtime jar ships with the image, so the north-rule's
 * "Iceberg table + snapshot checkpoints" is realized as Parquet stage
 * tables plus an explicit `_snapshots/<stage>/` manifest directory giving
 * the same observable semantics: named snapshots, commit atomicity via
 * manifest-last writes, per-stage lineage + metrics, and resume-from-last-
 * complete-stage).
 *
 * Layout:  <root>/<stage>/           parquet data
 *          <root>/_snapshots/<stage>.json   manifest (written last = commit)
 *
 * A manifest is one flat JSON object: `stage`, `rows` (rows written),
 * `wall_ms`, `schema` (simpleString of the written frame), `lineage`
 * (`pid:rows` per Spark write partition, comma-separated; partitions that
 * wrote no rows are absent) and the caller's `extra` fields.
 *
 * One commit is one Spark job: the write itself. `rows` is a
 * `Dataset.observe` count riding the write plan, `lineage` is summed from
 * the committed files' parquet footers on the driver, and the returned
 * frame reads the files back under the known schema (no inference job).
 */
object Snapshots {

  private def manifestPath(root: String, stage: String): Path =
    Paths.get(root, "_snapshots", s"$stage.json")

  def isComplete(root: String, stage: String): Boolean =
    Files.exists(manifestPath(root, stage))

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Write stage output + manifest; returns the re-read DataFrame so the
    * downstream plan reads from the snapshot (lineage cut, resumable). */
  def commit(spark: SparkSession, df: DataFrame, root: String, stage: String,
      extra: Map[String, String] = Map.empty): DataFrame = {
    val dataPath = s"$root/$stage"
    seal(spark, df, root, stage, extra) { observed =>
      observed.write.mode("overwrite").parquet(dataPath)
      // file sources read every column back as nullable, as an inferred
      // read of these files would
      spark.read.schema(df.schema).parquet(dataPath)
    }
  }

  /** Runs `write` over `df` with a row-count observation attached, then
    * writes the manifest (the commit point). `write` must run exactly
    * one action over the frame it is given and return the read-back. */
  private def seal(spark: SparkSession, df: DataFrame, root: String,
      stage: String, extra: Map[String, String])
      (write: DataFrame => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val obs = Observation()
    val out = write(df.observe(obs, count(lit(1)).as("rows")))
    val rows = ColumnBridge.metricsOrEmpty(obs).get("rows") match {
      case Some(n: Long) => n
      case other => throw new IllegalStateException(
        s"snapshot '$stage': the write surfaced no observed row count ($other)")
    }
    val lineage = footerLineage(spark, s"$root/$stage")
    require(lineage.map(_._2).sum == rows,
      s"snapshot '$stage': parquet footers hold ${lineage.map(_._2).sum} " +
        s"rows, the write observed $rows")
    writeManifest(root, stage, rows, (System.nanoTime() - t0) / 1000000,
      df.schema.simpleString, extra +
        ("lineage" -> lineage.map { case (p, n) => s"$p:$n" }.mkString(",")))
    out
  }

  /** Rows per Spark write partition, from the footers of the parquet files
    * under `dataPath`. The partition id rides every data file name
    * (`part-<pid>-<uuid>...`); a partition that wrote no rows is absent. */
  private def footerLineage(spark: SparkSession, dataPath: String)
      : Seq[(Int, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val PartFile = """part-(\d+)-.*\.parquet""".r
    val walk = Files.walk(Paths.get(dataPath))
    val files = try walk.iterator().asScala.toList finally walk.close()
    files.flatMap { f =>
      f.getFileName.toString match {
        case PartFile(pid) =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
          try Some(pid.toInt -> reader.getRecordCount) finally reader.close()
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.filter(_._2 > 0).sorted
  }

  /** Per-partition lineage sealed into a stage's manifest: (partition id,
    * rows written), ascending by partition id. Empty if the stage is not
    * committed. */
  def lineage(root: String, stage: String): Seq[(Int, Long)] =
    manifestField(root, stage, "lineage").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty).map { e =>
        val Array(p, n) = e.split(":")
        (p.toInt, n.toLong)
      }

  /** Manifest-last = commit point (shared by commit / commitBucketed). */
  private def writeManifest(root: String, stage: String, rows: Long,
      wallMs: Long, schema: String, extra: Map[String, String]): Unit = {
    val fields = Map(
      "stage" -> s""""${esc(stage)}"""",
      "rows" -> rows.toString,
      "wall_ms" -> wallMs.toString,
      "schema" -> s""""${esc(schema)}"""") ++
      extra.map { case (k, v) => k -> s""""${esc(v)}"""" }
    val json = fields.map { case (k, v) => s""""${esc(k)}": $v""" }
      .mkString("{", ", ", "}")
    Files.createDirectories(manifestPath(root, stage).getParent)
    Files.writeString(manifestPath(root, stage), json)
  }

  /** Table name for a bucketed stage (session-catalog identifier). */
  private def tableName(stage: String): String =
    "graft_" + stage.replaceAll("[^A-Za-z0-9_]", "_")

  /** Bucketed snapshot: write the stage as a hash-bucketed + per-file-
    * sorted external parquet TABLE on `bucketCols`. A bucketed scan
    * reports `HashPartitioning(bucketCols, nBuckets)`, so every later
    * equi-join or aggregation on the bucket key is CO-LOCATED — Catalyst
    * plans it with no shuffle exchange on the bucketed side(s)
    * (plan-asserted in BucketedSnapshotSpec). At 100 TB this is the
    * difference between re-shuffling the canonical corpus on every
    * incremental batch and shuffling only the (much smaller) delta:
    * bucket the corpus by entity/doc id once at commit time, then every
    * enrichment join, delta merge, and per-id aggregate reuses that
    * partitioning for free.
    *
    * The data lives under `<root>/<stage>` exactly like `commit`;
    * bucket METADATA lives in the session catalog, so a fresh session
    * resumes either via plain `spark.read.parquet` (data only, no
    * co-location) or via `registerBucketed` (re-attaches the bucket
    * layout over the same files — Spark's bucket ids ride the file
    * names, so the DDL claim is sound for files this method wrote). */
  def commitBucketed(spark: SparkSession, df: DataFrame, root: String,
      stage: String, bucketCols: Seq[String], nBuckets: Int): DataFrame = {
    require(bucketCols.nonEmpty && nBuckets > 0)
    val table = tableName(stage)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    seal(spark, df, root, stage, Map("buckets" -> nBuckets.toString,
        "bucket_cols" -> bucketCols.mkString(","), "table" -> table)) {
      observed =>
        observed.write.mode("overwrite")
          .format("parquet")
          .option("path", s"$root/$stage")
          .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
          .saveAsTable(table)
        spark.table(table)
    }
  }

  /** Re-attach a bucketed snapshot written by `commitBucketed` in a
    * (possibly new) session: external-table DDL over the existing files.
    * Schema and bucket spec must match what was committed. */
  def registerBucketed(spark: SparkSession, root: String, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      bucketCols: Seq[String], nBuckets: Int): DataFrame = {
    val table = tableName(stage)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val bc = bucketCols.map(c => s"`$c`").mkString(", ")
    spark.sql(
      s"""CREATE TABLE $table ($cols) USING PARQUET
         |CLUSTERED BY ($bc) SORTED BY ($bc) INTO $nBuckets BUCKETS
         |LOCATION '$root/$stage'""".stripMargin)
    spark.table(table)
  }

  /** Resume: return the snapshot if complete, else compute+commit it.
    * `extra` key/values are recorded in the manifest ONLY when the stage
    * is computed this run — a resumed stage keeps the manifest of the run
    * that produced it (read back via `manifestField`). */
  def getOrCompute(spark: SparkSession, root: String, stage: String,
      extra: => Map[String, String] = Map.empty)(compute: => DataFrame)
      : DataFrame =
    if (isComplete(root, stage)) spark.read.parquet(s"$root/$stage")
    else commit(spark, compute, root, stage, extra)

  /** Read one field back from a stage manifest (string fields unquoted).
    * The manifest is the flat JSON object writeManifest produced. */
  def manifestField(root: String, stage: String, key: String)
      : Option[String] = {
    val p = manifestPath(root, stage)
    if (!Files.exists(p)) None
    else {
      val json = Files.readString(p)
      val re = ("\"" + java.util.regex.Pattern.quote(key) +
        "\"\\s*:\\s*(?:\"((?:[^\"\\\\]|\\\\.)*)\"|([-0-9.eE+]+))").r
      re.findFirstMatchIn(json).map(m =>
        Option(m.group(1)).getOrElse(m.group(2)))
    }
  }

  /** Bucketed resume: re-attach the committed bucket layout (schema read
    * from the parquet footers), else compute + commitBucketed.
    *
    * On resume the bucket spec recorded in the MANIFEST wins, not the
    * caller's arguments: bucket ids ride the file names, so registering
    * a different nBuckets over existing files makes Spark's bucketed scan
    * silently drop every file whose bucket id >= nBuckets (and co-located
    * joins lose matches). A stage committed by plain `commit` (no bucket
    * spec in its manifest) resumes as a plain parquet read — claiming a
    * bucket layout over un-bucketed files fails with "Invalid bucket
    * file". */
  def getOrComputeBucketed(spark: SparkSession, root: String, stage: String,
      bucketCols: Seq[String], nBuckets: Int)(compute: => DataFrame)
      : DataFrame =
    if (isComplete(root, stage)) {
      val recorded = for {
        n <- manifestField(root, stage, "buckets").map(_.toInt)
        cols <- manifestField(root, stage, "bucket_cols")
          .map(_.split(",").toSeq)
      } yield (cols, n)
      recorded match {
        case Some((cols, n)) =>
          registerBucketed(spark, root, stage,
            spark.read.parquet(s"$root/$stage").schema, cols, n)
        case None => spark.read.parquet(s"$root/$stage")
      }
    } else commitBucketed(spark, compute, root, stage, bucketCols, nBuckets)

  def listSnapshots(root: String): Seq[String] = {
    val dir = Paths.get(root, "_snapshots")
    if (!Files.exists(dir)) Nil
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).toSeq.sorted
  }
}
