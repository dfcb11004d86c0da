package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.block.Blocking
import graft.functions.GraftFunctions
import graft.io.Materialize
import graft.score.Similarity

/**
 * Deduplication operators for a web-scale training-data pipeline:
 * exact (hash groupBy), MinHash-LSH near-dup, SimHash, n-gram Jaccard,
 * embedding-cosine near-dup (see graft.ann.Ann for the LSH-bucketed
 * variant). All shuffle on hashes/ids, never on document bodies.
 */
object Dedup {

  /** Exact dedup groups: md5(text) → copies + canonical keeper (min id).
    * One shuffle on the 128-bit content hash; map-side partial agg. */
  def exactGroups(docs: DataFrame, textCol: Column, idCol: Column): DataFrame =
    docs.groupBy(md5(textCol.cast(BinaryType)).as("h")).agg(
      count(lit(1)).as("n_copies"),
      min(idCol).as("keeper"))

  /** Rows to KEEP after exact dedup (the min-id representative per hash). */
  def exactKeepers(docs: DataFrame, textCol: Column, idCol: Column): DataFrame =
    docs.withColumn("_h", md5(textCol.cast(BinaryType)))
      .withColumn("_keep",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("_h")).orderBy(idCol)) === 1)
      .where(col("_keep")).drop("_h", "_keep")

  /** Broder-style w-shingling: distinct word w-grams of the tokenized
    * text (GraftFunctions.wordGrams over tokensJvm), first occurrence
    * first (array_distinct order). A doc with fewer than w tokens yields
    * its one truncated shingle (all its tokens); a doc with none yields
    * nothing. */
  def wordShingles(textCol: Column, w: Int = 3): Column = {
    val f = udf { (s: String) =>
      val toks = GraftFunctions.tokensJvm(s)
      if (toks == null || toks.isEmpty) Array.empty[String]
      else GraftFunctions.wordGrams(toks, math.min(w, toks.length)).distinct
    }
    f(textCol)
  }

  /** MinHash-LSH near-duplicate pairs, verified by exact w-shingle
    * Jaccard >= `jaccardFloor`.
    *
    * Shuffle discipline (same as ERPipeline.scorePairs): the band self-
    * join and pair dedup run on SLIM rows (block_key, id — 16 bytes);
    * shingle arrays are re-attached by two id-joins only for the verify
    * step, so document bodies never ride through the block shuffle.
    * Bands over 500 rows are SPLIT (grouped by exact shingle fingerprint,
    * so exact-duplicate recall is preserved), never row-capped — no rows
    * are dropped.
    *
    * The two frames more than one downstream arm consumes are
    * materialized: the shingled base (verify joins on both pair sides)
    * and the slim banded table (size aggregation + both candidate-join
    * sides). Otherwise the tokenize/shingle chain and the band-key UDF
    * are re-evaluated once per consumer (measured 3× on the bench
    * corpus). */
  def minhashPairs(docs: DataFrame, idCol: Column, textCol: Column,
      bands: Int, rowsPerBand: Int, jaccardFloor: Double): DataFrame = {
    val base = Materialize(docs.select(idCol.as("id"), wordShingles(textCol).as("sh"))
      .withColumn("fp", Blocking.tokenFingerprint(col("sh"))))
    val blocked = Materialize(Blocking.minhashBlocks(
      base.select(col("id"), col("fp"), col("sh").as("tokens")), col("tokens"),
      bands, rowsPerBand).select("block_key", "id", "fp"))
    val (split, _) =
      Blocking.splitOversizedBlocks(blocked, "block_key", "fp", cap = 500)
    val idPairs = Blocking.candidatePairs(split, "block_key", "id", Nil)
      .select(col("l_id"), col("r_id"))
    val shingleSide = base.select(col("id"), col("sh"))
    val pairs = idPairs
      .join(shingleSide.toDF("l_id", "l_sh"), Seq("l_id"))
      .join(shingleSide.toDF("r_id", "r_sh"), Seq("r_id"))
    pairs.select(col("l_id"), col("r_id"),
        Similarity.jaccard(col("l_sh"), col("r_sh")).as("jaccard"))
      .where(col("jaccard") >= jaccardFloor)
  }

  /** Corpus-side MinHash band index: one slim (block_key, id) row per
    * band per document. This is the artifact an INCREMENTAL pipeline
    * persists next to the corpus (bucketed by block_key via
    * Snapshots.commitBucketed) so that deduplicating a new crawl batch
    * never recomputes — or reshuffles — corpus signatures. */
  def minhashBandIndex(docs: DataFrame, idCol: Column, textCol: Column,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val base = docs.select(idCol.as("id"), wordShingles(textCol).as("sh"))
    Blocking.minhashBlocks(base.select(col("id"), col("sh").as("tokens")),
      col("tokens"), bands, rowsPerBand).select("block_key", "id")
  }

  /** Near-dup pairs of a NEW increment against an EXISTING corpus via its
    * band index: (inc_id, corpus_id, jaccard with jaccard >= floor).
    *
    * Scale shape (the 100 TB daily-batch pattern): the increment is tiny
    * relative to the corpus, so its band keys BROADCAST — the corpus
    * index is only scanned, never shuffled (and with a block_key-bucketed
    * index table, not even sorted). Corpus TEXT is touched exactly once,
    * by an id-equi-join that attaches shingles to verified candidates
    * only. A degenerate hot band (boilerplate) fans the whole corpus to
    * one increment row: index rows per block are capped at 10000 (TopK's
    * per-key cap, lowest corpus ids win), mirroring the stream-static
    * discipline (Streaming.streamingMatches). The capped rows are not
    * reported. */
  def incrementalMinhashPairs(
      increment: DataFrame, incId: Column, incText: Column,
      corpusIndex: DataFrame, corpus: DataFrame, corpusId: Column,
      corpusText: Column, bands: Int, rowsPerBand: Int,
      jaccardFloor: Double): DataFrame = {
    val incBase = increment
      .select(incId.as("inc_id"), wordShingles(incText).as("inc_sh"))
    val incBlocks = broadcast(Blocking.minhashBlocks(
      incBase.select(col("inc_id"), col("inc_sh").as("tokens")),
      col("tokens"), bands, rowsPerBand).select("block_key", "inc_id"))
    val (cappedIndex, _) = graft.ops.TopK.perKeyWithDrops(
      corpusIndex.select(col("block_key"), col("id").as("corpus_id")),
      col("block_key"), "block_key", Seq(col("corpus_id")), 10000)
    val candidates = cappedIndex.join(incBlocks, Seq("block_key"))
      .select(col("inc_id"), col("corpus_id"))
      .dropDuplicates("inc_id", "corpus_id")
    val corpusSh = corpus.select(corpusId.as("corpus_id"),
      wordShingles(corpusText).as("c_sh"))
    candidates
      .join(incBase, Seq("inc_id"))
      .join(corpusSh, Seq("corpus_id"))
      .select(col("inc_id"), col("corpus_id"),
        Similarity.jaccard(col("inc_sh"), col("c_sh")).as("jaccard"))
      .where(col("jaccard") >= jaccardFloor)
  }

  /** 64-bit SimHash over word tokens (JVM function; still a narrow map). */
  val simhashUdf = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty) 0L
    else {
      val acc = new Array[Int](64)
      toks.foreach { t =>
        val h = GraftFunctions.fnv1a64(t)
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  def simhash64(textCol: Column): Column =
    simhashUdf(GraftFunctions.tokens(textCol))

  /** Near-dup CANONICALIZATION: transitive closure over similarity pairs
    * → one keeper (min id) per near-dup cluster, one row per document.
    * This is the keep-one step a training-data pipeline runs after any
    * pair generator (minhash bands, winnowing containment, embedding
    * LSH): exact dedup canonicalizes by content hash; near-dup dedup
    * must canonicalize by CONNECTED COMPONENT, because near-duplication
    * is not transitive row-by-row (A~B, B~C, A≁C still collapse to one
    * cluster — dropping pairwise losers double-keeps A and C).
    *
    * Scale shape: ConnectedComponents on 64-bit id edges (O(log n)
    * rounds), then one left join back to the doc ids — document bodies
    * are never touched.
    *
    * @param pairs any (l_id, r_id) pair table from such a generator.
    * @return (doc_id, keeper) for EVERY document (singletons keep
    *   themselves). */
  def nearDupKeepers(docs: DataFrame, idCol: Column, pairs: DataFrame)
      : DataFrame = {
    val comps = graft.cluster.ConnectedComponents.run(docs.sparkSession,
      pairs.select(col("l_id").as("src"), col("r_id").as("dst")))
    docs.select(idCol.as("doc_id"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("keeper"))
  }
}
