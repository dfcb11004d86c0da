package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (array<float> or array<double>, read as doubles: float widens exactly).
 * Baseline: brute-force cosine top-k (broadcast the query
 * side — the scan side streams, no shuffle of the corpus). Scale path:
 * random-hyperplane LSH bucketing so candidate generation is a bucket
 * equi-join instead of a cross join.
 */
object Ann {

  /** Cosine similarity of two numeric-vector columns as ONE compact JVM
    * function: a left fold in doubles (acc += a(i)·b(i) ascending from
    * 0.0), denominator `sqrt(dot(a,a))·sqrt(dot(b,b))`, `denom == 0 → 0.0`,
    * null on a null input, a length mismatch or a null element.
    *
    * The inputs are typed `array<double>`: the analyzer widens an
    * `array<float>` argument element-wise, which is exact, so a float
    * vector (every caller in this codebase) and a double vector both
    * enter the fold at full precision; neither is narrowed to float.
    *
    * WHY a JVM function: Catalyst evaluates `aggregate`/`zip_with`/
    * `transform` lambdas interpreted (CodegenFallback), allocating per
    * element, and a CASE over the norm folds re-evaluated them twice:
    * five interpreted O(dim) folds per row. Measured on the sf0.1 bench:
    * emb_ann_topk 1.23 s → the scan's per-row cost dominated everything
    * else. One JVM loop does the identical arithmetic in primitive
    * registers. Reference the result once per projection (PlanSpec pins
    * one call per row pipeline): every extra reference re-runs the loop. */
  private val cosineUdf = udf { (a: Seq[java.lang.Double], b: Seq[java.lang.Double]) =>
    var nullElem = a == null || b == null || a.length != b.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    if (!nullElem) {
      var i = 0
      while (i < a.length && !nullElem) {
        val xb = a(i); val yb = b(i)
        if (xb == null || yb == null) nullElem = true
        else {
          val x = xb.doubleValue; val y = yb.doubleValue
          dot += x * y; na += x * x; nb += y * y
        }
        i += 1
      }
    }
    (if (nullElem) null
    else {
      val denom = math.sqrt(na) * math.sqrt(nb)
      java.lang.Double.valueOf(if (denom == 0.0) 0.0 else dot / denom)
    }): java.lang.Double
  }

  /** Cosine of two numeric-vector columns (see `cosineUdf`). */
  def cosine(a: Column, b: Column): Column = cosineUdf(a, b)

  /** Brute-force top-k neighbors for the first `nQueries` vec_ids.
    * Query side is tiny → broadcast; corpus side never shuffles until the
    * final per-query top-k (k rows per query). Scores rounded to 6dp
    * before ranking so ordering is reproducible across engines. */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val scored = corpus.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("embedding")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"), col("rank"))
  }

  /** splitmix64 finalizer — deterministic sign stream for the planes. */
  @inline private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  // ---------------- IVF (inverted-file) ANN --------------------------------

  /** Deterministic coarse quantizer. Seeds: the `nlist` vectors with the
    * LOWEST xxhash64(vec_id) — a hash-spread pseudo-random sample that is
    * content-independent, so corpora whose id order correlates with
    * content (timestamps, shard prefixes, sorted embeddings) still get
    * seeds spread across the whole corpus; seeding by lowest raw vec_id
    * degenerates exactly there (all seeds in one content cluster → recall
    * collapse). Refined by `lloydIters` Lloyd iterations (element-wise
    * mean of assigned vectors; empty lists keep their previous centroid).
    * Returns the centroid matrix (small: nlist × dim, driver-resident by
    * design — it IS the broadcastable model). */
  def trainIvfCentroids(emb: DataFrame, nlist: Int,
      lloydIters: Int = 2): Array[Array[Double]] = {
    val seeds = emb.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nlist)
      .select(col("embedding")).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toArray)
    var cents = seeds
    var it = 0
    while (it < lloydIters) {
      val assigned = emb.select(col("embedding"),
        nearestList(col("embedding"), cents).as("list_id"))
      // element-wise mean per list: posexplode → (list, pos) avg — one
      // shuffle of (nlist × dim) cells, independent of corpus size
      val means = assigned
        .select(col("list_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getAs[Int]("list_id"))(r.getAs[Int]("pos")) = r.getAs[Double]("m")
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Hard k-means TOPIC assignment over a trained centroid matrix — the
    * corpus-clustering consumer of `trainIvfCentroids` (topic bucketing /
    * embedding-space stratification of a training corpus). Returns
    * (vec_id, topic, dot): nearest centroid by inner product rounded to
    * the 6-decimal cross-engine grid, ties to the SMALLEST centroid id
    * (first max wins).
    *
    * Shape: one narrow, zero-shuffle JVM projection over the broadcast-
    * sized centroid matrix; the corpus only gets scanned. Differs from
    * `nearestList` in contract, not mechanics: this returns the oracle-
    * grid (topic, dot) pair, nearestList just the raw-argmax list id —
    * spec-pinned assignment-identical. */
  def kmeansAssign(emb: DataFrame, centroids: Array[Array[Double]])
      : DataFrame = {
    // One JVM function instead of nlist interpreted aggregate/zip_with
    // trees per row (CodegenFallback — see cosineUdf). Bit-identical
    // to the declarative formulation: same per-centroid left-fold dot,
    // each dot rounded exactly as Spark's Round on DoubleType does
    // (java.math.BigDecimal.valueOf(d).setScale(6, HALF_UP)), first-max
    // tie-break replicating array_position(arr, array_max(arr)).
    val dim = if (centroids.isEmpty) 0 else centroids(0).length
    val assignUdf = udf { (v: Seq[java.lang.Double]) =>
      // null / length-mismatched / null-element vectors: the old
      // zip_with chain nulled every dot, array_max over all-null gave a
      // null topic and dot — return a null struct for the same rows
      val bad = v == null || v.length != dim || v.exists(_ == null)
      if (bad) null.asInstanceOf[(Long, Double)]
      else {
        var bestIdx = 0L; var bestVal = Double.NegativeInfinity
        var l = 0
        while (l < centroids.length) {
          val c = centroids(l)
          var acc = 0.0; var i = 0
          while (i < dim) { acc += v(i).doubleValue * c(i); i += 1 }
          // Round passes NaN/Inf through; array_max ranks NaN above
          // every other value and takes the first of equal maxima
          val r = if (acc.isNaN || acc.isInfinite) acc
            else java.math.BigDecimal.valueOf(acc)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          if (r > bestVal || (r.isNaN && !bestVal.isNaN)) {
            bestVal = r; bestIdx = l
          }
          l += 1
        }
        (bestIdx, bestVal)
      }
    }
    emb.select(col("vec_id"), assignUdf(col("embedding")).as("a"))
      .select(col("vec_id"), col("a._1").as("topic"), col("a._2").as("dot"))
  }

  /** Nearest-centroid assignment as a compact per-row JVM function over
    * the broadcast centroid matrix (nlist × dim multiply-adds per row;
    * a per-centroid expression tree would blow up plan size the same way
    * the MinHash expression family did — see Blocking.bandKeysUdf). */
  def nearestList(emb: Column, centroids: Array[Array[Double]]): Column = {
    val f = udf { (v: Seq[Double]) =>
      var best = 0; var bestDot = Double.MinValue
      var l = 0
      while (l < centroids.length) {
        val c = centroids(l)
        var dot = 0.0; var i = 0
        val n = math.min(c.length, v.length)
        while (i < n) { dot += c(i) * v(i); i += 1 }
        if (dot > bestDot) { bestDot = dot; best = l }
        l += 1
      }
      best
    }
    f(emb)
  }

  /** IVF candidate scan: corpus bucketed by nearest centroid; each query
    * probes its `nprobe` closest lists only, so the scan is an EQUI-join
    * on list_id (shuffle on a small int key) instead of a full cross
    * join — the classic inverted-file ANN topology that scales to
    * billions of vectors. Returns every probed (query_id, vec_id, cos)
    * candidate — callers rank (ivfTopK) or audit (ivfProbeStats). */
  def ivfCandidates(emb: DataFrame, nQueries: Int, nlist: Int = 16,
      nprobe: Int = 4, lloydIters: Int = 2): DataFrame = {
    val cents = trainIvfCentroids(emb, nlist, lloydIters)
    val corpus = emb.select(col("vec_id"), col("embedding"),
      nearestList(col("embedding"), cents).as("list_id"))
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .collect()
    // per-query probe lists computed on the driver (queries are few by
    // contract; the corpus-side work is the distributed part)
    val probeRows = queries.flatMap { r =>
      val q = r.getSeq[Number](1).map(_.doubleValue).toArray
      val byDot = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(q).map { case (a, b) => a * b }.sum, i)
      }.sortBy(-_._1).take(nprobe).map(_._2)
      byDot.map(list => (r.getLong(0), list))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    val probes = probeRows.toSeq.toDF("query_id", "list_id")
    val qdf = queries.toSeq.map(r =>
      (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue)))
      .toDF("query_id", "q_emb")
    corpus
      .join(broadcast(probes), Seq("list_id"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(qdf), Seq("query_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("embedding")), 6))
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** Per-query probed-candidate counts — the recall-collapse telemetry: a
    * query whose probed lists hold almost no candidates (n_candidates ≪
    * corpus/nlist × nprobe) signals a degenerate quantizer. `queryIds`
    * (a `query_id` column) anchors the output: the FULLY degenerate case —
    * a query whose probed lists are all empty — must surface as an
    * explicit n_candidates = 0 row, not silently vanish from the stats
    * (the worst-affected queries are exactly the ones an alert must see). */
  def ivfProbeStats(candidates: DataFrame, queryIds: DataFrame): DataFrame =
    queryIds.select(col("query_id")).distinct()
      .join(candidates.groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_candidates")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))

  /** IVF top-k: exact cosine re-ranking inside the probed lists. With
    * nprobe = nlist (full probe) this reproduces bruteForceTopK exactly —
    * the driver-oracle query emb_ann_ivf pins that equivalence. */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int, nlist: Int = 16,
      nprobe: Int = 4, lloydIters: Int = 2): DataFrame = {
    val candidates = ivfCandidates(emb, nQueries, nlist, nprobe, lloydIters)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    candidates.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"), col("rank"))
  }

  /** Random-hyperplane LSH signature: `bits` sign-bits of dot products
    * with deterministic ±1 hyperplanes baked in as literals — per-row work
    * is exactly bits×dim multiply-adds, fully codegen'd, no stored model. */
  def rhpSignature(emb: Column, bits: Int, dim: Int): Column = {
    // One JVM function instead of bits interpreted aggregate/zip_with
    // trees (CodegenFallback; plan size also grew with bits×dim literal
    // arrays). Bit-identical: same ±1 planes (mix64 stream), same
    // ascending left-fold from 0.0 per bit, same strict `dot > 0` sign
    // test; null/length-mismatched input yields 0L (what the null-padded
    // zip_with fold collapsed every bit to).
    val planes = Array.tabulate(bits, dim)((b, j) =>
      if ((mix64(b.toLong * 1000003L + j) & 1L) == 0L) 1.0d else -1.0d)
    val f = udf { (v: Seq[java.lang.Double]) =>
      // null / mismatched / null-element input: every bit's null-padded
      // fold went null, `when(null > 0)` fell to the 0L branch → sig 0
      if (v == null || v.length != dim || v.exists(_ == null)) 0L
      else {
        var sig = 0L
        var b = 0
        while (b < bits) {
          val p = planes(b)
          var acc = 0.0; var j = 0
          while (j < dim) { acc += v(j).doubleValue * p(j); j += 1 }
          if (acc > 0) sig |= (1L << b)
          b += 1
        }
        sig
      }
    }
    f(emb)
  }

  /** Embedding dimensionality probed from the first row (one tiny job);
    * callers at true scale should pass the known dim instead. */
  def probeDim(emb: DataFrame, embCol: String = "embedding"): Int =
    emb.select(size(col(embCol))).head().getInt(0)

  /** Embedding near-duplicate pairs: bucket by RHP signature, verify by
    * exact cosine >= cosFloor. Multi-probe: also joins buckets at hamming
    * distance 1 (flip each bit) to recover near-boundary pairs.
    *
    * Shuffle discipline (same as Dedup.minhashPairs and the ER
    * candidate join): the bucket join and the pair dedup run on SLIM
    * (bucket, vec_id) rows — the multi-probe side replicates each row
    * bits+1 times, so carrying the embedding array there would amplify
    * the shuffled payload 13× at bits=12 (at a 10-TB embedding table,
    * ~130 TB through the wire). Embeddings are re-attached AFTER the
    * id-pair dedup by two id-joins, so each embedding crosses the wire
    * once per side, and only for surviving candidate pairs. */
  def cosineNearDupLsh(emb: DataFrame, bits: Int, cosFloor: Double,
      dimOpt: Option[Int] = None): DataFrame = {
    val dim = dimOpt.getOrElse(probeDim(emb))
    val sig = emb.select(col("vec_id"),
      rhpSignature(col("embedding"), bits, dim).as("sig"))
    // probe buckets: own signature + each 1-bit flip — ids only
    val probes = sig.select(col("vec_id").as("r_id"), explode(array(
      (col("sig") +: (0 until bits).map(b =>
        col("sig").bitwiseXOR(lit(1L << b)))): _*)).as("bucket"))
    val left = sig.select(col("sig").as("bucket"), col("vec_id").as("l_id"))
    val idPairs = left.join(probes, Seq("bucket"))
      .where(col("l_id") < col("r_id"))
      .select(col("l_id"), col("r_id"))
      .dropDuplicates("l_id", "r_id")
    val payload = emb.select(col("vec_id"), col("embedding"))
    idPairs
      .join(payload.toDF("l_id", "l_emb"), Seq("l_id"))
      .join(payload.toDF("r_id", "r_emb"), Seq("r_id"))
      .withColumn("cos", round(cosine(col("l_emb"), col("r_emb")), 6))
      .where(col("cos") >= cosFloor)
      .select(col("l_id"), col("r_id"), col("cos"))
  }
}
