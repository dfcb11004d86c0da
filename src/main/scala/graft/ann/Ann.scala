package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions.mix64

/**
 * Approximate-nearest-neighbor search over an embedding column.
 * Baseline: brute-force cosine top-k (broadcast the query
 * side — the scan side streams, no shuffle of the corpus). Scale path:
 * random-hyperplane LSH bucketing so candidate generation is a bucket
 * equi-join instead of a cross join.
 */
object Ann {

  /** The one bad-input gate of every embedding path: `v` as doubles
    * (an `array<float>` column widens exactly), or null when `v` is null,
    * holds a null element or has a length other than `dim` (the
    * centroids', the planes' or the first seed's; `-1` takes any length,
    * for the operand that fixes it). A bad vector gets a null cosine,
    * k-means topic and dot, list id and RHP signature (so it joins no
    * bucket), is no IVF candidate or query, and is left out of the Lloyd
    * means; a bad seed fails `trainIvfCentroids` by name. NaN and Inf
    * elements are values and flow through. */
  private def vec(v: scala.collection.Seq[java.lang.Double], dim: Int)
      : Array[Double] =
    if (v == null || (dim >= 0 && v.length != dim)) null
    else {
      val out = new Array[Double](v.length)
      var i = 0
      while (i < out.length) {
        val x = v(i)
        if (x == null) return null
        out(i) = x.doubleValue
        i += 1
      }
      out
    }

  /** The one multiply-add loop: an ascending left fold from 0.0. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Cosine `dot(a,b) / (sqrt(dot(a,a))·sqrt(dot(b,b)))`, 0.0 when the
    * denominator is 0, as ONE JVM function.
    *
    * WHY a JVM function: Catalyst evaluates `aggregate`/`zip_with`/
    * `transform` lambdas interpreted (CodegenFallback), allocating per
    * element, and a CASE over the norm folds re-evaluated them twice:
    * five interpreted O(dim) folds per row. Measured on the sf0.1 bench:
    * emb_ann_topk 1.23 s → the scan's per-row cost dominated everything
    * else. The JVM function does the same arithmetic on primitive
    * doubles. Reference the result once per projection (PlanSpec pins
    * one call per row pipeline): every extra reference re-runs the loop. */
  private val cosineUdf = udf { (a: Seq[java.lang.Double], b: Seq[java.lang.Double]) =>
    val x = vec(a, dim = -1)
    val y = if (x == null) null else vec(b, x.length)
    (if (y == null) null
    else {
      val denom = math.sqrt(dot(x, x)) * math.sqrt(dot(y, y))
      java.lang.Double.valueOf(if (denom == 0.0) 0.0 else dot(x, y) / denom)
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

  // ---------------- IVF (inverted-file) ANN --------------------------------

  /** Deterministic coarse quantizer. Seeds: the `nlist` vectors with the
    * LOWEST xxhash64(vec_id) — a hash-spread pseudo-random sample that is
    * content-independent, so corpora whose id order correlates with
    * content (timestamps, shard prefixes, sorted embeddings) still get
    * seeds spread across the whole corpus; seeding by lowest raw vec_id
    * degenerates exactly there (all seeds in one content cluster → recall
    * collapse). Refined by two Lloyd iterations (element-wise mean of
    * assigned vectors; empty lists keep their previous centroid).
    * Returns the centroid matrix (small: nlist × dim, driver-resident by
    * design — it IS the broadcastable model). */
  def trainIvfCentroids(emb: DataFrame, nlist: Int)
      : Array[Array[Double]] = {
    val rows = emb.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nlist)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getAs[scala.collection.Seq[java.lang.Double]](0))
    val first = rows.headOption.map(vec(_, dim = -1)).orNull
    val seeds = rows.map(vec(_, if (first == null) 0 else first.length))
    require(!seeds.contains(null), "trainIvfCentroids: a seed vector is " +
      "null, holds a null element or differs in length from the first")
    var cents = seeds
    var it = 0
    while (it < 2) {
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
      // a bad vector's null list id: its cells join no mean
      means.filterNot(_.isNullAt(0)).foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2)
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Hard k-means TOPIC assignment over a trained centroid matrix — the
    * corpus-clustering consumer of `trainIvfCentroids` (topic bucketing /
    * embedding-space stratification of a training corpus): (vec_id,
    * topic, dot) by `nearest`, one narrow zero-shuffle projection. */
  def kmeansAssign(emb: DataFrame, centroids: Array[Array[Double]])
      : DataFrame =
    emb.select(col("vec_id"), assign(col("embedding"), centroids).as("a"))
      .select(col("vec_id"), col("a._1").as("topic"), col("a._2").as("dot"))

  /** The IVF list id of each vector: the topic of `kmeansAssign`. */
  private[graft] def nearestList(emb: Column,
      centroids: Array[Array[Double]]): Column =
    assign(emb, centroids).getField("_1")

  /** (topic, dot) of `nearest` as a per-row JVM function over the
    * broadcast centroid matrix (nlist × dim multiply-adds per row; a
    * per-centroid expression tree would blow up plan size the same way
    * the MinHash expression family did — see Blocking.bandKeysUdf). */
  private def assign(emb: Column, centroids: Array[Array[Double]]): Column = {
    val dim = centroids.headOption.fold(0)(_.length)
    udf { (v: Seq[java.lang.Double]) =>
      val x = vec(v, dim)
      if (x == null) null.asInstanceOf[(Long, Double)] else nearest(x, centroids)
    }.apply(emb)
  }

  /** The one nearest-centroid argmax: (index, dot) of the largest inner
    * product rounded to the 6-decimal cross-engine grid exactly as
    * Spark's Round on DoubleType does (BigDecimal HALF_UP; NaN and Inf
    * pass through). Ties go to the SMALLEST centroid id and NaN ranks
    * above every other value, as `array_position(d, array_max(d))`. */
  private def nearest(v: Array[Double], centroids: Array[Array[Double]])
      : (Long, Double) = {
    var bestIdx = 0L; var bestVal = Double.NegativeInfinity
    var l = 0
    while (l < centroids.length) {
      val d = dot(v, centroids(l))
      val r = if (d.isNaN || d.isInfinite) d
        else java.math.BigDecimal.valueOf(d)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (r > bestVal || (r.isNaN && !bestVal.isNaN)) {
        bestVal = r; bestIdx = l
      }
      l += 1
    }
    (bestIdx, bestVal)
  }

  /** IVF candidate scan: corpus bucketed by nearest centroid; each query
    * probes its `nprobe` closest lists only, so the scan is an EQUI-join
    * on list_id (shuffle on a small int key) instead of a full cross
    * join — the classic inverted-file ANN topology that scales to
    * billions of vectors. Returns every probed (query_id, vec_id, cos)
    * candidate — callers rank (ivfTopK) or audit (ivfProbeStats). */
  def ivfCandidates(emb: DataFrame, nQueries: Int, nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val cents = trainIvfCentroids(emb, nlist)
    val corpus = emb.select(col("vec_id"), col("embedding"),
      nearestList(col("embedding"), cents).as("list_id"))
    val dim = cents.headOption.fold(0)(_.length)
    // a bad query vector probes nothing and is left out of the broadcast
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0),
        vec(r.getAs[scala.collection.Seq[java.lang.Double]](1), dim)))
      .filter(_._2 != null)
    // per-query probe lists computed on the driver (queries are few by
    // contract; the corpus-side work is the distributed part)
    val probeRows = queries.flatMap { case (id, q) =>
      cents.indices.sortBy(l => -dot(cents(l), q)).take(nprobe)
        .map(l => (id, l.toLong))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    val probes = probeRows.toSeq.toDF("query_id", "list_id")
    val qdf = queries.toSeq.map { case (id, q) => (id, q.toSeq) }
      .toDF("query_id", "q_emb")
    // `<=>`: with `===` the optimizer pushes isnotnull(list_id) under the
    // projection, a second assignment per row; probes hold no null id
    corpus
      .join(broadcast(probes), corpus("list_id") <=> probes("list_id"))
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
      nprobe: Int = 4): DataFrame = {
    val candidates = ivfCandidates(emb, nQueries, nlist, nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    candidates.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos"), col("rank"))
  }

  /** Random-hyperplane LSH signature: `bits` sign-bits (strict `dot > 0`)
    * of dot products with deterministic ±1 hyperplanes (the mix64
    * stream) — per-row work is exactly bits×dim multiply-adds in one JVM
    * function (not `bits` interpreted zip_with folds with bits×dim
    * literals in the plan — see cosineUdf), no stored model. */
  private[graft] def rhpSignature(emb: Column, bits: Int, dim: Int): Column = {
    val planes = Array.tabulate(bits, dim)((b, j) =>
      if ((mix64(b.toLong * 1000003L + j) & 1L) == 0L) 1.0d else -1.0d)
    val f = udf { (v: Seq[java.lang.Double]) =>
      val x = vec(v, dim)
      (if (x == null) null
      else {
        var sig = 0L
        var b = 0
        while (b < bits) {
          if (dot(x, planes(b)) > 0) sig |= (1L << b)
          b += 1
        }
        java.lang.Long.valueOf(sig)
      }): java.lang.Long
    }
    f(emb)
  }

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
    * once per side, and only for surviving candidate pairs.
    *
    * The dimension is probed from the first row (one tiny job). */
  def cosineNearDupLsh(emb: DataFrame, bits: Int, cosFloor: Double)
      : DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val sig = emb.select(col("vec_id"),
      rhpSignature(col("embedding"), bits, dim).as("sig"))
    // probe buckets: own signature + each 1-bit flip — ids only; a bad
    // vector's null signature probes nothing
    val probes = sig.select(col("vec_id").as("r_id"), explode(array(
      (col("sig") +: (0 until bits).map(b =>
        col("sig").bitwiseXOR(lit(1L << b)))): _*)).as("bucket"))
      .where(col("bucket").isNotNull)
    val left = sig.select(col("sig").as("bucket"), col("vec_id").as("l_id"))
    // `<=>` as in ivfCandidates: `===` would sign the left side twice
    val idPairs = left.join(probes, left("bucket") <=> probes("bucket"))
      .where(col("l_id") < col("r_id"))
      .select(col("l_id"), col("r_id"))
      .dropDuplicates("l_id", "r_id")
    val payload = emb.select(col("vec_id"), col("embedding"))
    idPairs
      .join(payload.toDF("l_id", "l_emb"), Seq("l_id"))
      .join(payload.toDF("r_id", "r_emb"), Seq("r_id"))
      // Marked non-deterministic only as a plan barrier: otherwise the
      // optimizer inlines `cos` into the floor and pushes that into the
      // r_emb join condition, a second cosine per candidate pair.
      .withColumn("cos", round(cosineUdf.asNondeterministic()(
        col("l_emb"), col("r_emb")), 6))
      .where(col("cos") >= cosFloor)
      .select(col("l_id"), col("r_id"), col("cos"))
  }
}
