package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.GraftFunctions
import graft.norm.Normalize
import graft.score.Similarity

/**
 * Property-based tests (SURVEY.md §5): ScalaCheck generators drive the
 * inputs; assertions run as ONE Spark job per property over the whole
 * generated batch (per-case Spark jobs would be pathologically slow).
 * Generation is seeded, so failures reproduce exactly.
 */
class PropertiesSpec extends SparkSuite {
  import spark.implicits._

  /** Deterministic sample of n values from a generator. */
  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  // Noisy web-title-ish strings: reference-like fragments + unicode junk.
  private val fragment = Gen.oneOf(
    "Acer Aspire 5", "intel core i7", "  SCAN UK ", "@Tweakers", "\"14\"\"\"",
    "HP-EliteBook 840-G5", "@en", "Black Friday", "16GB/512GB", "USD 1,299.00",
    "Hewlett Packard", "   ", "corp.", "co.", "CS2", "é-crème", "日本語", "&amp;")
  private val noisyTitle: Gen[String] =
    Gen.chooseNum(0, 6).flatMap(k => Gen.listOfN(k, fragment)).map(_.mkString(" "))
  private val junk: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr, Gen.listOfN(40, Gen.choose(32, 0x2FFF)).map(_.map(_.toChar).mkString),
    Gen.const(null.asInstanceOf[String]), Gen.const(""), Gen.const("\t  "))

  test("P: canonicalTitle is idempotent (f(f(x)) == f(x))") {
    val xs = sample(noisyTitle, 400, seed = 1L)
    val df = xs.toDF("x")
      .select(Normalize.canonicalTitle($"x").as("once"))
      .select($"once", Normalize.canonicalTitle($"once").as("twice"))
    val bad = df.where(not($"once" <=> $"twice")).collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("P: similarity measures are symmetric and land in [0,1]") {
    val pairs = sample(Gen.zip(noisyTitle, noisyTitle), 400, seed = 2L)
    val df = pairs.toDF("a", "b").select(
      Similarity.jaro_winkler($"a", $"b").as("jw_ab"),
      Similarity.jaro_winkler($"b", $"a").as("jw_ba"),
      Similarity.levenshteinRatio($"a", $"b").as("lr"),
      Similarity.jaccard(GraftFunctions.tokens($"a"), GraftFunctions.tokens($"b")).as("jac"),
      Similarity.jaccard(GraftFunctions.tokens($"b"), GraftFunctions.tokens($"a")).as("jac2"),
      Similarity.tokenCosine(GraftFunctions.tokens($"a"), GraftFunctions.tokens($"b")).as("cos"))
    val bad = df.where(
      not($"jw_ab" <=> $"jw_ba") || not($"jac" <=> $"jac2") ||
        $"jw_ab" < 0 || $"jw_ab" > 1 || $"lr" < 0 || $"lr" > 1 ||
        $"jac" < 0 || $"jac" > 1 || $"cos" < 0 || $"cos" > 1.0000001).collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("P: coercions are total on arbitrary junk under ANSI mode (never throw)") {
    val xs = sample(junk, 500, seed = 3L)
    val df = xs.toDF("x").select(
      GraftFunctions.priceParse($"x").as("price"),
      GraftFunctions.boolCoerce($"x").as("bool"),
      GraftFunctions.timeNormalize($"x").as("time"),
      GraftFunctions.dateNormalize($"x").as("date"),
      GraftFunctions.yearExtract($"x").as("year"),
      GraftFunctions.abvParse($"x").as("abv"),
      GraftFunctions.parseColValRobust($"x").as("colval"))
    assert(df.count() === xs.length) // full evaluation, no exception
  }

  test("P: COL/VAL render ∘ parse == cleaned map for well-formed lines") {
    val key = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)
    // canonical values: single-space-joined alphanumeric words (the robust
    // parser collapses runs of whitespace, so only canonical values can
    // round-trip exactly)
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(10).mkString)
      .suchThat(w => !w.contains("COL") && !w.contains("VAL"))
    val value = Gen.chooseNum(1, 6)
      .flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    val record = Gen.nonEmptyListOf(Gen.zip(key, value)).map(_.take(5).toMap)
    val recs = sample(record, 200, seed = 4L)
    val lines = recs.map(m =>
      m.map { case (k, v) => s"COL $k VAL $v" }.mkString(" "))
    val parsed = lines.toDF("line")
      .select(GraftFunctions.parseColValRobust($"line").as("m"))
      .collect().map(_.getMap[String, String](0).toMap)
    parsed.zip(recs).foreach { case (got, want) =>
      // robust parser lowercases keys and collapses whitespace — our
      // generated keys/values are already canonical, so equality is exact
      assert(got === want, s"parse mismatch: $got vs $want")
    }
  }

  test("P: F1 stays in [0,1] on random confusion tables") {
    val rows = sample(Gen.zip(Gen.oneOf(0, 1), Gen.oneOf(0, 1)), 300, seed = 5L)
    val df = rows.toDF("gold", "pred")
    val m = graft.eval.Metrics.prf1(df).collect()(0)
    Seq("precision", "recall", "f1").foreach { c =>
      val v = m.getAs[Double](c)
      assert(v >= 0.0 && v <= 1.0, s"$c=$v")
    }
  }

  test("P: one-pass threshold sweep == per-threshold prf1 on random logs") {
    // the sweep's explode+groupBy must be a pure refactoring of running
    // prf1 once per threshold with pred := prob >= t — exact equality of
    // every count and derived metric, including degenerate logs (all one
    // class, probs exactly on grid points)
    val probs = Gen.oneOf(Gen.chooseNum(0.0, 1.0),
      Gen.oneOf(0.0, 0.25, 0.5, 0.75, 1.0)) // mass exactly ON thresholds
    val rows = sample(Gen.zip(Gen.oneOf(0, 1), probs), 300, seed = 6L)
    val grid = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val log = rows.toDF("gold", "probability")
    val sweep = graft.eval.Metrics.prAtThresholds(log, grid)
      .collect().map(r => r.getAs[Double]("threshold") -> r).toMap
    grid.foreach { th =>
      val direct = graft.eval.Metrics.prf1(
        log.withColumn("pred", ($"probability" >= th).cast("int"))).collect()(0)
      val got = sweep(th)
      for (c <- Seq("tp", "fp", "fn", "tn"))
        assert(got.getAs[Long](c) === direct.getAs[Long](c), s"$c at $th")
      for (c <- Seq("precision", "recall", "f1"))
        assert(got.getAs[Double](c) === direct.getAs[Double](c), s"$c at $th")
    }
  }

  test("P: packSequences tiles every doc exactly on random corpora") {
    import org.apache.spark.sql.functions._
    // random ids (sparse, unordered; UNIQUE — packing's documented key
    // contract; chooseNum is edge-biased so plain distinct leaves dup ids)
    // × random token counts incl. zeros/negatives
    val rows = sample(Gen.zip(Gen.chooseNum(0L, 1000000L),
      Gen.chooseNum(-3L, 700L)), 400, seed = 7L).distinctBy(_._1)
    val docs = rows.toDF("doc_id", "n")
    for ((seqLen, shards) <- Seq((64, 1), (128, 5), (1000, 16))) {
      val packed = graft.ops.Packing.packSequences(
        docs, $"doc_id", $"n", seqLen, shards)
      // per-doc coverage == n for every doc with n > 0; spans in-bounds
      val per = packed.groupBy($"k").agg(
        min($"tok_begin").as("mn"), max($"tok_end").as("mx"),
        sum($"tok_end" - $"tok_begin").as("cov"),
        min($"tok_end" - $"tok_begin").as("minspan"))
        .join(docs.withColumnRenamed("doc_id", "k"), "k")
      val bad = per.where($"mn" =!= 0L || $"mx" =!= $"n" ||
        $"cov" =!= $"n" || $"minspan" <= 0L).collect()
      assert(bad.isEmpty, s"seqLen=$seqLen shards=$shards: ${bad.take(3).mkString(";")}")
      assert(per.count() === rows.count(_._2 > 0).toLong)
      // every non-final sequence per shard is exactly full
      val lastSeq = packed.groupBy($"shard").agg(max($"seq_id").as("last"))
      val unfull = packed.groupBy($"shard", $"seq_id")
        .agg(sum($"tok_end" - $"tok_begin").as("filled"))
        .join(lastSeq, "shard")
        .where($"seq_id" =!= $"last" && $"filled" =!= seqLen.toLong).collect()
      assert(unfull.isEmpty, s"seqLen=$seqLen shards=$shards: ${unfull.take(3).mkString(";")}")
    }
  }

  test("P: fixed-point PageRank matches the driver reference on random digraphs") {
    // random graphs WITH dangling nodes, sinks, and disconnected parts —
    // much nastier than the LinkGen fixture
    val edges = sample(Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0L, 40L)),
      150, seed = 8L).filter { case (s, d) => s != d }.distinct
    val df = edges.toDF("src", "dst")
    def ranks = graft.graph.PageRank.run(spark, df, iters = 7)
      .as[(Long, Long)].collect().toMap
    // the driver path, then the distributed rounds
    val got = ranks
    val rounds = withNoBroadcast(ranks)
    // driver-side reference: identical integer recurrence, plain Scala
    val odeg = edges.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val tp = (15L * graft.graph.PageRank.UNIT / 100L) / n
    var r = nodes.map(_ -> graft.graph.PageRank.UNIT / n).toMap
    for (_ <- 1 to 7) {
      val recv = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, d) <- edges) recv(d) += (85L * r(s)) / (100L * odeg(s))
      r = nodes.map(id => id -> (tp + recv(id))).toMap
    }
    assert(got === r)
    assert(rounds === r)
  }

  test("P: TopK.perKey == naive window on random skewed data with null keys") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val keyGen = Gen.frequency(
      5 -> Gen.const("mega"),                    // the hot host
      3 -> Gen.oneOf("a", "b", "c", "d"),
      1 -> Gen.const(null.asInstanceOf[String])) // unparsed host
    val rows = sample(Gen.zip(keyGen, Gen.chooseNum(0L, 50L)), 500, seed = 9L)
      .zipWithIndex.map { case ((k, s), i) => (i.toLong, k, s) }
    val df = rows.toDF("id", "host", "score")
    for (k <- Seq(1, 7, 40)) {
      val got = graft.ops.TopK.perKey(df, $"host",
        Seq($"score".desc, $"id".asc), k).select("id").as[Long].collect().sorted
      val want = df.withColumn("rn", row_number().over(
          Window.partitionBy($"host").orderBy($"score".desc, $"id".asc)))
        .where($"rn" <= k).select("id").as[Long].collect().sorted
      assert(got.toSeq === want.toSeq, s"k=$k")
    }
  }

  test("P: EmbGen fixture is deterministic at any parallelism") {
    val a = graft.gen.EmbGen.embeddings(spark)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = graft.gen.EmbGen.embeddings(spark).repartition(13)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a === b)
    assert(a.size === 192 + 32 + 16)
  }
}
