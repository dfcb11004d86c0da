package graft.ops

import graft.SparkSuite
import graft.dedup.Dedup
import graft.ann.Ann
import graft.text.TextAnalysis
import graft.eval.Metrics
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  test("exact dedup groups and keepers") {
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "aaa"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(docs, $"text", $"doc_id").collect()
    assert(groups.length === 3)
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 3L).get
    assert(dupGroup.getAs[Long]("keeper") === 1L)
    val keepers = Dedup.exactKeepers(docs, $"text", $"doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(keepers === Array(1L, 2L, 4L))
  }

  test("minhash-LSH finds planted near-duplicates, skips distant pairs") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = base.replace("today", "tonight")
    val far = "completely different content about spark distributed queries and shuffles"
    val docs = Seq((1L, base), (2L, nearDup), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, $"doc_id", $"text",
      bands = 16, rowsPerBand = 2, jaccardFloor = 0.5)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("nearDupKeepers: transitive chain collapses to one keeper, singletons keep themselves") {
    // A~B and B~C but A!~C: pairwise-loser dropping would double-keep 1
    // and 3; component canonicalization must collapse all three to 1.
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("l_id", "r_id")
    val keepers = Dedup.nearDupKeepers(docs, $"doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(keepers === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("simhash: near texts within small hamming distance, far texts not") {
    val a = "spark catalyst optimizer pushes filters into parquet scans"
    val b = "spark catalyst optimizer pushes filters into parquet files"
    val c = "grapes bananas apples oranges pears melons kiwis plums"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .select($"doc_id", Dedup.simhash64($"text").as("sh")).collect()
    val m = df.map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
    // short texts flip several bits per token change; 20/64 is the
    // discriminative bound that separates near from far here
    assert(ham(m(1L), m(2L)) <= 20)
    assert(ham(m(1L), m(3L)) >= 20)
  }
}

class AnnSpec extends SparkSuite {
  import spark.implicits._

  private def emb(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(64)(r.nextGaussian().toFloat)
  }

  test("brute-force top-k: self-similar vectors rank first") {
    val v = emb(1)
    val vNear = v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val rows = Seq((0L, v), (1L, vNear)) ++ (2L to 40L).map(i => (i, emb(i.toInt)))
    val df = rows.toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(df, nQueries = 1, k = 3).collect()
    assert(top.head.getAs[Long]("neighbor_id") === 1L)
    assert(top.head.getAs[Double]("cos") > 0.999)
  }

  test("LSH near-dup recovers high-cosine pairs found by brute force") {
    val v = emb(5)
    val vNear = v.map(x => x * 1.001f)
    val rows = Seq((0L, v), (1L, vNear)) ++ (2L to 60L).map(i => (i, emb(i.toInt + 100)))
    val df = rows.toDF("vec_id", "embedding")
    val prs = Ann.cosineNearDupLsh(df, bits = 12, cosFloor = 0.95)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(prs.contains((0L, 1L)))
  }
}

class TextAnalysisSpec extends SparkSuite {
  import spark.implicits._

  test("token counts, quality counters, language guess") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "la casa de la playa el sol"),
      (3L, "xyzzy qwerty 123 !!!")).toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextAnalysis.tokenCount($"text").as("nt"),
      TextAnalysis.alphaCount($"text").as("na"),
      TextAnalysis.digitCount($"text").as("nd"),
      TextAnalysis.punctCount($"text").as("np"),
      TextAnalysis.langGuessSql($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("nt") === 8)
    assert(out(1L).getAs[String]("lang") === "en")
    assert(out(2L).getAs[String]("lang") === "es")
    assert(out(3L).getAs[String]("lang") === "unknown")
    assert(out(3L).getAs[Int]("nd") === 3)
    assert(out(3L).getAs[Int]("np") === 3)
  }

  test("winnowing: shared long substrings share fingerprints; disjoint texts don't") {
    val common = "the quick brown fox jumps over the lazy dog near the river"
    val a = "PREFIX A " + common + " SUFFIX ALPHA"
    val b = "OTHER START " + common + " DIFFERENT END"
    val c = "completely unrelated content about catalyst optimizer internals"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val fps = df.select($"id",
        TextAnalysis.winnowFingerprints($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee: substrings >= w+k-1 chars shared => overlap
    assert((fps(1L) intersect fps(2L)).size >= 5,
      s"expected shared fingerprints, got ${(fps(1L) intersect fps(2L)).size}")
    // overlap ratio with unrelated text stays low
    val noise = (fps(1L) intersect fps(3L)).size.toDouble / fps(1L).size
    assert(noise < 0.1, s"noise overlap $noise")
    // deterministic across partitionings
    val fps2 = df.repartition(3).select($"id",
        TextAnalysis.winnowFingerprints($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps2 === fps)
  }

  test("winnow containment join: contained doc scores ~1 vs its container") {
    val common = "the quick brown fox jumps over the lazy dog near the river bank"
    val container = "HEADER SECTION " + common + " FOOTER MATERIAL EXTRA TRAILING"
    val other = "completely unrelated corpus entry about catalyst and tungsten"
    val docs = Seq((1L, container), (2L, common), (3L, other))
      .toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowContainmentPairs(docs, $"doc_id", $"text",
        floor = 0.5, maxPostingsFrac = 1.0)
      .collect().map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id")) -> r)
      .toMap
    assert(pairs.keySet === Set((1L, 2L)))
    assert(pairs((1L, 2L)).getAs[Double]("containment") >= 0.7)
  }

  test("winnow boilerplate cap derives from the corpus and surfaces drops") {
    // 6 docs share one boilerplate sentence; two of them also share a
    // long distinctive passage. At maxPostingsFrac = 0.5 (cap = 3 of 6)
    // the boilerplate fingerprints (df ~ 6) are stoplisted — the
    // distinctive pair must still surface, the drops must be observable
    // in the pairs.
    val boiler = "all rights reserved contact us terms of service apply here"
    val unique = "distinctive shared passage about tungsten codegen stages"
    val docs = (
      Seq((1L, s"$unique $boiler"), (2L, s"$unique AND MORE $boiler")) ++
      (3L to 6L).map(i => (i, s"document number $i $boiler"))
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowContainmentPairs(
      docs, $"doc_id", $"text", floor = 0.3, maxPostingsFrac = 0.5)
    val got = pairs.select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)), s"got $got")
    // frac 1.0 disables the stoplist: boilerplate-only pairs reappear
    val allPairs = TextAnalysis.winnowContainmentPairs(
      docs, $"doc_id", $"text", floor = 0.3, maxPostingsFrac = 1.0)
    assert(allPairs.count() > pairs.count())
  }
}

class MetricsSpec extends SparkSuite {
  import spark.implicits._

  test("P/R/F1 reproduces the reference eval-log baseline (BASELINE.md)") {
    // WDC-computers best epoch: TP=242 FP=88 FN=57 TN=711 → F1 0.7695
    val rows =
      Seq.fill(242)((1, 1)) ++ Seq.fill(88)((0, 1)) ++
      Seq.fill(57)((1, 0)) ++ Seq.fill(711)((0, 0))
    val df = rows.toDF("gold", "pred")
    val m = Metrics.prf1(df).collect()(0)
    assert(m.getAs[Long]("tp") === 242L)
    assert(math.abs(m.getAs[Double]("precision") - 0.7333) < 5e-4)
    assert(math.abs(m.getAs[Double]("recall") - 0.8094) < 5e-4)
    assert(math.abs(m.getAs[Double]("f1") - 0.7695) < 5e-4)
  }

  test("result classification matches gold/pred combinations") {
    val df = Seq((1, 1), (0, 1), (1, 0), (0, 0)).toDF("gold", "pred")
      .withColumn("result", Metrics.resultClass(col("gold"), col("pred")))
    assert(df.select("result").as[String].collect().toSeq ===
      Seq("TP", "FP", "FN", "TN"))
  }
}
