package graft.ann

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** RHP-LSH near-dup recall, cross-checked against brute force on a fixture
  * with PLANTED near-duplicates (the driver's embeddings.parquet fixture
  * contains none — max pairwise cosine ≈ 0.51 — so the query-level 0-row
  * result is a true negative; this spec proves the operator finds pairs
  * when they exist). */
class AnnSpec extends SparkSuite {
  import spark.implicits._

  private def fixture(n: Int, dim: Int) = {
    val rnd = new scala.util.Random(42)
    val base = (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }
    // one near-duplicate per base vector: tiny relative perturbation
    val dups = base.map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  test("LSH near-dup pairs: recall >= 0.9 vs brute-force truth, precision 1.0") {
    val emb = fixture(50, 32)
    val floor = 0.95
    // brute-force truth (small n): all pairs above the cosine floor
    val l = emb.select($"vec_id".as("l_id"), $"embedding".as("l_emb"))
    val r = emb.select($"vec_id".as("r_id"), $"embedding".as("r_emb"))
    val truth = l.join(r, $"l_id" < $"r_id")
      .withColumn("cos", Ann.cosine($"l_emb", $"r_emb"))
      .where($"cos" >= floor)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(truth.size >= 40, s"fixture must plant near-dups, got ${truth.size}")

    val found = Ann.cosineNearDupLsh(emb, bits = 8, cosFloor = floor)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // precision 1.0 by construction (exact-cosine verify step)
    assert(found.subsetOf(truth), s"false positives: ${found.diff(truth)}")
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${found.size}/${truth.size})")
  }

  test("EmbGen fixture: LSH at driver-query parameters = exact truth, nonzero") {
    // the emb_neardup_lsh oracle depends on this exhaustively: at
    // (bits=12, floor=0.9, multi-probe hamming-1) LSH candidate pruning
    // must lose NOTHING on the planted fixture — pairs == brute force
    val emb = graft.gen.EmbGen.embeddings(spark)
    val l = emb.select($"vec_id".as("l_id"), $"embedding".as("l_emb"))
    val r = emb.select($"vec_id".as("r_id"), $"embedding".as("r_emb"))
    val truth = l.join(r, $"l_id" < $"r_id")
      .withColumn("cos", Ann.cosine($"l_emb", $"r_emb"))
      .where($"cos" >= 0.9)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // every planted near-dup (and nothing else) is above the floor:
    // (base i = 1000000+i, near twin = 1100000+i)
    assert(truth === (0 until 32).map(i =>
      (1000000L + i, 1100000L + i)).toSet)
    val found = Ann.cosineNearDupLsh(emb, bits = 12, cosFloor = 0.9)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(found === truth)
    // far-perturbed rows sit well below the floor — sub-floor reject path
    val farMax = l.join(r, $"l_id" + 200000L === $"r_id")
      .withColumn("cos", Ann.cosine($"l_emb", $"r_emb"))
      .agg(max($"cos")).head().getDouble(0)
    assert(farMax < 0.8, s"epsFar population too similar: $farMax")
  }

  test("IVF top-k: high recall vs brute force; full-probe equals exact") {
    val emb = fixture(40, 32)
    val truth = Ann.bruteForceTopK(emb, nQueries = 6, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // probing every list must reproduce brute force exactly
    val full = Ann.ivfTopK(emb, nQueries = 6, k = 3, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === truth)
    // partial probes: approximate but high-recall on this fixture
    val part = Ann.ivfTopK(emb, nQueries = 6, k = 3, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (part intersect truth).size.toDouble / truth.size
    assert(recall >= 0.7, s"ivf recall $recall")
  }

  test("near-dup bucket join shuffles slim id rows, never embeddings") {
    // AQE off so the compiled plan's exchanges are directly inspectable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = fixture(50, 32)
      val out = Ann.cosineNearDupLsh(emb, bits = 8, cosFloor = 0.95)
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val shuffles = out.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s.output.map(_.name)
      }
      assert(shuffles.nonEmpty)
      shuffles.foreach { cols =>
        val carriesEmb = cols.exists(_.toLowerCase.contains("emb"))
        // the bucket join + pair dedup must be embedding-free; the only
        // exchanges allowed to carry an embedding are the two slim
        // (id, embedding) payload re-attach sides
        assert(!carriesEmb || cols.size <= 2,
          s"embedding array in a wide shuffle: $cols")
        assert(!(cols.contains("bucket") && carriesEmb),
          s"embedding shuffled through the bucket join: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("IVF quantizer survives content-correlated id order") {
    // 4 well-separated content clusters with ids assigned CLUSTER-MAJOR:
    // the lowest vec_ids all live in cluster 0 — exactly the corpus shape
    // (timestamp/shard-sorted ids) where lowest-vec_id seeding degenerates.
    // Hash-spread seeding must keep partial-probe recall high anyway.
    val rnd = new scala.util.Random(3)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat * 5f))
    val rows = for (c <- 0 until 4; i <- 0 until 12) yield
      ((c * 12 + i).toLong,
        centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    val emb = rows.toDF("vec_id", "embedding")
    val truth = Ann.bruteForceTopK(emb, nQueries = 8, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val part = Ann.ivfTopK(emb, nQueries = 8, k = 3, nlist = 4, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (part intersect truth).size.toDouble / truth.size
    assert(recall >= 0.7, s"ivf recall $recall under content-correlated ids")
  }

  test("IVF probe stats expose per-query candidate counts") {
    val emb = fixture(30, 16)   // 60 vectors incl. planted dups
    val queryIds = emb.orderBy($"vec_id").limit(5)
      .select($"vec_id".as("query_id"))
    val stats = Ann.ivfProbeStats(
      Ann.ivfCandidates(emb, nQueries = 5, nlist = 8, nprobe = 8), queryIds)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_candidates"))
      .toMap
    assert(stats.size === 5)
    // full probe ⇒ every query sees the whole corpus minus itself
    stats.foreach { case (q, n) => assert(n === 59L, s"query $q saw $n") }
    // the fully-degenerate case must SURFACE as an explicit zero row, not
    // vanish: a query id with no candidates at all
    val ghost = Seq(-1L).toDF("query_id")
    val z = Ann.ivfProbeStats(
      Ann.ivfCandidates(emb, nQueries = 5, nlist = 8, nprobe = 8),
      queryIds.union(ghost))
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_candidates"))
      .toMap
    assert(z(-1L) === 0L)
  }

  test("kmeansAssign: declarative twin matches nearestList; zero shuffle") {
    val emb = fixture(60, 32)
    val cents = Ann.trainIvfCentroids(emb, nlist = 6)
    val a = Ann.kmeansAssign(emb, cents)
      .select($"vec_id", $"topic").as[(Long, Long)].collect().toMap
    val b = emb.select($"vec_id",
        Ann.nearestList($"embedding", cents).cast("long").as("topic"))
      .as[(Long, Long)].collect().toMap
    assert(a === b)
    assert(a.size === 120) // every vector assigned exactly once
    assert(a.values.toSet.size > 1, "degenerate single-topic clustering")
    val plan = Ann.kmeansAssign(emb, cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("kmeansAssign: non-finite dots pass through as in the declarative twin") {
    val cents = Array(Array(1.0, 0.5), Array(0.5, 1.0), Array(-1.0, -1.0))
    val emb = Seq(
      (1L, Array(Float.NaN, 1f)),                            // all dots NaN
      (2L, Array(Float.PositiveInfinity, 1f)),               // Inf, Inf, -Inf
      (3L, Array(Float.NegativeInfinity, 1f)),               // -Inf, -Inf, Inf
      (4L, Array(Float.PositiveInfinity, Float.NegativeInfinity)), // NaN
      (5L, Array(1f, 2f)))                                   // finite control
      .toDF("vec_id", "embedding")
    // the formulation kmeansAssign replaced: per-centroid left-fold dot,
    // Spark round, first maximum under Spark's NaN-largest ordering
    val dots = cents.map { c =>
      s"round(aggregate(zip_with(embedding, array(${c.mkString("D, ")}D), " +
        "(a, b) -> a * b), 0D, (acc, x) -> acc + x), 6)"
    }.mkString("array(", ", ", ")")
    val twin = emb.selectExpr("vec_id", s"$dots as d").selectExpr("vec_id",
      "cast(array_position(d, array_max(d)) - 1 as long) as topic",
      "array_max(d) as dot")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("vec_id")
      .as[(Long, Long, Double)].collect().toSeq
      .map { case (id, t, d) => (id, t, d.toString) }
    val got = rows(Ann.kmeansAssign(emb, cents))
    assert(got === rows(twin))
    assert(got.map(_._3) ===
      Seq("NaN", "Infinity", "Infinity", "NaN", "2.5"))
  }

  test("signature is deterministic across partitionings") {
    val emb = fixture(20, 16)
    def sigs(parts: Int) = Ann.rhpSignature($"embedding", 10, 16)
    val a = emb.repartition(1).select($"vec_id", sigs(1).as("s"))
      .as[(Long, Long)].collect().toMap
    val b = emb.repartition(7).select($"vec_id", sigs(7).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("cosine keeps array<double> inputs in double; float inputs widen exactly") {
    // double cosine 0.71343449653, 3.5e-9 below the 6-dp rounding
    // boundary 0.7134345; narrowing the inputs to float moves it to
    // 0.71343450631, across the boundary (0.713435)
    val d = Seq((Seq(1.0, 0.414), Seq(0.425, 1.0))).toDF("a", "b")
    assert(d.schema("a").dataType === ArrayType(DoubleType, false))
    assert(d.select(round(Ann.cosine($"a", $"b"), 6)).as[Double].head() ===
      0.713434)
    // array<float>: the same double fold over the widened elements
    val (fa, fb) = (Seq(1.0f, 0.414f), Seq(0.425f, 1.0f))
    def fold(a: Seq[Double], b: Seq[Double]) = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val f = Seq((fa, fb)).toDF("a", "b")
    assert(f.select(Ann.cosine($"a", $"b")).as[Double].head() ===
      fold(fa.map(_.toDouble), fb.map(_.toDouble)))
  }

  test("IVF, k-means and RHP paths read array<double> like the same floats") {
    // every float widens to double exactly, so the double column carries
    // the same values and each path must give the same answer
    val f = fixture(40, 32)
    val d = f.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    def topK(emb: org.apache.spark.sql.DataFrame) =
      Ann.ivfTopK(emb, nQueries = 6, k = 3, nlist = 8, nprobe = 3)
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(topK(d) === topK(f))
    val cents = Ann.trainIvfCentroids(f, nlist = 6)
    assert(Ann.trainIvfCentroids(d, nlist = 6).map(_.toSeq).toSeq ===
      cents.map(_.toSeq).toSeq)
    def perRow(emb: org.apache.spark.sql.DataFrame) = {
      val k = Ann.kmeansAssign(emb, cents)
        .as[(Long, Long, Double)].collect().toSet
      val rows = emb.select($"vec_id",
          Ann.nearestList($"embedding", cents).cast("long"),
          Ann.rhpSignature($"embedding", 10, 32))
        .as[(Long, Long, Long)].collect().toSet
      (k, rows)
    }
    assert(perRow(d) === perRow(f))
  }

  test("one bad-vector contract across every embedding path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = 3
    def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    // (input, bad: null / null element / wrong length, cosine against
    // (1, 2, 3) as a string or null); NaN, Inf and zero are values
    val table: Seq[(String, Seq[java.lang.Double], Boolean, String)] = Seq(
      ("null", null, true, null),
      ("null element", v(1.0, null, 0.5), true, null),
      ("short", v(1.0, 0.5), true, null),
      ("long", v(1.0, 0.5, 0.25, 2.0), true, null),
      ("NaN", v(Double.NaN, 0.5, 0.25), false, "NaN"),
      ("+Inf", v(Double.PositiveInfinity, 0.5, 0.25), false, "NaN"),
      ("zero", v(0.0, 0.0, 0.0), false, "0.0"))
    // the edge rows take ids that are not IVF seeds (lowest xxhash64)
    val nlist = 3
    val ids = 0L until 40L + table.size
    val seedIds = ids.toDF("vec_id").orderBy(xxhash64($"vec_id"), $"vec_id")
      .limit(nlist).as[Long].collect().toSet
    val edgeIds = ids.filterNot(seedIds).take(table.size)
    val rnd = new scala.util.Random(5)
    val rows = ids.map { id =>
      edgeIds.indexOf(id) match {
        case -1 => Row(id, null, Seq.fill(dim)(rnd.nextGaussian()))
        case i => Row(id, table(i)._1, table(i)._2)
      }
    }
    val emb = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType, false),
        StructField("label", StringType),
        StructField("embedding", ArrayType(DoubleType, true)))))
    val badIds = edgeIds.zip(table).collect { case (id, t) if t._3 => id }.toSet

    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val got = emb.select($"vec_id", $"label",
        Ann.cosine($"embedding", typedLit(Seq(1.0, 2.0, 3.0)))
          .cast("string").as("cos"),
        Ann.nearestList($"embedding", cents).as("list"),
        Ann.rhpSignature($"embedding", 8, dim).as("sig"))
      .join(Ann.kmeansAssign(emb, cents), Seq("vec_id"))
      .where($"label".isNotNull).collect()
      .map(r => r.getAs[String]("label") -> r).toMap
    table.foreach { case (label, _, bad, cos) =>
      val r = got(label)
      assert(r.getAs[String]("cos") === cos, label)
      val outs = Seq("list", "sig", "topic", "dot")
      val nulls = outs.filter(c => r.isNullAt(r.fieldIndex(c)))
      if (bad) assert(nulls === outs, label)
      else {
        assert(nulls.isEmpty, label)
        assert(r.getAs[Long]("list") === r.getAs[Long]("topic"), label)
      }
    }

    // IVF: a bad corpus row is never a candidate, a bad query gets no
    // rows, and every other query still gets its full-probe top-k
    val cands = Ann.ivfCandidates(emb, nQueries = ids.size, nlist = nlist,
      nprobe = nlist).select("query_id", "vec_id").as[(Long, Long)].collect()
    val top = Ann.ivfTopK(emb, nQueries = ids.size, k = 3, nlist = nlist,
      nprobe = nlist).select("query_id", "neighbor_id").as[(Long, Long)].collect()
    Seq(cands, top).foreach { pairs =>
      assert(pairs.forall { case (q, n) => !badIds(q) && !badIds(n) })
      assert(pairs.map(_._1).toSet === ids.toSet -- badIds)
    }
    // training leaves bad rows out of the Lloyd means ...
    val good = emb.where($"label".isNull)
    def trained(df: org.apache.spark.sql.DataFrame) =
      Ann.trainIvfCentroids(df, nlist).map(_.toSeq).toSeq
    assert(trained(good.union(emb.where($"vec_id".isin(badIds.toSeq: _*)))) ===
      trained(good))
    // ... and fails by name on a bad seed
    table.filter(_._3).foreach { case (label, vec, _, _) =>
      val seeds = spark.createDataFrame(java.util.Arrays.asList(
          Row(0L, null, Seq[java.lang.Double](1.0, 2.0, 3.0)), Row(1L, null, vec)),
        emb.schema)
      val e = intercept[IllegalArgumentException](
        Ann.trainIvfCentroids(seeds, nlist = 2))
      assert(e.getMessage.contains("a seed vector"), label)
    }
  }
}
