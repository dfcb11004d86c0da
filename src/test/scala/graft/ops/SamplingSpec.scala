package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val keys = (0L until 10000L).toDF("id")

  /** The flat sample: one stratum, no listed rates. */
  private def sample(df: DataFrame, fraction: Double): DataFrame =
    Sampling.stratifiedSampleByKey(df, lit(""), $"id", Nil, fraction)

  test("sampleByKey: deterministic, repartition-invariant, no shuffle") {
    val a = sample(keys, 0.3).select("id").collect().map(_.getLong(0)).toSet
    val b = sample(keys.repartition(17), 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    // uniform hash: observed rate within 2 percentage points at n=10k
    assert(math.abs(a.size / 10000.0 - 0.3) < 0.02, s"rate ${a.size / 10000.0}")
    val plan = sample(keys, 0.3).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must be a narrow filter:\n$plan")
  }

  test("consistent across tables: sample of a superset agrees on shared keys") {
    val subset = keys.where($"id" < 4000L)
    val fromAll = sample(keys, 0.25)
      .where($"id" < 4000L).collect().map(_.getLong(0)).toSet
    val fromSub = sample(subset, 0.25).collect().map(_.getLong(0)).toSet
    assert(fromAll === fromSub)
  }

  test("nested rates: a 10% sample is a subset of the 30% sample (same keys)") {
    val p10 = sample(keys, 0.1).collect().map(_.getLong(0)).toSet
    val p30 = sample(keys, 0.3).collect().map(_.getLong(0)).toSet
    assert(p10.subsetOf(p30))
  }

  test("stratified: per-stratum rates honored, unlisted strata take the default") {
    val rows = (0L until 9000L).map(i => (i, Seq("en", "de", "xx")(((i % 3)).toInt)))
      .toDF("id", "lang")
    val out = Sampling.stratifiedSampleByKey(rows, $"lang", $"id",
      Seq("en" -> 0.5, "de" -> 0.2), defaultRate = 0.05)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    def rate(l: String) = out.getOrElse(l, 0L) / 3000.0
    assert(math.abs(rate("en") - 0.5) < 0.04, s"en ${rate("en")}")
    assert(math.abs(rate("de") - 0.2) < 0.04, s"de ${rate("de")}")
    assert(math.abs(rate("xx") - 0.05) < 0.03, s"xx ${rate("xx")}")
    // stratum membership within one stratum must equal the flat hash
    // threshold at that stratum's rate — strata only pick the threshold,
    // never the hash
    val enOnly = rows.where($"lang" === "en" && Sampling.hashUnit($"id") < 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val enStrat = Sampling.stratifiedSampleByKey(rows, $"lang", $"id",
      Seq("en" -> 0.5, "de" -> 0.2), 0.05)
      .where($"lang" === "en").select("id").collect().map(_.getLong(0)).toSet
    assert(enOnly === enStrat)
  }
}
