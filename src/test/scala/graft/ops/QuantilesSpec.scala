package graft.ops

import graft.SparkSuite

class QuantilesSpec extends SparkSuite {
  import spark.implicits._

  test("exactDisc: nearest-rank values on a known distribution") {
    // group a: 1..100 -> p-quantile = floor(99p)+1; group b: constant
    val df = ((1 to 100).map(i => ("a", i.toLong)) ++
      (1 to 10).map(_ => ("b", 7L))).toDF("g", "v")
    val out = Quantiles.exactDisc(df, $"g", $"v", Seq(0.0, 0.5, 0.9, 1.0))
      .as[(String, Double, Long)].collect()
      .map { case (g, p, q) => (g, p) -> q }.toMap
    assert(out(("a", 0.0)) === 1L)
    assert(out(("a", 0.5)) === 50L)   // floor(99*0.5)=49 -> index 49 -> 50
    assert(out(("a", 0.9)) === 90L)   // floor(89.1)=89 -> 90
    assert(out(("a", 1.0)) === 100L)
    assert(Seq(0.0, 0.5, 0.9, 1.0).forall(p => out(("b", p)) === 7L))
  }

  test("exactDisc resolves caller column names that differ from g/v") {
    // regression: the window partition key must bind to the renamed "g",
    // not the caller's original column (which no longer exists post-select)
    val df = (1 to 20).map(i => (s"L${i % 2}", i.toLong)).toDF("lang", "n_chars")
    val out = Quantiles.exactDisc(df, $"lang", $"n_chars", Seq(0.5))
      .as[(String, Double, Long)].collect()
    assert(out.length === 2)
    assert(out.map(_._1).toSet === Set("L0", "L1"))
  }

  test("exactDisc is repartition-invariant and emits |groups|*|ps| rows") {
    val df = (0 until 5000).map(i => (s"g${i % 3}", (i * 37 % 1000).toLong))
      .toDF("g", "v")
    val a = Quantiles.exactDisc(df, $"g", $"v", Seq(0.25, 0.5, 0.75))
      .orderBy("g", "p").collect().toSeq
    val b = Quantiles.exactDisc(df.repartition(13), $"g", $"v", Seq(0.25, 0.5, 0.75))
      .orderBy("g", "p").collect().toSeq
    assert(a === b)
    assert(a.size === 9)
  }
}
