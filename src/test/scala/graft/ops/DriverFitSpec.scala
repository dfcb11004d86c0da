package graft.ops

import graft.SparkSuite

class DriverFitSpec extends SparkSuite {
  import spark.implicits._

  test("the row bound is the broadcast threshold over the UnsafeRow width") {
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "odeg")
    // 3 longs + one null-bitmap word = 32 bytes a row
    assert(DriverFit.rows(edges) === 10L * 1024 * 1024 / 32)
    withBroadcastThreshold("100")(assert(DriverFit.rows(edges) === 3L))
    // broadcast off: nothing fits, not even an empty table
    for (off <- Seq("0", "-1"))
      withBroadcastThreshold(off)(assert(DriverFit.rows(edges) === -1L))
    val e = intercept[IllegalArgumentException](
      DriverFit.rows(Seq((1L, "a")).toDF("id", "s")))
    assert(e.getMessage.contains("wider than 8 bytes"))
  }

  test("driver kit: long columns, sorted distinct node ids, pair relation") {
    val Array(a, b) = DriverFit.collectLongs(
      Seq((5L, 3L), (3L, 9L), (5L, 9L)).toDF("u", "v"))
    assert(DriverFit.nodeIds(a, b).toSeq === Seq(3L, 5L, 9L))
    assert(DriverFit.nodeIds(Array.empty, Array.empty).isEmpty)
    val df = DriverFit.longPairs(spark, "id", "x", Array(1L, 2L), Array(7L, 8L))
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("id", "long"), ("x", "long")))
    assert(df.as[(Long, Long)].collect().toSeq === Seq((1L, 7L), (2L, 8L)))
  }
}
