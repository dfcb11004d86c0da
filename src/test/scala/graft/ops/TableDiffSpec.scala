package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

class TableDiffSpec extends SparkSuite {
  import spark.implicits._

  private lazy val oldSnap = Seq(
    (1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, null.asInstanceOf[String]))
    .toDF("id", "text")
  private lazy val newSnap = Seq(
    (1L, "alpha"),            // unchanged
    (2L, "beta prime"),       // changed
    (4L, null.asInstanceOf[String]), // unchanged (null == null, null-safe)
    (5L, "delta"))            // added; 3 deleted
    .toDF("id", "text")

  test("added / deleted / changed classified; unchanged dropped by default") {
    val got = TableDiff.diffByKey(oldSnap, newSnap, $"id", $"text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "changed", 3L -> "deleted", 5L -> "added"))
  }

  test("null payloads compare null-safely, not as wildcards") {
    val withNullChange = TableDiff.diffByKey(
      oldSnap, newSnap.withColumn("text",
        when($"id" === 4L, lit("now set")).otherwise($"text")),
      $"id", $"text").as[(Long, String)].collect().toMap
    assert(withNullChange(4L) === "changed")
  }

  test("fingerprint diff agrees with payload diff") {
    val a = TableDiff.diffByKey(oldSnap, newSnap, $"id", md5($"text"))
      .as[(Long, String)].collect().toSet
    val b = TableDiff.diffByKey(oldSnap, newSnap, $"id", $"text")
      .as[(Long, String)].collect().toSet
    assert(a === b)
  }
}
