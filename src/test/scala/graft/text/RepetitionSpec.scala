package graft.text

import graft.SparkSuite
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class RepetitionSpec extends SparkSuite {
  import spark.implicits._

  private val cols = Seq("n_tokens", "n_distinct_tokens",
    "top1_count", "top2_count", "top3_count")

  private def sig(rows: Seq[(Long, String)]): Map[Long, Seq[Long]] =
    Repetition.signals(rows.toDF("doc_id", "text"), $"doc_id", $"text")
      .select(col("doc_id") +: cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5, r._6)).toMap

  /** The previous declarative `signals`, verbatim: the gram stream was
    * `concat(tokens, 2-grams, 3-grams)` built by transform/slice lambdas
    * over the declarative tokenizer, bound once via a lambda variable. */
  private def declarativeSignals(df: DataFrame, docId: Column,
      text: Column): DataFrame = {
    def wordNgrams(toks: Column, n: Int): Column =
      element_at(transform(array(toks), ts =>
        when(size(ts) >= n,
          transform(sequence(lit(1), size(ts) - (n - 1)),
            i => array_join(slice(ts, i, lit(n)), " ")))
          .otherwise(array().cast(ArrayType(StringType)))), 1)
    val grams = df.select(docId.as("doc_id"),
      explode(element_at(transform(array(GraftFunctions.tokens(text)),
        ts => concat(ts, wordNgrams(ts, 2), wordNgrams(ts, 3))), 1)).as("gram"))
    val counted = grams
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", size(split(col("gram"), " ", -1)))
    val z = lit(0L)
    val agg = counted.groupBy(col("doc_id")).agg(
      coalesce(sum(when(col("n") === 1, col("cnt"))), z).as("n_tokens"),
      coalesce(count(when(col("n") === 1, lit(1))), z)
        .as("n_distinct_tokens"),
      coalesce(max(when(col("n") === 1, col("cnt"))), z).as("top1_count"),
      coalesce(max(when(col("n") === 2, col("cnt"))), z).as("top2_count"),
      coalesce(max(when(col("n") === 3, col("cnt"))), z).as("top3_count"))
    df.select(docId.as("doc_id")).join(agg, Seq("doc_id"), "left")
      .na.fill(0L, cols)
  }

  private val handDocs = Seq(
    // "spam spam spam ham": top1=3(spam), top2=2("spam spam"),
    // top3=1 — 4 tokens, 2 distinct
    (0L, "spam spam spam ham"),
    // all-distinct: every top count is 1
    (1L, "a b c d e"),
    // pathological two-token doc: no trigram at all -> 0
    (2L, "x y"),
    // pure repetition: "z z z z z z" top3 = 4 ("z z z" at 4 offsets)
    (3L, "z z z z z z"),
    // token-less under this tokenizer (non-Latin / punctuation): one
    // all-zero row, NOT a vanished doc
    (4L, "!!! ???"),
    (5L, "中文文本没有拉丁字符"))

  test("signals on hand-computed documents") {
    val out = sig(handDocs)
    assert(out(0L) === Seq(4L, 2L, 3L, 2L, 1L))
    assert(out(1L) === Seq(5L, 5L, 1L, 1L, 1L))
    assert(out(2L) === Seq(2L, 2L, 1L, 1L, 0L))
    assert(out(3L) === Seq(6L, 1L, 6L, 5L, 4L))
    assert(out(4L) === Seq(0L, 0L, 0L, 0L, 0L))
    assert(out(5L) === Seq(0L, 0L, 0L, 0L, 0L))
  }

  test("kernel-built signals == the declarative chain") {
    val rnd = new scala.util.Random(29)
    val vocab = Vector("buy", "NOW", "now", "spam", "ham", "x1", "Ünï",
      "straße", "!!!", "a-b", "42")
    val generated = (0L until 200L).map { i =>
      val text = if (i % 50 == 7) null
        else (0 until rnd.nextInt(16))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (1000L + i, text)
    }
    for (docs <- Seq(handDocs, generated)) {
      val df = docs.toDF("doc_id", "text")
      val got = Repetition.signals(df, $"doc_id", $"text")
        .select(col("doc_id") +: cols.map(col): _*).orderBy("doc_id").collect()
      val want = declarativeSignals(df, $"doc_id", $"text")
        .select(col("doc_id") +: cols.map(col): _*).orderBy("doc_id").collect()
      assert(got.toSeq === want.toSeq && got.length === docs.size)
    }
  }

  test("signals are repartition-invariant") {
    val df = (0L until 500L).map(i =>
      (i, (0 until 20).map(j => s"t${(i + j * j) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    val a = Repetition.signals(df, $"doc_id", $"text")
      .orderBy("doc_id").collect().toSeq
    val b = Repetition.signals(df.repartition(17), $"doc_id", $"text")
      .orderBy("doc_id").collect().toSeq
    assert(a === b && a.size === 500)
  }

  test("repetitionScore flags the degenerate doc, passes the clean one") {
    val df = Seq((0L, "buy now buy now buy now buy now"),
                 (1L, "a quiet unique sentence with many different words"))
      .toDF("doc_id", "text")
    val s = Repetition.repetitionScore(
        Repetition.signals(df, $"doc_id", $"text"))
      .select($"doc_id", $"rep_score").as[(Long, Double)].collect().toMap
    assert(s(0L) > 0.9)   // "buy now" covers the whole doc
    assert(s(1L) <= 3.0 / 8.0 + 1e-9)
  }

  test("plan: gram counts partially aggregate before the exchange") {
    val df = Seq((0L, "a b c a b")).toDF("doc_id", "text")
    val plan = Repetition.signals(df, $"doc_id", $"text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      plan)
  }
}
