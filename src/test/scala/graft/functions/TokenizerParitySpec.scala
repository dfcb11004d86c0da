package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins GraftFunctions.tokensJvm to the declarative `tokens` chain:
  * element-identical arrays on every input, including unicode, whitespace
  * variants, empties and null. Pins the word-gram kernel
  * GraftFunctions.wordGrams to the declarative n-gram chain it replaced. */
class TokenizerParitySpec extends SparkSuite {
  import spark.implicits._

  private val tokensUdf = udf(GraftFunctions.tokensJvm _)

  /** The previous declarative n-gram primitive (Decontaminate.wordNgrams),
    * verbatim: space-joined sliding n-grams, empty below n tokens. */
  private def declarativeWordNgrams(toks: Column, n: Int): Column =
    element_at(transform(array(toks), ts =>
      when(size(ts) >= n,
        transform(sequence(lit(1), size(ts) - (n - 1)),
          i => array_join(slice(ts, i, lit(n)), " ")))
        .otherwise(array().cast(ArrayType(StringType)))), 1)

  test("tokensUdf == tokens on diverse texts") {
    val texts = Seq(
      "The Quick BROWN fox 42 jumps!",
      "",
      "   ",
      "!!!---___",
      "Ünïcödé GRÖSSE straße İstanbul ΣΊΣΥΦΟΣ",
      "tab\tnewline\nand\r\nmixed 123abc456",
      "a",
      "trailing spaces   ",
      "   leading",
      "emoji 😀 between 🎉 tokens")
    val df = texts.toDF("text")
    val got = df.select(tokensUdf($"text").as("t"))
      .as[Seq[String]].collect().toSeq
    val want = df.select(GraftFunctions.tokens($"text").as("t"))
      .as[Seq[String]].collect().toSeq
    assert(got === want)
  }

  test("tokensUdf null propagation matches the column chain") {
    val df = Seq[Option[String]](None, Some("x y")).toDF("text")
    val got = df.select(tokensUdf($"text").as("t"))
      .collect().map(r => Option(r.get(0)))
    val want = df.select(GraftFunctions.tokens($"text").as("t"))
      .collect().map(r => Option(r.get(0)))
    assert(got.map(_.isDefined).toSeq === want.map(_.isDefined).toSeq)
  }

  test("tokensUdf == tokens on a generated fuzz corpus") {
    val rnd = new scala.util.Random(23)
    val chars = "abcXYZ019 .,!@#\t\nüÖß"
    val texts = (1 to 300).map { _ =>
      (0 until rnd.nextInt(60)).map(_ => chars(rnd.nextInt(chars.length)))
        .mkString
    }
    val df = texts.toDF("text")
    val got = df.select(tokensUdf($"text").as("t"))
      .as[Seq[String]].collect().toSeq
    val want = df.select(GraftFunctions.tokens($"text").as("t"))
      .as[Seq[String]].collect().toSeq
    assert(got === want)
  }

  test("wordGrams == the declarative n-gram chain, n = 1..4") {
    val texts = Seq[String](
      null,
      "",
      "!!! ???",                          // no tokens
      "one",                              // fewer than n for n >= 2
      "one two",
      "one two three",                    // exactly n at n = 3
      "One Two Three Four",               // exactly n at n = 4
      "a b a b a b a b",                  // repeated grams, kept
      "spam spam spam spam spam",
      "Ünïcödé GRÖSSE straße 12köln ΣΊΣΥΦΟΣ x1 y2",
      "tab\tnewline\nmixed 123abc456 and---dashes")
    val df = texts.toDF("text")
    for (n <- 1 to 4) {
      val kernel = udf((s: String) =>
        GraftFunctions.wordGrams(GraftFunctions.tokensJvm(s), n))
      val got = df.select(kernel($"text").as("g"))
        .as[Seq[String]].collect().toSeq
      val want = df.select(
          declarativeWordNgrams(GraftFunctions.tokens($"text"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      assert(got === want, s"n=$n")
    }
    assert(GraftFunctions.wordGrams(null, 2).isEmpty)
    assert(GraftFunctions.wordGrams(Array("a", "b", "a", "b"), 2).toSeq ===
      Seq("a b", "b a", "a b"))
  }
}
