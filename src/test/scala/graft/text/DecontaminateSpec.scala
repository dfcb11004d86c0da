package graft.text

import graft.SparkSuite
import graft.functions.GraftFunctions

class DecontaminateSpec extends SparkSuite {
  import spark.implicits._

  test("wordGrams: counts, content, and short-doc guard") {
    val toks = Array("a", "b", "c", "d")
    assert(GraftFunctions.wordGrams(toks, 2).toSeq === Seq("a b", "b c", "c d"))
    // fewer tokens than n -> empty, NOT a descending-sequence artifact
    assert(GraftFunctions.wordGrams(toks, 9).isEmpty)
  }

  test("flagged: planted eval span contaminates exactly its source docs") {
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "one two three four five six seven eight nine ten"),
      // shares the 3-gram "gamma delta epsilon" span with doc 0's text
      (2L, "xx gamma delta epsilon zeta yy zz ww vv uu"),
      (3L, "clean words only here nothing shared at all today friend")
    ).toDF("doc_id", "text")
    // eval doc = a 6-token substring of train doc 0
    val eval = Seq("beta gamma delta epsilon zeta eta").toDF("etext")
    val out = Decontaminate.flagged(train, $"doc_id", $"text",
        eval, $"etext", n = 3)
      .as[(Long, Long)].collect().toMap
    // doc 0 shares all four 3-grams of the eval span; doc 2 shares
    // "gamma delta epsilon" and "delta epsilon zeta"
    assert(out === Map(0L -> 4L, 2L -> 2L))
  }

  test("plan: eval grams broadcast; corpus side never exchanges pre-join") {
    val train = (0L until 50L).map(i => (i, s"a b c d$i e f")).toDF("doc_id", "text")
    val eval = Seq("a b c d e").toDF("etext")
    val plan = Decontaminate.flagged(train, $"doc_id", $"text", eval, $"etext", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
