package graft.score

import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class JaroWinklerExprSpec extends SparkSuite {
  import spark.implicits._

  test("native expression matches the reference Scala implementation") {
    val rnd = new scala.util.Random(7)
    def randStr() = (0 until rnd.nextInt(12)).map(_ =>
      ('a' + rnd.nextInt(4)).toChar).mkString
    val pairs = Seq(("martha", "marhta"), ("dixon", "dicksonx"),
      ("", ""), ("a", ""), ("acer aspire", "acer aspire 5")) ++
      (0 until 200).map(_ => (randStr(), randStr()))
    val df = pairs.toDF("a", "b")
    val out = df.select($"a", $"b",
      Similarity.jaro_winkler($"a", $"b").as("jw")).collect()
    out.foreach { r =>
      val expect = Similarity.jaroWinkler(r.getString(0), r.getString(1))
      assert(r.getDouble(2) === expect,
        s"'${r.getString(0)}' vs '${r.getString(1)}'")
    }
  }

  test("ASCII byte path == String path; non-ASCII falls back; long strings grow scratch") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(11)
    def str(alpha: String, n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val cases = Seq(
      ("martha", "marhta"), ("", "x"), ("prefix", "prefixes"),
      // non-ASCII: multibyte chars must route through the String impl
      ("café-crème", "cafe-creme"), ("héllo", "héllo"), ("日本語", "日本語x"),
      // longer than the 512-byte scratch seed (forces buffer growth)
      (str("abcd", 700), str("abcd", 650))) ++
      (0 until 300).map(_ => (str("abcdef ", rnd.nextInt(30)),
        str("abcdef ", rnd.nextInt(30))))
    cases.foreach { case (a, b) =>
      val viaBytes = JaroWinklerImpl.sim(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(viaBytes === Similarity.jaroWinkler(a, b), s"'$a' vs '$b'")
    }
  }

  test("null inputs yield null (BinaryExpression null semantics)") {
    val df = Seq((Option("x"), Option.empty[String]),
      (Option.empty[String], Option("y")),
      (Option("x"), Option("x"))).toDF("a", "b")
    val out = df.select(Similarity.jaro_winkler($"a", $"b")).collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(out(2).getDouble(0) === 1.0)
  }

  test("expression stays inside whole-stage codegen (no ScalaUDF in plan)") {
    // non-literal inputs (range-derived) so constant folding can't
    // pre-evaluate the expression at planning time
    val df = spark.range(100)
      .select(concat(lit("martha"), $"id".cast("string")).as("a"),
        concat(lit("marhta"), $"id".cast("string")).as("b"))
      .select(Similarity.jaro_winkler($"a", $"b").as("jw"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("jaro_winkler"), plan)  // native expr visible
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      df.queryExecution.executedPlan.toString)
  }

  /** Installs GraftExtensions' functions into this suite's session, as
    * `spark.sql.extensions` would at session build. */
  private def installGraftExtensions(): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.graft.ColumnBridge
      .registerFunctions(ext, spark.sessionState.functionRegistry)
  }

  test("SQL surface: registered name resolves to the native expression") {
    installGraftExtensions()
    val r = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS jw").collect()(0)
    assert(math.abs(r.getDouble(0) - 0.9611) < 1e-4)
  }

  test("wrong arity is an analysis error, not an IndexOutOfBounds") {
    installGraftExtensions()
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT jaro_winkler('a')").collect()
    }
    assert(e1.getMessage.contains("jaro_winkler"), e1.getMessage)
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT jaro_winkler('a', 'b', 'c')").collect()
    }
    assert(e3.getMessage.contains("jaro_winkler"), e3.getMessage)
  }

  test("GraftExtensions injects jaro_winkler into a function registry") {
    // spark.sql.extensions is a static conf applied at SparkContext
    // creation — unavailable in a shared-context suite — so exercise the
    // injection directly against a fresh registry.
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ext = new SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.graft.ColumnBridge
      .registerFunctions(ext, new SimpleFunctionRegistry)
    assert(reg.functionExists(FunctionIdentifier("jaro_winkler")))
    val e = reg.lookupFunction(FunctionIdentifier("jaro_winkler"),
      Seq(Literal("dwayne"), Literal("duane")))
    assert(math.abs(e.eval(null).asInstanceOf[Double] - 0.84) < 1e-4)
  }
}
