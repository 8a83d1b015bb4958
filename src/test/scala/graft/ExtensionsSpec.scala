package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The config-driven extension packaging must give a PLAIN SQL session
  * the graft functions with no programmatic registration — the way a
  * cluster admin deploys the library (spark.sql.extensions). Uses its
  * own SparkSession (extensions bind at session build time).
  */
class ExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a session built with the extension. Other suites
    * share a default session WITHOUT the extension — getOrCreate would
    * return it and bypass extension injection. Park the default, build
    * an isolated session, restore afterwards. */
  private def withExtensions(body: SparkSession => Unit): Unit = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try body(spark)
    finally {
      // do NOT spark.stop(): the SparkContext is shared process-wide
      // with the other suites' session — just restore the default
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
    }
  }

  test("spark.sql.extensions=graft.GraftExtensions resolves the native functions in SQL") {
    withExtensions { spark =>
      val r = spark.sql(
        """SELECT token_count('a b  c') AS t,
          |       subword_count('don''t-stop_2024') AS s,
          |       simhash64('hello world') AS h,
          |       top_ngram_frac('a b a b a', 2) AS f""".stripMargin)
        .collect().head
      assert(r.getInt(0) == 3)
      assert(r.getInt(1) == 4)
      assert(r.getDouble(3) == 0.5)
      // same value the Column API computes — one registry, one semantics
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val direct = Seq("hello world").toDF("x")
        .select(graft.functions.expr.TextExprs.simhash64(col("x")))
        .collect().head.getLong(0)
      assert(r.getLong(2) == direct)

      // n is a construction-time parameter: a BIGINT literal is fine,
      // but a column reference / wrong type / wrong arity must fail as
      // a clear AnalysisException at plan time, not a ClassCastException
      assert(spark.sql(
          "SELECT top_ngram_frac('a b a b a', CAST(2 AS BIGINT)) AS f")
        .collect().head.getDouble(0) == 0.5)
      val nonFoldable = intercept[AnalysisException] {
        spark.sql("SELECT top_ngram_frac(x, token_count(x)) FROM VALUES ('a') t(x)")
      }
      assert(nonFoldable.getCondition == "NON_FOLDABLE_ARGUMENT")
      val notInt = intercept[AnalysisException] {
        spark.sql("SELECT top_ngram_frac('a b', 'two')")
      }
      assert(notInt.getCondition == "SECOND_FUNCTION_ARGUMENT_NOT_INTEGER")
      val arity = intercept[AnalysisException] {
        spark.sql("SELECT top_ngram_frac('a b')")
      }
      assert(arity.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
    }
  }

  test("the one-argument functions reject a wrong argument count at analysis") {
    withExtensions { spark =>
      // no argument is not an empty-list crash, a second one is not dropped
      for (q <- Seq("SELECT token_count()", "SELECT simhash64('a', 'b')",
          "SELECT rolling_hash('a', 'b')", "SELECT subword_count()")) {
        val e = intercept[AnalysisException](spark.sql(q).collect())
        assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", q)
      }
    }
  }

  test("TextExprs.register installs the same functions, top_ngram_frac included") {
    withExtensions { spark =>
      // a session whose registry lacks the functions
      val plain = spark.newSession()
      for (name <- Seq("token_count", "subword_count", "rolling_hash",
          "simhash64", "top_ngram_frac"))
        plain.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
      intercept[AnalysisException](plain.sql("SELECT top_ngram_frac('a b a b a', 2)"))
      graft.functions.expr.TextExprs.register(plain)
      val r = plain.sql("""SELECT top_ngram_frac('a b a b a', 2) AS f,
          |       token_count('a b  c') AS t, subword_count('x-y') AS s""".stripMargin)
        .collect().head
      assert(r.getDouble(0) == 0.5 && r.getInt(1) == 3 && r.getInt(2) == 2)
      val e = intercept[AnalysisException](plain.sql("SELECT token_count('a', 'b')"))
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
    }
  }
}
