package graft

import org.apache.spark.sql.AnalysisException

/** graft_tokenize exposed to SQL via SparkSessionExtensions. */
class ExtensionsSpec extends SparkSpec {

  test("graft_tokenize is callable from SQL and codegen'd") {
    val rows = spark.sql(
      "SELECT t.tok, t.sep FROM (SELECT explode(graft_tokenize('a, b  c')) AS t)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("a", ""), (",", ""), ("b", " "), ("c", "  ")))

    // null → empty array (UDF contract), not null
    assert(spark.sql("SELECT size(graft_tokenize(CAST(NULL AS STRING)))")
      .head().getInt(0) == 0)

    // stays inside WholeStageCodegen (no UDF / CodegenFallback in the plan)
    val plan = spark.sql("SELECT graft_tokenize('x y') AS t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("non-string input is rejected at analysis time") {
    val e = intercept[Exception](spark.sql("SELECT graft_tokenize(42)").collect())
    assert(e.getMessage.toLowerCase.contains("string") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("any arity but one is rejected at analysis with WRONG_NUM_ARGS") {
    for (q <- Seq("SELECT graft_tokenize('a b', 'zzz')", "SELECT graft_tokenize()")) {
      val e = intercept[AnalysisException](spark.sql(q))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$q: ${e.getMessage}")
    }
  }
}
