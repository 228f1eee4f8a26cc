package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Native shingles3 expression: semantics, codegen path, SQL
  * registration. */
class Shingles3Spec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("shingle semantics match the oracle definition") {
    val got = Seq("The  quick, BROWN fox! jumps")
      .toDF("text").selectExpr("shingles3(text)").collect()(0)
      .getSeq[String](0)
    assert(got == Seq("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("short and empty texts give empty arrays; duplicates are distinct") {
    val rows = Seq("", "one two", "a b a b a b")
      .toDF("text").selectExpr("shingles3(text) AS s").collect()
    assert(rows(0).getSeq[String](0).isEmpty)
    assert(rows(1).getSeq[String](0).isEmpty)
    // "a b a" and "b a b" repeat — distinct keeps first occurrences
    assert(rows(2).getSeq[String](0) == Seq("a b a", "b a b"))
  }

  test("expression stays inside whole-stage codegen") {
    // a literal input would constant-fold to a LocalTableScan, so use a
    // real file scan to force an executed projection
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "shingles3(text) AS s")
    // starred operators (`*(1) Project`) are inside WholeStageCodegen
    val codegenned = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenned.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(df.count() == 500)
  }

  test("works via SparkSessionExtensions injection") {
    // no extension conf on the session: the service-loaded extension's
    // function resolves (GraftExtensionsSpec covers a plain builder)
    val got = spark.sql("SELECT shingles3('p q r s') AS s").collect()(0)
      .getSeq[String](0)
    assert(got == Seq("p q r", "q r s"))
  }
}
