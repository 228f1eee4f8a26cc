package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.ops.{Dedup, TextFns}

/** Native minhash_sig expression: bit-parity with the exploded groupBy
  * formulation, the byte-level h60 fast path, null semantics, codegen. */
class MinHashSigSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("byte-level h60 equals the hex-string derivation") {
    val samples = Seq("", "a", "mh:a:0", "the quick brown", "uniçøde 中文",
      "x" * 100) ++ (0 until 64).map(i => s"mh:b:$i")
    samples.foreach { s =>
      assert(MinHashCodec.h60String(s) == TextFns.h60Scala(s), s"h60($s)")
    }
  }

  test("row-level signatures are bit-equal to the exploded groupBy twin") {
    val k = 16
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rowSigs = TextFns.withShingles(docs)
      .select(col("doc_id"), expr(s"minhash_sig(shingles, $k)").as("sig"))
      .where(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val aggSigs = Dedup.minhashSignatures(docs, k)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
    assert(rowSigs.keySet == aggSigs.keySet)
    rowSigs.foreach { case (id, sig) => assert(sig == aggSigs(id), s"doc $id") }
    assert(rowSigs.nonEmpty)
  }

  test("empty shingle set gives NULL, matching the exploded form's no-row") {
    val rows = Seq("one two", "one two three")
      .toDF("text").selectExpr("minhash_sig(shingles3(text), 4) AS s").collect()
    assert(rows(0).isNullAt(0))
    assert(!rows(1).isNullAt(0) && rows(0 + 1).getSeq[Long](0).size == 4)
  }

  test("signature values match the driver-side permutation math") {
    val sig = Seq("a b c").toDF("text")
      .selectExpr("minhash_sig(shingles3(text), 8) AS s")
      .collect()(0).getSeq[Long](0)
    val h = TextFns.h60Scala("a b c") % Dedup.MH_M
    val want = Dedup.mhParams(8).map { case (a, b) => (a * h + b) % Dedup.MH_P }
    assert(sig == want)
  }

  test("expression stays inside whole-stage codegen") {
    // codegen.fallback=false: a doGenCode that fails to compile aborts
    // the query instead of silently degrading to interpreted eval —
    // without it this test would pass with dead generated code
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr("doc_id", "minhash_sig(shingles3(text), 8) AS s")
      val codegenned = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(codegenned.nonEmpty, df.queryExecution.executedPlan.toString)
      assert(df.count() == 500)
    }
  }

  test("k must be a plan-time literal") {
    val e = intercept[Exception] {
      Seq(("a b c d", 4)).toDF("text", "k")
        .selectExpr("minhash_sig(shingles3(text), k)").collect()
    }
    assert(e.getMessage.contains("literal k"))
  }
}
