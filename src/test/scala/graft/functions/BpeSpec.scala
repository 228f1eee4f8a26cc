package graft.functions

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.GraftSpark

/** Learned-merge-table BPE: determinism of learning, equivalence of
  * the rank-ordered sweep with canonical iterative BPE, and parity of
  * the native expression with the oracle's replace-chain formulation
  * (replayed through Spark SQL's own replace()). */
class BpeSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("learning is deterministic and merges the frequent vocabulary") {
    val m1 = BpeModel.learn(BpeModel.TRAIN, BpeModel.N_MERGES)
    val m2 = BpeModel.learn(BpeModel.TRAIN, BpeModel.N_MERGES)
    assert(m1 == m2 && m1 == BpeModel.merges)
    assert(m1.size == BpeModel.N_MERGES)
    // high-frequency training words should compress to few symbols
    assert(BpeModel.tokenizeWord("scan").length <= 2, BpeModel.tokenizeWord("scan"))
    assert(BpeModel.tokenizeWord("window").length <= 3, BpeModel.tokenizeWord("window"))
    // a word sharing no learned pair stays fully split
    assert(BpeModel.tokenizeWord("zqxz").length == 4)
  }

  test("rank-ordered sweep equals canonical iterative BPE on fixture and random words") {
    val vocab = BpeModel.TRAIN.map(_._1)
    val gen = Gen.listOfN(300, Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a' to 'z')).map(_.mkString)))
    val words = vocab ++ vocab.map(_.reverse) ++ vocab.map(w => w + w) ++
      gen.sample.getOrElse(Nil)
    for (w <- words)
      assert(BpeModel.tokenizeWord(w) == BpeModel.tokenizeWordIterative(w),
        s"sweep != iterative for '$w'")
  }

  test("native bpe_count matches the replace-chain formulation through Spark SQL") {
    // the oracle's closed form, replayed with Spark's replace/regexp:
    // Spark regexp_replace uses $1 for groups where DuckDB uses \1
    val norm =
      "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))"
    val spaced = s"regexp_replace($norm, '(.)', '$$1 ')"
    val chain = BpeModel.merges.foldLeft(spaced) {
      case (acc, (a, b)) => s"replace($acc, '$a $b', '$a$b')"
    }
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("native", expr("bpe_count(text)"))
      .withColumn("chain",
        expr(s"CAST(size(regexp_extract_all($chain, '\\\\S+', 0)) AS BIGINT)"))
    val bad = df.filter(col("native") =!= col("chain"))
      .select("doc_id", "native", "chain").collect()
    assert(bad.isEmpty, s"divergence: ${bad.take(3).mkString(", ")}")
  }

  test("learnWithCounts mirrors learn and records the selected pair's weighted count") {
    // same merges as learn on the model fixture...
    val fixture = BpeModel.TRAIN.map { case (w, c) => (w, c.toLong) }
    val withCounts = BpeModel.learnWithCounts(fixture, BpeModel.N_MERGES)
    assert(withCounts.map(m => (m._1, m._2)) ==
      BpeModel.learn(BpeModel.TRAIN, BpeModel.N_MERGES))
    // ...counts are the stage-time weighted pair frequencies: on a
    // hand-checkable corpus, (a,a) in 'aaa' counts BOTH overlapping
    // pairs (weight x2), the sliding(2) convention; the merge itself
    // is then non-overlapping (aa + a), so stage 2's best pair is
    // (aa, a) with the word's full weight
    val tiny = Seq(("aaa", 5L), ("ab", 3L))
    val m = BpeModel.learnWithCounts(tiny, 3)
    assert(m.head == ("a", "a", 10L), s"stage 1: ${m.head}")
    assert(m(1) == ("aa", "a", 5L), s"stage 2: ${m(1)}")
    // early stop: 'ab' merges at stage 3, then no pairs remain
    assert(m(2) == ("a", "b", 3L) && m.length == 3)
    assert(BpeModel.learnWithCounts(tiny, 10).length == 3,
      "must stop once every word is a single symbol")
  }

  test("bpeTrain excludes words carrying the oracle's '|' guard byte (pinned contract)") {
    import spark.implicits._
    // 'sc|an' would make the oracle's ' sym|' segmentation encoding
    // ambiguous — the pinned contract drops such words from training
    // on BOTH sides, so the merge table must equal the clean corpus'
    val clean = Seq("scan scan scan line line").toDF("text")
    val dirty = Seq("scan scan scan line line sc|an sc|an sc|an sc|an").toDF("text")
    val a = graft.ops.Tokenizer.bpeTrain(clean, nMerges = 4).collect().toSeq
    val b = graft.ops.Tokenizer.bpeTrain(dirty, nMerges = 4).collect().toSeq
    assert(a == b, s"guard-byte word leaked into training: $b vs $a")
  }

  test("bpeTrain excludes control-char and non-BMP words (ADVICE r14: RE2 '.' drops \\n; code-unit vs code-point segmentation)") {
    import spark.implicits._
    // A newline-bearing word would train DIFFERENT pair counts on the
    // two sides (the oracle's regexp_extract_all(word, '.') silently
    // skips '\n' while Scala's w.toList keeps it), and a non-BMP word
    // segments into UTF-16 code units on one side vs code points on
    // the other — the extended pinned contract drops both classes
    // from training on BOTH sides, so the merge table must equal the
    // clean corpus'. Text is split on ' ' only, so the \n stays
    // inside its word.
    val clean = Seq("scan scan scan line line").toDF("text")
    val dirty = Seq("scan scan scan line line ab\ncd ab\ncd ab\ncd " +
      "ab\tcd ab\u007Fcd a\uD83D\uDE00b a\uD83D\uDE00b a\uD83D\uDE00b")
      .toDF("text")
    val a = graft.ops.Tokenizer.bpeTrain(clean, nMerges = 4).collect().toSeq
    val b = graft.ops.Tokenizer.bpeTrain(dirty, nMerges = 4).collect().toSeq
    assert(a == b, s"control/non-BMP word leaked into training: $b vs $a")
  }

  test("document counts sum per-word counts over the normalized text") {
    val got = Seq("Scan, the WINDOW!  zq 42", "", "   ", "scan scan scan")
      .toDF("text").selectExpr("bpe_count(text) AS n").collect().map(_.getLong(0))
    val scan = BpeModel.tokenizeWord("scan").length
    val the = BpeModel.tokenizeWord("the").length
    val window = BpeModel.tokenizeWord("window").length
    val zq = BpeModel.tokenizeWord("zq").length
    val n42 = BpeModel.tokenizeWord("42").length
    assert(got(0) == scan + the + window + zq + n42)
    assert(got(1) == 0L && got(2) == 0L)
    assert(got(3) == 3L * scan)
  }
}
