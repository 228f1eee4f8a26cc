package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Rarity-weighted term scoring: hand-computed parity, normalization,
  * tie-breaks, degenerate docs, tf-idf ordering sanity. */
class TermsSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "apple apple banana"),
    (2L, "banana cherry!"),
    (3L, "Cherry, cherry demand."),
    (4L, "???") // punctuation-only: no tokens at all
  ).toDF("doc_id", "text")

  test("tf, df, score6 and ranks match the hand computation") {
    // norm tokens: d1 = [apple, apple, banana]; d2 = [banana, cherry];
    // d3 = [cherry, cherry, demand]; d4 = []
    // df: apple 1, banana 2, cherry 2, demand 1
    // score6 = tf*1e6 div (df+1):
    //   d1: apple 2e6/2=1000000, banana 1e6/3=333333
    //   d2: banana 333333, cherry 333333 (tie → term asc)
    //   d3: cherry 2e6/3=666666, demand 500000
    val got = Terms.topTermsByRarity(docs, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(
      (1L, "apple", 2L, 1L, 1000000L, 1L),
      (1L, "banana", 1L, 2L, 333333L, 2L),
      (2L, "banana", 1L, 2L, 333333L, 1L), // tie with cherry: term asc
      (2L, "cherry", 1L, 2L, 333333L, 2L),
      (3L, "cherry", 2L, 2L, 666666L, 1L),
      (3L, "demand", 1L, 1L, 500000L, 2L)))
  }

  test("k truncates per document") {
    val got = Terms.topTermsByRarity(docs, 1).collect()
    assert(got.length == 3) // one per non-empty doc
    assert(got.forall(_.getLong(5) == 1L))
  }

  test("tf-idf: within a doc, the rarer of two equal-tf terms scores higher") {
    val scores = Terms.tfIdf(docs, nDocs = 4)
      .filter($"doc_id" === 2L).collect()
      .map(r => r.getString(1) -> r.getDouble(4)).toMap
    // d2 has banana (df 2) and cherry (df 2) — equal; compare across
    // docs instead: d1's apple (df 1, tf 2) must beat d1's banana
    val d1 = Terms.tfIdf(docs, nDocs = 4)
      .filter($"doc_id" === 1L).collect()
      .map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(d1("apple") > d1("banana"))
    assert(scores("banana") == scores("cherry"))
  }

  test("no cartesian or nested-loop operator in the plan") {
    val plan = Terms.topTermsByRarity(docs, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("rare-feature similarity: df ceiling excludes the head, counts exact") {
    // shingles (word trigrams): "alpha beta gamma" in docs 0,1,2 (df 3);
    // "beta gamma delta" in docs 0,1 (df 2); the rest are singletons
    val d = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta zz"),
      (2L, "alpha beta gamma other words here"),
      (3L, "totally different content again now")
    ).toDF("doc_id", "text")
    def pairs(maxDf: Long, minShared: Long) =
      Terms.similarDocsByRareFeatures(d, maxDf, minShared).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // maxDf=2: the df-3 trigram is head-excluded; only (0,1) share the
    // df-2 trigram
    assert(pairs(2, 1) == Set((0L, 1L, 1L)))
    assert(pairs(2, 2) == Set.empty)
    // maxDf=3 admits it: (0,1) share 2 features, (0,2)/(1,2) share 1
    assert(pairs(3, 1) == Set((0L, 1L, 2L), (0L, 2L, 1L), (1L, 2L, 1L)))
    assert(pairs(3, 2) == Set((0L, 1L, 2L)))
    // posting-list expansion over the capped_collect aggregation
    // (optimization r16): the df ceiling lives INSIDE the collect, so
    // the plan carries NO join at all (the census + rare-df rejoin is
    // gone) and nothing degenerates to a cartesian/NLJ
    val plan = Terms.similarDocsByRareFeatures(d, 3, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size
    assert(joins == 0, s"expected a join-free capped_collect plan, got $joins:\n" +
      plan.take(2000))
    assert(plan.contains("capped_collect"), plan.take(2000))
  }

  test("unigram surprisal: whole-bit hand computation, band verdict, empty doc absent") {
    // tokens: apple 2, banana 2, cherry 3, demand 1 → total 8
    // bits = len(bin(8 div cnt)) - 1: apple/banana 2, cherry 1, demand 3
    // d1 [apple×2, banana]: sum 6, mean 600 div 3 = 200
    // d2 [banana, cherry]:  sum 3, mean 300 div 2 = 150
    // d3 [cherry×2, demand]: sum 5, mean 500 div 3 = 166
    val got = Terms.unigramSurprisal(docs, 160L, 250L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(
      (1L, 3L, 6L, 200L, 1L),
      (2L, 2L, 3L, 150L, 0L), // below the band floor
      (3L, 3L, 5L, 166L, 1L))) // d4 (no tokens) absent
  }

  test("unigram surprisal: rare-vocabulary doc scores above common-vocabulary doc") {
    // "the" dominates the corpus (cnt 12 of 16); each rare term appears
    // once — the rare-heavy doc must carry strictly more bits/token
    val d = Seq(
      (1L, "the the the the the the the the the the the the"),
      (2L, "qq ww ee rr")).toDF("doc_id", "text")
    val m = Terms.unigramSurprisal(d, 0L, 9999L).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m(2L) > m(1L), m.toString)
  }

  test("unigram surprisal: the only NLJ is the 1-row total attach") {
    val plan = Terms.unigramSurprisal(docs, 160L, 250L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    val nljs = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nljs <= 1, s"expected at most the constant-attach NLJ, got $nljs:\n" +
      plan.take(2000))
  }

  test("bigram surprisal: whole-bit hand computation, band verdict, short docs absent") {
    // bigrams: d1 "a b"×2 + "b a"; d2 "a b" + "b c"
    // model cnt2: "a b"=3, "b a"=1, "b c"=1; ctx cnt1: a=3, b=2
    // bits: "a b" → 3 div 3 = 1 → 0; "b a"/"b c" → 2 div 1 = 2 → 1
    // d1: n=3, sum=1, mean = 100 div 3 = 33; d2: n=2, sum=1, mean=50
    val d = Seq(
      (1L, "a b a b"), (2L, "a b c"),
      (3L, "c"),   // single token: no bigram mass
      (4L, "  ")). // empty normalization
      toDF("doc_id", "text")
    val got = Terms.bigramSurprisal(d, 40L, 60L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(
      (1L, 3L, 1L, 33L, 0L),
      (2L, 2L, 1L, 50L, 1L)))
  }

  test("bigram surprisal: branching contexts score above deterministic continuations") {
    // doc A repeats one continuation of t (t→a always); doc B branches
    // t four ways — conditional surprisal must rank B strictly higher
    // even though B's unigrams are no rarer per-position
    val d = Seq(
      (1L, "t a t a t a t a"),
      (2L, "t b t c t d t e")).toDF("doc_id", "text")
    val m = Terms.bigramSurprisal(d, 0L, 9999L).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m(2L) > m(1L), m.toString)
  }
}
