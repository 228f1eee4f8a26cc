package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Deterministic hash sampling: reproducibility, subset invariance,
  * stratum rates, namespace independence, shuffle-free plan. */
class SamplingSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private lazy val corpus = (0 until 2000)
    .map(i => (i.toLong, if (i % 2 == 0) "en" else Seq("de", "fr", "zh")(i % 3)))
    .toDF("doc_id", "lang")

  test("membership is deterministic and identical across runs") {
    val a = Sampling.uniformHash(corpus, "doc_id", 10).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.uniformHash(corpus, "doc_id", 10).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
    // rate lands near 10% (hash uniformity on 2000 ids)
    assert(a.size > 120 && a.size < 280, a.size.toString)
  }

  test("a lower rate is a SUBSET of a higher rate (stable under re-rating)") {
    val p10 = Sampling.uniformHash(corpus, "doc_id", 10).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val p30 = Sampling.uniformHash(corpus, "doc_id", 30).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(p10.subsetOf(p30) && p30.size > p10.size)
  }

  test("membership depends only on the id — stable under corpus growth") {
    val small = Sampling.uniformHash(corpus.filter(col("doc_id") < 500), "doc_id", 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val large = Sampling.uniformHash(corpus, "doc_id", 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small == large.filter(_ < 500))
  }

  test("namespaces decorrelate sampling decisions") {
    val a = Sampling.uniformHash(corpus, "doc_id", 50, namespace = "holdout")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.uniformHash(corpus, "doc_id", 50, namespace = "eval")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a != b)
    // ~50% overlap for independent 50% samples, not ~100%
    val overlap = (a intersect b).size.toDouble / a.size
    assert(overlap > 0.3 && overlap < 0.7, overlap.toString)
  }

  test("stratified rates apply per stratum; unlisted strata use the default") {
    val sampled = Sampling.stratifiedHash(corpus, "lang", "doc_id",
      Map("en" -> 25), defaultPct = 100)
    val byLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = corpus.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // non-en strata: full retention
    for (l <- totals.keys if l != "en") assert(byLang(l) == totals(l), l)
    // en: near the 25% target
    val enRate = byLang("en").toDouble / totals("en")
    assert(enRate > 0.17 && enRate < 0.33, enRate.toString)
    // and the en subset is exactly the uniform 25% sample of en docs —
    // stratification changes RATES, never the membership hash
    val enDocs = Sampling.uniformHash(corpus.filter(col("lang") === "en"), "doc_id", 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled.filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet == enDocs)
  }

  test("the sampling predicate is a shuffle-free scan filter") {
    val plan = Sampling.stratifiedHash(corpus, "lang", "doc_id",
      Map("en" -> 25), defaultPct = 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("weighted sampling: keep rate tracks the weight, monotone in weight") {
    import org.apache.spark.sql.functions._
    // constant weight w bp ≈ uniform w/10000 sampling
    val w30 = Sampling.weightedHash(corpus, "doc_id", lit(3000))
      .collect().map(_.getLong(0)).toSet
    assert(w30.size > 480 && w30.size < 720, w30.size.toString) // ~30% of 2000
    // monotone law: lowering every weight only removes rows
    val w10 = Sampling.weightedHash(corpus, "doc_id", lit(1000))
      .collect().map(_.getLong(0)).toSet
    assert(w10.subsetOf(w30))
    assert(w10.size > 120 && w10.size < 280, w10.size.toString)
    // per-row weights: rows with weight 0 never kept, 10000 always kept
    val mixed = Sampling.weightedHash(corpus, "doc_id",
        when(col("doc_id") % 2 === 0, lit(10000)).otherwise(lit(0)))
      .collect().map(_.getLong(0))
    assert(mixed.length == 1000 && mixed.forall(_ % 2 == 0))
    // clamp: out-of-range weights behave as the endpoints
    assert(Sampling.weightedHash(corpus, "doc_id", lit(-5)).count() == 0)
    assert(Sampling.weightedHash(corpus, "doc_id", lit(99999)).count() == 2000)
  }

  test("weighted sampling stays a shuffle-free scan predicate") {
    import org.apache.spark.sql.functions._
    val plan = Sampling.weightedHash(corpus, "doc_id", lit(5000))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("exact-k sampling: fixed size, determinism, bounded growth churn") {
    val k = 17
    val sel = Sampling.topKHash(corpus, "doc_id", "lang", k)
    val byLang = sel.collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
      .groupBy(_._1)
    // exactly k per stratum, ranks exactly 1..k
    byLang.foreach { case (lang, rows) =>
      assert(rows.length == k, lang)
      assert(rows.map(_._3).sorted.toSeq == (1L to k).toSeq, lang)
    }
    // rerun-identical
    val again = Sampling.topKHash(corpus, "doc_id", "lang", k)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again == sel.collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
    // growth churn is bounded: doubling the corpus keeps size at k and
    // every surviving member keeps or improves its rank
    val bigger = corpus.union(
      (2000 until 4000).map(i => (i.toLong, if (i % 2 == 0) "en"
        else Seq("de", "fr", "zh")(i % 3))).toDF("doc_id", "lang"))
    val grown = Sampling.topKHash(bigger, "doc_id", "lang", k)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val before = sel.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(grown.size == before.size)
    before.foreach { case (id, rank) =>
      grown.get(id).foreach(r2 => assert(r2 >= rank))
    }
  }

  test("assignSplits partitions the corpus; train band == uniformHash at 90") {
    val splits = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    val out = Sampling.assignSplits(corpus, "doc_id", splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // exactly one split per id, all names from the declared list
    assert(out.length == 2000)
    assert(out.map(_._2).toSet.subsetOf(splits.map(_._1).toSet))
    // near-declared fractions (hash uniformity on 2000 ids)
    val n = out.groupBy(_._2).map { case (k, v) => k -> v.length }
    assert(n("train") > 1700 && n("val") > 50 && n("test") > 50, n.toString)
    // the train band is EXACTLY uniformHash at the same rate/namespace
    val train = out.filter(_._2 == "train").map(_._1).toSet
    val uni = Sampling.uniformHash(corpus, "doc_id", 90, "split")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(train == uni)
    // degenerate band declarations are rejected
    intercept[IllegalArgumentException] {
      Sampling.assignSplits(corpus, "doc_id", Seq("a" -> 50, "b" -> 40))
    }
  }
}
