package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** The hot-band guard (minhashBandCandidates' maxBandGroup): a planted
  * template family makes every LSH band one hot key — the single
  * quadratic hazard of banded MinHash. Locks (1) the capped candidate
  * volume is LINEAR in the family size where the uncapped self-join is
  * quadratic, (2) capping changes candidate ENUMERATION but not the
  * downstream clustering (hub stars span each family), (3) the
  * 10k-member scale probe the r8 VERDICT asked for: bounded candidates,
  * one exact cluster, sane wall time. */
class DedupSkewSpec extends AnyFunSuite with GraftSpark {

  private val template =
    "the quick brown fox jumps over the lazy dog while seventeen " +
    "reviewers carefully inspect every clause of this standard " +
    "disclaimer text that repeats across the mirror farm unchanged " +
    "except for a numbered suffix appended at the very end"

  /** n near-identical family members + m unrelated noise docs. */
  private def corpus(n: Int, m: Int): DataFrame = {
    import spark.implicits._
    val fam = (0 until n).map(i => (i.toLong, s"$template edition $i"))
    val noise = (0 until m).map(i => (100000L + i,
      s"unrelated document number $i carrying entirely distinct words " +
        s"like token${i}a token${i}b token${i}c token${i}d token${i}e " +
        s"token${i}f token${i}g token${i}h token${i}i token${i}j"))
    (fam ++ noise).toDF("doc_id", "text").repartition(8)
  }

  test("capped candidates are linear; uncapped are quadratic; clustering identical") {
    val docs = corpus(500, 200)
    val sh = TextFns.withShingles(docs).select(col("doc_id"), col("shingles"))
      .persist()
    val uncapped = Dedup.minhashBandCandidates(sh, 64, 16).count()
    val capped = Dedup.minhashBandCandidates(sh, 64, 16, maxBandGroup = 64).count()
    // family of 500: all-pairs is >= C(500,2); star is <= a few per member
    assert(uncapped >= 500L * 499 / 2, s"uncapped=$uncapped")
    assert(capped <= 16L * 500 + 1000, s"capped=$capped not linear")
    // downstream clustering is UNCHANGED by the cap
    val cUncap = Dedup.duplicateClusters(
      Dedup.minhashLshPairs(docs, 0.8), smallGraphEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cCap = Dedup.duplicateClusters(
      Dedup.minhashLshPairs(docs, 0.8, maxBandGroup = 64), smallGraphEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cCap == cUncap)
    assert(cCap.values.toSet == Set(0L), "family must collapse to one cluster")
    assert(cCap.keySet == (0L until 500L).toSet)
    sh.unpersist()
  }

  test("10k-member template family: bounded candidates, one exact cluster") {
    val n = 10000
    val docs = corpus(n, 0)
    val sh = TextFns.withShingles(docs).select(col("doc_id"), col("shingles"))
      .persist()
    val t0 = System.nanoTime()
    val capped = Dedup.minhashBandCandidates(sh, 64, 16, maxBandGroup = 64).count()
    // 16 bands x (n-1) star rows is the ceiling; all-pairs would be
    // ~50M — assert we stay in the linear regime with headroom for
    // per-member small-group extras (members whose unique suffix
    // shingle wins a permutation land in side groups)
    assert(capped < 20L * n, s"capped=$capped — quadratic leak")
    val clusters = Dedup.duplicateClusters(
      Dedup.minhashLshPairs(docs, 0.8, maxBandGroup = 64), smallGraphEdges = 0)
      .groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"10k family: candidates=$capped, wall=$dt%.1f s")
    assert(clusters.toSeq == Seq((0L, n.toLong)))
    assert(dt < 120.0, f"10k family took $dt%.1f s")
    sh.unpersist()
  }
}
