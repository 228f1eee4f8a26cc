package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share long
  * word n-grams with an evaluation/benchmark set — the published
  * train-test-overlap defense (GPT-3 appendix C used 13-grams, PaLM
  * 8-grams; default here n=8).
  *
  * Shape at scale: both sides reduce to (doc_id, gram_hash) relations
  * with per-document DISTINCT grams; the overlap is ONE equality join
  * on a 60-bit gram hash followed by a per-doc count — no cross
  * product anywhere, and AQE broadcasts the benchmark side when it is
  * small (the common case: benchmarks are thousands of docs against a
  * 100 TB corpus, so the gram relation is megabytes and the join runs
  * map-side against every corpus partition). The gram hash keeps the
  * shuffle key fixed-width 8 bytes instead of a ~50-byte string; both
  * engines derive it identically (md5-prefix, [[TextFns.h60]]), so a
  * hash collision — 2^-60-scale — would be mirrored by the oracle,
  * not a divergence.
  *
  * Output: every corpus document with its distinct-gram total, the
  * count of grams also present in the benchmark, the hit fraction in
  * integer basis points, and a contaminated verdict (any hit). Docs
  * shorter than n words have zero grams and gate as clean.
  */
object Decontam {

  /** Distinct word n-grams per doc as 60-bit hashes: (doc_id, gh).
    * One native `word_ngrams` scan per document — the equivalent
    * `transform(sequence(...))` builtin composition re-tokenizes the
    * document once per gram (the Catalyst lambda-inlining trap,
    * docs/PLANS.md), which made this derivation the whole query's
    * cost at sf0.1. */
  private def gramHashes(docs: DataFrame, n: Int): DataFrame = {
    docs
      .select(col("doc_id"),
        explode_outer(expr(s"word_ngrams(text, $n)")).as("gram"))
      .select(col("doc_id"), TextFns.h60(col("gram")).as("gh"))
  }

  /** Per-corpus-doc overlap stats against `benchmark` (both inputs
    * need (doc_id, text)). Corpus docs present in the benchmark should
    * be excluded by the caller — the gate feeds the hash-sampled eval
    * split as `benchmark` and its complement as `corpus`.
    *
    * Cache lifecycle contract: the corpus gram relation is persisted
    * (MEMORY_AND_DISK) so it feeds both the hit join and the totals
    * aggregation in one derivation; the result is lazy, so this method
    * cannot unpersist it itself. In a long-lived session the caller
    * owns release — `spark.catalog.clearCache()` after the result is
    * materialized (the Verify/Bench convention), or track and
    * unpersist via `spark.sharedState.cacheManager`. */
  def overlap(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    // the gram derivation (tokenize + window + distinct + md5) is the
    // expensive part and feeds BOTH the hit join and the totals
    // aggregation — persist so it runs once per corpus (CacheManager
    // dedups identical plans across calls, same convention as the
    // shared shingle relation in Dedup.minhashLshPairs)
    val corpusGrams = gramHashes(corpus, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distinct benchmark gram set: doc identity no longer matters
    val evalGrams = gramHashes(benchmark, n)
      .filter(col("gh").isNotNull).select("gh").distinct()
    val hits = corpusGrams.join(evalGrams, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    corpusGrams
      .groupBy("doc_id")
      .agg(sum(when(col("gh").isNotNull, 1L).otherwise(0L)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0) * 10000 div greatest(n_grams, 1)").as("hit_bp"),
        (coalesce(col("n_hit"), lit(0L)) > 0).cast("long").as("contaminated"))
  }

  /** The gate wiring: benchmark = the deterministic `evalPct`% hash
    * split ([[Sampling.uniformHash]] — same stateless membership the
    * sampling gates use), corpus = its complement. */
  def trainEvalOverlap(docs: DataFrame, evalPct: Int = 20, n: Int = 8): DataFrame = {
    val pred = Sampling.uniformHashPredicate(col("doc_id"), evalPct)
    overlap(docs.filter(!pred), docs.filter(pred), n)
  }
}
