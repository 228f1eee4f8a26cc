package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Dedup, TextFns}

/** Text-analysis + deduplication surface over the `documents` table,
  * each query paired with exactly-equivalent DuckDB oracle SQL
  * (shared md5-derived hashes make results bit-identical).
  */
object TextSurface {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** text_bpe_train knobs: nMerges bounds the oracle's unrolled CTE
    * chain (the KMEANS_ITERS precedent), vocabCap bounds the driver's
    * model state (deterministic freq-desc/word-asc cut — at gate
    * scale the 31-word vocab sits far inside it, so the cap is
    * declared, not binding). */
  private val BPE_TRAIN_MERGES = 16
  private val BPE_TRAIN_VOCAB = 1000

  /** The oracle replay of [[graft.ops.Tokenizer.bpeTrain]]: word
    * frequencies in SQL, then nMerges unrolled greedy stages over a
    * ' sym|'-encoded segmentation string. The '|' terminator makes
    * symbol boundaries unambiguous ('b' cannot match inside 'bc') and
    * DuckDB's left-to-right non-overlapping `replace` is then exactly
    * BpeModel.mergeAll — e.g. merging (a,a) on ' a| a| a|' consumes
    * the first two and leaves ' aa| a|'. Pair counts are
    * frequency-weighted with overlapping pairs each counted
    * (list_zip(syms, syms[2:])), ties break (cnt desc, a, b) — the
    * learnWithCounts rule; an exhausted stage (no pairs) yields no
    * row and passes segs through, matching the early stop. */
  private def bpeTrainSql(nMerges: Int, vocabCap: Int): String = {
    val init =
      s"""tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         |vocab AS MATERIALIZED (SELECT word, count(*) AS freq FROM tok
         |  WHERE word <> '' AND word NOT LIKE '%|%'
         |    AND NOT regexp_matches(word, '[\\x00-\\x1f\\x7f]|[\\x{10000}-\\x{10FFFF}]')
         |  GROUP BY 1 ORDER BY freq DESC, word LIMIT $vocabCap),
         |w0 AS MATERIALIZED (SELECT freq, ' ' || array_to_string(
         |    list_transform(regexp_extract_all(word, '.'), c -> c || '|'), ' ') AS seg
         |  FROM vocab)""".stripMargin
    val stages = (0 until nMerges).map { i =>
      s"""p$i AS MATERIALIZED (SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(list_zip(syms, syms[2:])) AS pr
         |        FROM (SELECT freq, list_transform(
         |            string_split(ltrim(seg, ' '), ' '), x -> rtrim(x, '|')) AS syms
         |          FROM w$i))
         |  WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |w${i + 1} AS MATERIALIZED (SELECT w.freq,
         |    coalesce(replace(w.seg, ' ' || b.a || '| ' || b.b || '|',
         |      ' ' || b.a || b.b || '|'), w.seg) AS seg
         |  FROM w$i w LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    val union = (0 until nMerges).map(i =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS rank, a AS left_sym, " +
        s"b AS right_sym, cnt AS pair_freq FROM b$i")
      .mkString("\nUNION ALL\n")
    s"WITH $init,\n${stages.mkString(",\n")}\n$union"
  }

  // ---- Spark-side plans ----

  /** Per-document stats: token counts, character-class ratios (integer
    * basis points), and a composite quality score — ALL integer
    * arithmetic. Ratios here are exact small rationals, which land on
    * round-half boundaries constantly; float `round()` differs between
    * engines within 1 ulp of a boundary, so the whole query stays in
    * the integer domain (`floor(a*10000/b)` + weighted integer sums). */
  private def textStats(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      // all five counts in ONE scan (native text_stats_scan expression;
      // semantics locked to the regex forms — see TextStatsCodec)
      .withColumn("st", expr("text_stats_scan(text)"))
      .withColumn("n_chars_raw", col("st.n_chars_raw"))
      .withColumn("n_tokens", col("st.n_tokens"))
      .withColumn("alpha_bp", expr(
        "st.alpha * 10000 div greatest(n_chars_raw, 1)"))
      .withColumn("digit_bp", expr(
        "st.digits * 10000 div greatest(n_chars_raw, 1)"))
      .withColumn("stop_hits", col("st.stop_hits"))
      .withColumn("stop_bp", expr(
        "stop_hits * 10000 div greatest(n_tokens, 1)"))
      // quality in [0, 100000]: 5*alpha + 3*(1 - min(2*digit,1)) + 2*min(4*stop,1)
      .withColumn("quality_score",
        (lit(5L) * col("alpha_bp") +
          lit(3L) * (lit(10000L) - least(col("digit_bp") * 2, lit(10000L))) +
          lit(2L) * least(col("stop_bp") * 4, lit(10000L))).cast("long"))
      .select("doc_id", "n_chars_raw", "n_tokens", "alpha_bp",
        "digit_bp", "stop_hits", "stop_bp", "quality_score")
  }

  /** Marker-token language id (n-gram-heuristic family): per-language
    * stopword hit counts + CJK character count, argmax with a fixed
    * priority order. Deterministic and exactly mirrored in SQL. All
    * five counts come from ONE scan (native lang_scan expression,
    * count-locked to the regex forms — graft.functions.LangScanCodec),
    * replacing four marker-regex passes + a CJK regexp_replace. */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    val withHits = docs(s, dir)
      .withColumn("ls", expr("lang_scan(text)"))
      .withColumn("en_hits", col("ls.en_hits"))
      .withColumn("de_hits", col("ls.de_hits"))
      .withColumn("fr_hits", col("ls.fr_hits"))
      .withColumn("es_hits", col("ls.es_hits"))
      .withColumn("zh_chars", col("ls.zh_chars"))
    withHits.withColumn("pred_lang",
      when(col("zh_chars") > 0, "zh")
        .when(col("de_hits") > col("en_hits") && col("de_hits") >= col("fr_hits") &&
          col("de_hits") >= col("es_hits"), "de")
        .when(col("fr_hits") > col("en_hits") && col("fr_hits") > col("de_hits") &&
          col("fr_hits") >= col("es_hits"), "fr")
        .when(col("es_hits") > col("en_hits") && col("es_hits") > col("de_hits") &&
          col("es_hits") > col("fr_hits"), "es")
        .otherwise("en"))
      .select(col("doc_id"), col("en_hits"), col("de_hits"), col("fr_hits"),
        col("es_hits"), col("zh_chars"), col("pred_lang"), col("lang").as("actual_lang"))
  }

  /** Gopher/C4-class document quality rules (repetition + shape), all
    * derived from ONE fused scan (graft.functions.QualityScan) in pure
    * integer arithmetic — see the codec's scaladoc for the exact
    * count semantics. The `keep` verdict composes four published rule
    * families at thresholds calibrated to discriminate on this corpus:
    * word-count floor, mean-word-length band (3.0–10.0 chars),
    * duplicate-2/3-gram ceilings (repetition/boilerplate), top-word
    * mass ceiling (degenerate vocabulary). Plan shape is Scan →
    * Project → Project: no shuffle, no explode — the filter runs at
    * scan speed on 100 TB. */
  private def qualityGopher(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("qs", expr("quality_scan(text)"))
      .withColumn("n_words", col("qs.n_words"))
      .withColumn("mean_word_len_bp", expr(
        "qs.sum_len * 10000 div greatest(qs.n_words, 1)"))
      .withColumn("dup_2gram_bp", expr(
        "(greatest(qs.n_words - 1, 0) - qs.d2) * 10000 div greatest(qs.n_words - 1, 1)"))
      .withColumn("dup_3gram_bp", expr(
        "(greatest(qs.n_words - 2, 0) - qs.d3) * 10000 div greatest(qs.n_words - 2, 1)"))
      .withColumn("top_word_bp", expr(
        "qs.top_n * 10000 div greatest(qs.n_words, 1)"))
      .withColumn("keep",
        (col("n_words").between(30, 50000) &&
          col("mean_word_len_bp").between(30000, 100000) &&
          col("dup_2gram_bp") <= 600 && col("dup_3gram_bp") <= 200 &&
          col("top_word_bp") <= 1500).cast("long"))
      .select("doc_id", "n_words", "mean_word_len_bp", "dup_2gram_bp",
        "dup_3gram_bp", "top_word_bp", "keep")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_stats" -> textStats,
    "text_quality_gopher" -> qualityGopher,
    // train the cheap linear probe that approximates the expensive
    // Gopher verdict (graft.ops.Probe): deterministic surrogate-loss
    // GD, integer-exact gradient sums, weights hash-gate bit-for-bit
    "probe_train_quality" -> ((s, dir) => {
      graft.ops.Probe.trainQualityProbe(qualityGopher(s, dir))
    }),
    // …and APPLY it: every doc scored with the trained probe — the
    // smooth ranking the hard bands cannot give (train -> score in
    // one composed operation)
    "probe_score_quality" -> ((s, dir) => {
      graft.ops.Probe.scoreQualityProbe(qualityGopher(s, dir))
    }),
    // train/serve split hygiene: weights fit on HALF the corpus, every
    // doc scored, held-out rows flagged — the generalization check a
    // production probe ships with (ProbeSpec locks held-out accuracy
    // above the majority class)
    "probe_holdout_quality" -> ((s, dir) => {
      graft.ops.Probe.scoreHoldoutProbe(qualityGopher(s, dir), "doc_id % 2 = 0")
    }),
    // percentile-CALIBRATED quality bands (Percentiles.calibrateBands):
    // the raw score rank-normalized into deciles, so "top 30%" rules
    // transfer across corpora; boundaries via the two-level rank
    // selection, never a corpus sort
    "text_quality_calibrated" -> ((s, dir) =>
      graft.ops.Percentiles.calibrateBands(
        textStats(s, dir).select(col("doc_id"), col("quality_score")),
        "doc_id", "quality_score", 10)),
    "text_langid" -> langId,
    "text_fingerprint" -> ((s, dir) => docs(s, dir).select(col("doc_id"),
      md5(TextFns.normText(col("text"))).as("fp"))),
    // tokenizer FERTILITY by language: chars per BPE-ish token in
    // centi-units — the multilingual tokenizer-efficiency diagnostic
    // (a high-fertility language pays more tokens per char of content,
    // skewing compute share); per-stratum aggregate of the same
    // subword pattern text_token_count locks
    "text_fertility" -> ((s, dir) =>
      docs(s, dir).select(col("lang"),
        length(col("text")).cast("long").as("nc"),
        size(regexp_extract_all(col("text"),
          lit("'[sdmt]|'ll|'ve|'re| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"),
          lit(0))).cast("long").as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nc").as("n_chars"),
          sum("nt").as("n_bpe_tokens"))
        .withColumn("cpt_centi",
          expr("n_chars * 100 div greatest(n_bpe_tokens, 1)"))),
    // lexical diversity: type-token ratio on the \S+ tokenizer — the
    // Gopher-class "fraction of unique words" signal (a low TTR doc
    // is boilerplate/repetition even when its other stats pass);
    // row-local array_distinct, scan speed
    "text_ttr" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
          .as("n_tokens"),
        size(array_distinct(expr("regexp_extract_all(text, '\\\\S+', 0)")))
          .cast("long").as("n_types"))
        .withColumn("ttr_bp", expr("n_types * 10000 div greatest(n_tokens, 1)"))),
    "text_token_count" -> ((s, dir) =>
      TextFns.withShingles(docs(s, dir)).select(col("doc_id"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tokens"),
        // BPE-ish subword count: simplified GPT-2-style pattern (no
        // lookahead — RE2/Java parity); apostrophe contractions,
        // space-prefixed letter/number runs, punctuation runs
        size(regexp_extract_all(col("text"),
          lit("'[sdmt]|'ll|'ve|'re| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"),
          lit(0))).cast("long").as("n_bpe_tokens"),
        size(col("shingles")).cast("long").as("n_shingles"))),
    // REAL learned-merge-table BPE (graft.functions.BpeModel): the
    // merge table is constant model state like `planes`, so the oracle
    // replays tokenization as a closed-form char-space + replace chain
    "text_bpe" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), expr("bpe_count(text)").as("n_bpe"))
    }),
    // tokenizer TRAINING over the corpus (graft.ops.Tokenizer): the
    // data-scale work is one word-frequency aggregation; the greedy
    // merge loop folds the vocabCap-bounded vocab at the driver, and
    // the oracle replays the SAME loop as nMerges unrolled CTE stages
    "text_bpe_train" -> ((s, dir) =>
      graft.ops.Tokenizer.bpeTrain(docs(s, dir), BPE_TRAIN_MERGES,
        BPE_TRAIN_VOCAB)),
    "dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), 0.8)),
    // asymmetric near-containment (Dedup.containmentPairs): snippet-
    // inside-page dedup Jaccard misses; df-ceiling posting lists for
    // candidates, exact array_intersect verify
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), 0.8, 32)),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), 0.8)),
    // LSH candidate-recall evaluation: what fraction of the TRUE
    // >=0.8-Jaccard pairs does banded MinHash recover — the
    // index-trust measurement loop on the dedup plane (sim_recall's
    // twin; at k=64/b=16 the S-curve puts j=0.8 recall near 100%, and
    // THIS gate is what proves that instead of assuming it)
    "dedup_recall_minhash" -> ((s, dir) => {
      val docsSh = graft.core.EscapedCaches.persistTracked(
        graft.ops.TextFns.withShingles(
            graft.ops.Dedup.spreadDocs(docs(s, dir)))
          .select(col("doc_id"), col("shingles")))
      val exact = Dedup.ngramJaccardPairsFrom(docsSh, 0.8)
        .select("doc_a", "doc_b")
      val lsh = Dedup.minhashLshPairsFrom(docsSh, 0.8)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
      exact.join(lsh, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
        .selectExpr("n_true", "n_found",
          "CASE WHEN n_true = 0 THEN 10000 ELSE n_found * 10000 div n_true END AS recall_bp")
    }),
    "dedup_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    "dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(docs(s, dir), 3)),
    "dedup_materialize" -> ((s, dir) =>
      Dedup.dropNearDuplicates(docs(s, dir), 0.8)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(Dedup.minhashLshPairs(docs(s, dir), 0.8))),
    // skewed-corpus twins: corpus + a planted 400-member template
    // family (every LSH band a hot key), run with the hot-band cap so
    // candidate volume stays linear — see skewedDocs/skewMinhashOracle
    "dedup_minhash_skew" -> ((s, dir) =>
      Dedup.minhashLshPairs(skewedDocs(s, dir), 0.8,
        maxBandGroup = SKEW_CAP)),
    "dedup_clusters_skew" -> ((s, dir) =>
      Dedup.duplicateClusters(Dedup.minhashLshPairs(skewedDocs(s, dir), 0.8,
        maxBandGroup = SKEW_CAP))),
    // the hot-band cap's MEASURED pair recall (the documented caveat on
    // minhashLshPairs as a gated number): same evaluation as
    // dedup_recall_minhash, over the planted-skew corpus WITH the cap
    // active. Pair-level recall is LOW BY DESIGN here — the capped
    // family enumerates hub stars (399 of its 79.8k true pairs); the
    // cluster-level complement, dedup_clusters_skew, proves the star
    // preserves every family's connected component exactly
    "dedup_recall_minhash_capped" -> ((s, dir) => {
      // ONE shingle relation feeds the exact-Jaccard oracle AND the
      // capped-LSH candidate pass (r16, verdict #1): shingling the
      // planted-skew corpus twice — once per branch, the un-shared
      // shape — made this the fleet's most box-load-sensitive key
      val docsSh = graft.core.EscapedCaches.persistTracked(
        graft.ops.TextFns.withShingles(
            graft.ops.Dedup.spreadDocs(skewedDocs(s, dir)))
          .select(col("doc_id"), col("shingles")))
      val exact = Dedup.ngramJaccardPairsFrom(docsSh, 0.8)
        .select("doc_a", "doc_b")
      val lsh = Dedup.minhashLshPairsFrom(docsSh, 0.8,
          maxBandGroup = SKEW_CAP)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
      exact.join(lsh, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
        .selectExpr("n_true", "n_found",
          "CASE WHEN n_true = 0 THEN 10000 ELSE n_found * 10000 div n_true END AS recall_bp")
    }),
    // integer-exact PageRank over the same near-dup pair graph
    // (graft.ops.Graph): centrality-based canonical-copy election
    // beside dedup_clusters' min-id
    "graph_pagerank" -> ((s, dir) =>
      graft.ops.Graph.pagerank(Dedup.minhashLshPairs(docs(s, dir), 0.8))),
    // per-node triangle counts over the same pair graph (Graph
    // .triangles): clique-vs-chain cohesion — degree-ordered wedge
    // enumeration keeps the self-join √m-bounded on Zipf hubs
    "graph_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangles(Dedup.minhashLshPairs(docs(s, dir), 0.8))),
    // the composed action: per duplicate cluster keep the most central
    // member (Graph.canonicalByRank over the same pair graph)
    "dedup_canonical_rank" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(docs(s, dir), 0.8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ops.Graph.canonicalByRank(
        Dedup.duplicateClusters(pairs), graft.ops.Graph.pagerank(pairs))
    }),
    // the composed end-user operation: quality-filter + near-dup
    // materialization in one plan (what a training-data pipeline
    // actually ships to the trainer)
    // deterministic 10% hash sample — the scale-correct subsampling
    // primitive: reproducible across runs/retries (rand() is neither),
    // stable under corpus growth (membership depends only on doc_id)
    "sample_corpus" -> ((s, dir) =>
      graft.ops.Sampling.uniformHash(docs(s, dir), "doc_id", 10)
        .select("doc_id", "lang", "source", "n_chars")),
    // weight-proportional retention, weight = 10·n_chars bp (length-
    // proportional keep probability, 5%-55% across the fixture) — the
    // integer-exact form of quality-weighted sampling
    // EXACT-k deterministic eval split (Sampling.topKHash): hash-
    // ordered top-25 per language — fixed SIZE where rate sampling
    // gives fixed membership; one keyed window, never global
    "sample_eval_topk" -> ((s, dir) =>
      graft.ops.Sampling.topKHash(docs(s, dir), "doc_id", "lang", 25)
        .select("doc_id", "lang", "rank")),
    // train/val/test split assignment (Sampling.assignSplits): one
    // hash, cumulative 90/5/5 bands — every doc in exactly one split,
    // stable under growth; still a stateless row-local projection
    "sample_split" -> ((s, dir) =>
      graft.ops.Sampling.assignSplits(docs(s, dir), "doc_id",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .select("doc_id", "lang", "split")),
    "sample_weighted" -> ((s, dir) =>
      graft.ops.Sampling.weightedHash(docs(s, dir), "doc_id",
          col("n_chars") * 10)
        .select("doc_id", "lang", "source", "n_chars")),
    // stratified rebalancing: the dominant language (en, ~45% of the
    // fixture) downsampled to 30% while every other stratum keeps 100%
    // — the multilingual-corpus construction primitive. Same stateless
    // hash predicate, rate selected by a literal when-chain per stratum
    "sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedHash(docs(s, dir), "lang", "doc_id",
        Map("en" -> 30), defaultPct = 100)
        .select("doc_id", "lang", "source", "n_chars")),
    // character-level edit-distance near-dups (prefix+length blocking,
    // levenshtein verify on candidates only)
    "dedup_editdist" -> ((s, dir) =>
      Dedup.editDistancePairs(docs(s, dir), 20)),
    // incremental ingest dedup (graft.ops.Dedup.incrementalSuppress):
    // the 20% 'ingest'-namespace hash split arrives as a new batch
    // against the other 80% as accepted corpus; per-batch cost scales
    // with the batch (band joins keyed by the batch's signatures)
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val isIn = graft.ops.Sampling.uniformHashPredicate(
        col("doc_id"), 20, "ingest")
      Dedup.incrementalSuppress(d.filter(!isIn), d.filter(isIn), 0.8)
    }),
    // benchmark decontamination (graft.ops.Decontam): flag training
    // docs sharing word 8-grams with the deterministic 20% eval split
    // — ONE equality join on a 60-bit gram hash, benchmark side
    // broadcast by AQE when small
    "decontam_overlap" -> ((s, dir) =>
      graft.ops.Decontam.trainEvalOverlap(docs(s, dir), 20, 8)),
    // sequence packing (graft.ops.Packing): concat-then-chunk spans at
    // 512-token sequences via the two-level distributed prefix-scan
    // (shardSize 64 exercises multi-shard recombination at this SF)
    "pack_sequences" -> ((s, dir) =>
      graft.ops.Packing.sequenceSpans(docs(s, dir), 512, 64)),
    // length-bucketed batching (graft.ops.Packing.lengthBuckets):
    // quantile boundaries as broadcast model state, assignment at
    // scan speed
    "pack_length_buckets" -> ((s, dir) =>
      graft.ops.Packing.lengthBuckets(docs(s, dir), 4)),
    // GK sketch tier of length bucketing (Packing.
    // lengthBucketsApproxVerified): boundaries from percentile_approx
    // reduced to tie-aware integer rank verdicts the oracle reproduces
    // as constants — the agg_approx_percentiles gating pattern
    "pack_length_buckets_gk" -> ((s, dir) =>
      graft.ops.Packing.lengthBucketsApproxVerified(docs(s, dir), 4)),
    // context-window chunking (Packing.chunkWithOverlap): stride-30
    // overlapping 40-token windows per doc — zero-shuffle map-only
    // generate, the split-long-documents dual of pack_sequences
    "pack_chunk_overlap" -> ((s, dir) =>
      graft.ops.Packing.chunkWithOverlap(docs(s, dir), CHUNK_TOKENS, CHUNK_STRIDE)),
    // corpus-mixture planning (graft.ops.Mixing): the 40/15/15/15/15
    // language recipe against actual supply — binding stratum caps the
    // total, rates feed stratifiedHash (recipe shared with the oracle
    // builder so the two cannot drift)
    "mix_plan" -> ((s, dir) =>
      graft.ops.Mixing.plan(docs(s, dir), "lang", MIX_TARGETS.toMap)),
    // temperature sampling at τ=2 when no hand recipe exists: shares ∝
    // sqrt(supply) upweight tail languages; α=1/2 keeps the weights
    // integer-exact cross-engine (IEEE sqrt is correctly rounded)
    "mix_temperature" -> ((s, dir) =>
      graft.ops.Mixing.temperaturePlan(docs(s, dir), "lang")),
    // fixed-budget epoch planning (Mixing.epochPlan): budget = 2x the
    // corpus, so recipe strata above their natural share must REPEAT
    // (epochs > 1.00) — the oversampling answer mix_plan refuses
    "mix_epochs" -> ((s, dir) =>
      graft.ops.Mixing.epochPlan(docs(s, dir), "lang", MIX_TARGETS.toMap)),
    // URL/provenance canonicalization (graft.ops.UrlCanon): planted
    // messy urls → C4/CCNet rule-chain canonical form + bare host —
    // pure projection, scan speed
    "text_url_canon" -> ((s, dir) =>
      graft.ops.UrlCanon.canonicalizeUrls(docs(s, dir))),
    // URL-grain exact dedup on the canonical key (C4's dedup grain):
    // one groupBy; the plant collapses case/www/port/suffix/query
    // variants so real duplicate groups exist by construction
    "dedup_url" -> ((s, dir) =>
      graft.ops.UrlCanon.dedupByUrl(docs(s, dir))),
    // provenance-aware mixing: host strata from the canonical urls
    // drive Mixing.plan's budgets — canonicalize → group by
    // provenance → plan, the composed curation step
    "mix_hosts" -> ((s, dir) =>
      graft.ops.UrlCanon.hostMixPlan(docs(s, dir))),
    // the round-8 composed pipeline — the full shard-prep chain a
    // pretraining corpus ships through as ONE plan: URL-grain dedup
    // keepers → decontamination-clean train docs → Gopher quality
    // keeps → stride-overlapped training windows
    "pipeline_pretrain_shards" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepUrl = graft.ops.UrlCanon.dedupByUrl(d)
        .select(col("keep_doc_id").as("doc_id"))
      val clean = graft.ops.Decontam.trainEvalOverlap(d, 20, 8)
        .filter(col("contaminated") === 0).select("doc_id")
      val good = qualityGopher(s, dir).filter(col("keep") === 1).select("doc_id")
      graft.ops.Packing.chunkWithOverlap(
        d.join(keepUrl, "doc_id").join(clean, "doc_id").join(good, "doc_id"),
        CHUNK_TOKENS, CHUNK_STRIDE)
    }),
    // rarity-weighted top terms per doc (integer-exact tf/df scoring —
    // the cross-engine-gateable face of tf-idf; see graft.ops.Terms)
    "text_top_terms" -> ((s, dir) =>
      graft.ops.Terms.topTermsByRarity(docs(s, dir), 3)),
    // BM25 ranked retrieval (graft.ops.Search): whole-bit integer idf,
    // per-term micros floored before the order-independent sum,
    // broadcast query workload — the search face of the text family
    "text_bm25" -> ((s, dir) =>
      graft.ops.Search.bm25TopK(docs(s, dir))),
    // exact phrase search over a positional inverted index: postings
    // vote for candidate starts (pos − idx), a start with len votes
    // matches — one broadcast join + one grouped count
    "text_phrase_search" -> ((s, dir) =>
      graft.ops.Search.phraseSearch(docs(s, dir))),
    // typo-tolerant lookup via a deletion-neighborhood (SymSpell)
    // index: equality-join candidates + exact levenshtein verify —
    // never an all-pairs distance scan
    "search_fuzzy" -> ((s, dir) =>
      graft.ops.Search.fuzzyLookup(docs(s, dir))),
    // unigram-LM perplexity-band quality filter (whole-bit surprisal —
    // the cross-engine-gateable face of CCNet LM filtering; see
    // graft.ops.Terms.unigramSurprisal). Band calibrated on this
    // corpus: near-uniform vocab puts docs at 400-450 centibits/token
    // (31 words ≈ 2⁵ → floor(log₂) = 4 for common terms), so the 403
    // ceiling cuts the rarer-term-heavy tail (~37% of sf0.01).
    "text_lm_surprisal" -> ((s, dir) =>
      graft.ops.Terms.unigramSurprisal(docs(s, dir), LM_MIN_CB, LM_MAX_CB)),
    // bigram conditional band: sf0.01 spans 408-468 cb/bigram with
    // median 432; [415, 445] cuts both tails (boilerplate-predictable
    // low end, word-salad high end)
    "text_lm_bigram" -> ((s, dir) =>
      graft.ops.Terms.bigramSurprisal(docs(s, dir), BG_MIN_CB, BG_MAX_CB)),
    // top-n-gram repetition share (Gopher repetition rules, n = 2, 3):
    // ZERO-shuffle scan projection via the fused norm_ngram_counts
    // walk + in-row map-value folds
    "text_rep_ngram" -> ((s, dir) =>
      graft.ops.Terms.topNgramRepetition(docs(s, dir))),
    // hashed-linear classifier inference (fasttext/CCNet shape):
    // zero-shuffle scan-speed scoring, fixture-derived weight table
    "text_classifier" -> ((s, dir) =>
      graft.ops.Terms.hashedLinearScore(docs(s, dir))),
    // composed quality stack: the two zero-shuffle signals (classifier,
    // repetition) stay scan filters feeding the LM join — ONE plan
    "pipeline_quality_stack" -> ((s, dir) => {
      val d = docs(s, dir)
      val cls = graft.ops.Terms.hashedLinearScore(d)
        .filter(col("keep") === 1).select(col("doc_id"), col("score"))
      val rep = graft.ops.Terms.topNgramRepetition(d)
        .filter(col("n2_bp") < REP_MAX_BP).select(col("doc_id"), col("n2_bp"))
      val lm = graft.ops.Terms.unigramSurprisal(d, LM_MIN_CB, LM_MAX_CB)
        .filter(col("keep") === 1)
        .select(col("doc_id"), col("mean_centibits").as("uni_cb"))
      d.select("doc_id", "lang", "source", "n_chars")
        .join(cls, "doc_id").join(rep, "doc_id").join(lm, "doc_id")
    }),
    // round-6 composed curation: BOTH LM bands + weight-proportional
    // retention in ONE plan — the surprisal models join on doc_id
    // (each exchange-reused internally), the weighted predicate stays
    // a scan filter on the corpus side
    "pipeline_lm_curate" -> ((s, dir) => {
      val d = docs(s, dir)
      val uni = graft.ops.Terms.unigramSurprisal(d, LM_MIN_CB, LM_MAX_CB)
        .filter(col("keep") === 1)
        .select(col("doc_id"), col("mean_centibits").as("uni_cb"))
      val bi = graft.ops.Terms.bigramSurprisal(d, BG_MIN_CB, BG_MAX_CB)
        .filter(col("keep") === 1)
        .select(col("doc_id"), col("mean_centibits").as("bi_cb"))
      graft.ops.Sampling.weightedHash(d, "doc_id", col("n_chars") * 10)
        .select("doc_id", "lang", "source", "n_chars")
        .join(uni, "doc_id").join(bi, "doc_id")
    }),
    "pipeline_clean_corpus" -> ((s, dir) => {
      val quality = textStats(s, dir).select(col("doc_id"), col("quality_score"))
      val losers = Dedup.minhashLshPairs(docs(s, dir), 0.8)
        .select(col("doc_b").as("doc_id")).distinct()
      docs(s, dir).join(quality, "doc_id")
        .filter(col("quality_score") >= 74000)
        .join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars", "quality_score")
    }),
    // PII scrubbing (TextFns.redactPii): the fixture text carries no
    // PII, so the gate augments each doc with deterministic id-derived
    // email/phone/IP spans — BOTH engines derive the same augmented
    // text, then count and redact it with the shared patterns
    "text_pii_redact" -> ((s, dir) => {
      val aug = piiAugmented(col("text"), col("doc_id"))
      docs(s, dir).select(col("doc_id"),
        TextFns.countMatches(aug, TextFns.EMAIL_RE).as("n_email"),
        TextFns.countMatches(aug, TextFns.PHONE_RE).as("n_phone"),
        TextFns.countMatches(aug, TextFns.IP_RE).as("n_ip"),
        md5(TextFns.redactPii(aug)).as("red_fp"),
        length(TextFns.redactPii(aug)).cast("long").as("red_len"))
    }),
    // duplicated-block fraction (Dedup.duplicateBlockStats): cross-doc
    // boilerplate share per doc over non-overlapping DUP_TOKENS-token
    // blocks (plan and oracle share the constant — see its scaladoc)
    "text_dup_blocks" -> ((s, dir) =>
      Dedup.duplicateBlockStats(docs(s, dir), DUP_TOKENS)),
    // duplicated-SPAN coverage (Dedup.dupSpanCoverage): overlapping
    // DUP_TOKENS-gram windows + per-doc interval union — the
    // alignment-free span-dedup signal fixed blocks miss at boundaries
    "text_dup_spans" -> ((s, dir) =>
      Dedup.dupSpanCoverage(docs(s, dir), DUP_TOKENS)),
    // span-dedup APPLY (Dedup.applySpanDedup): trim every cross-doc
    // duplicated span from the kept text — the curation action behind
    // the coverage signal; oracle replays the token-interval
    // arithmetic and hashes the rebuilt text
    "text_dedup_spans_apply" -> ((s, dir) =>
      Dedup.applySpanDedup(docs(s, dir), DUP_TOKENS)),
    // sparse doc similarity (Terms.similarDocsByRareFeatures):
    // inverted-index candidates on rare shingles (df ≤ 10), exact
    // shared-feature counts — the text-side LSH-bucket analog
    "text_similar_rare" -> ((s, dir) =>
      graft.ops.Terms.similarDocsByRareFeatures(docs(s, dir), 10, 2)),
    // the round-5 composed pipeline: blocklist suppression → quality
    // filter → PII-redacted fingerprints — the curation chain a
    // training corpus actually ships through, as ONE plan
    "pipeline_curate_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      val isBl = graft.ops.Sampling.uniformHashPredicate(
        col("doc_id"), 10, "blocklist")
      val kept = Dedup.suppressBlocklist(d.filter(!isBl), d.filter(isBl))
        .select("doc_id")
      val good = qualityGopher(s, dir)
        .filter(col("keep") === 1).select("doc_id")
      d.join(kept, "doc_id").join(good, "doc_id")
        .select(col("doc_id"), md5(TextFns.redactPii(col("text"))).as("red_fp"))
    }),
    // blocklist suppression (Dedup.suppressBlocklist): the 10%
    // 'blocklist' hash split is the banned set; the bloom prefilter
    // keeps clean rows shuffle-free, exact verify keeps the gate exact
    "dedup_blocklist" -> ((s, dir) => {
      val d = docs(s, dir)
      val isBl = graft.ops.Sampling.uniformHashPredicate(
        col("doc_id"), 10, "blocklist")
      Dedup.suppressBlocklist(d.filter(!isBl), d.filter(isBl))
    }),
    // encoding repair (TextFns.fixMojibake): the fixture text carries
    // no mojibake, so the gate plants id-derived cp1252 double-decode
    // sequences (same augmentation discipline as text_pii_redact) and
    // both engines count + repair them with the shared table
    "text_fix_mojibake" -> ((s, dir) =>
      fixMojibakeProjection(docs(s, dir))),
    // Unicode-script composition (TextFns.scriptCount/dominantScript):
    // the script-mix signal language id alone misses (code-switching,
    // wrong-script spam); planted runs make per-doc counts vary and
    // flip dominance on the %7 docs — pure length-arithmetic scan
    "text_script_mix" -> ((s, dir) =>
      scriptMixProjection(docs(s, dir))),
    // HTML main-content extraction (Html.extractText): planted page
    // wrapper stripped back to text — script/style payloads vanish
    // with content, entities decode, tags become spaces; scan speed
    "text_strip_html" -> ((s, dir) =>
      graft.ops.Html.extractText(docs(s, dir))),
    // href extraction + canonicalization (Html.extractLinks): the
    // anchor's messy planted url flows through the SAME canonical
    // rule chain as text_url_canon — extracted and declared
    // provenance share one key space
    "text_html_links" -> ((s, dir) =>
      graft.ops.Html.extractLinks(docs(s, dir))),
    // the composed WEB-INGESTION pipeline: raw crawl page (pii +
    // mojibake planted inside the html body) → strip boilerplate →
    // repair encoding (stepwise literal chain) → redact PII →
    // url-grain keep on the canonicalized extracted href — the chain
    // a crawl actually ships through before any text operator, as ONE
    // plan (single corpus scan per side + a tiny url-winner join)
    "pipeline_web_ingest" -> ((s, dir) => {
      val body = mojiAugmented(
        piiAugmented(col("text"), col("doc_id")), col("doc_id"))
      val page = graft.ops.Html.augHtml(body, col("doc_id"))
      val stripped = docs(s, dir).select(col("doc_id"), page.as("page"))
        .withColumn("s0", graft.ops.Html.stripHtml(col("page")))
      val chained = TextFns.MOJIBAKE.zipWithIndex.foldLeft(stripped) {
        case (df, ((m, f), i)) =>
          df.withColumn(s"s${i + 1}", replace(col(s"s$i"), lit(m), lit(f)))
      }
      val staged = chained.select(col("doc_id"), col("page"),
        TextFns.redactPii(col(s"s${TextFns.MOJIBAKE.size}")).as("clean"))
      val keyed = staged.withColumn("url",
          regexp_extract(col("page"), "<a[^>]*href=\"([^\"]*)\"", 1))
        .select(col("doc_id"), col("clean"),
          graft.ops.UrlCanon.canonical(col("url")).as("url_canon"),
          graft.ops.UrlCanon.host(col("url")).as("host"))
      val winners = keyed.groupBy("url_canon")
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      keyed.join(winners, "doc_id")
        .select(col("doc_id"), col("host"),
          md5(col("clean")).as("clean_fp"),
          length(col("clean")).cast("long").as("clean_len"),
          TextFns.countMatches(col("clean"), "\\S+").as("n_tokens"))
    }),
  )

  /** The mojibake gate's projection — shared with StreamSurface's
    * continuous twin (stateless per-row scan, so stream == batch).
    *
    * Zero regex passes: the repairs are stepwise literal `replace`
    * columns, and since every occurrence of a length-L pattern
    * shrinks the string by exactly L−1 chars, the count falls out of
    * the per-step LENGTH deltas — no alternation scan (which measured
    * as the dominant cost at sf1/30x). Equal to
    * [[TextFns.countMojibake]] because distinct patterns can never
    * overlap (disjoint lead chars + per-family second chars). */
  private[queries] def fixMojibakeProjection(d: DataFrame): DataFrame = {
    val steps = TextFns.MOJIBAKE.zipWithIndex
    val chained = steps.foldLeft(
      d.select(col("doc_id"),
        mojiAugmented(col("text"), col("doc_id")).as("s0"))) {
      case (df, ((m, f), i)) =>
        df.withColumn(s"s${i + 1}", replace(col(s"s$i"), lit(m), lit(f)))
    }
    val last = s"s${steps.size}"
    val nMoji = steps.map { case ((m, _), i) =>
      expr(s"(length(s$i) - length(s${i + 1})) div ${m.length - 1}")
    }.reduce(_ + _)
    chained.select(col("doc_id"), nMoji.cast("long").as("n_moji"),
      md5(col(last)).as("fixed_fp"),
      length(col(last)).cast("long").as("fixed_len"))
  }

  /** Deterministic PII augmentation — one derivation, rendered for
    * Spark here and for DuckDB in [[PII_AUG_SQL]]; the two strings
    * must stay field-for-field identical. */
  private def piiAugmented(text: Column, docId: Column): Column =
    concat(text,
      lit(" contact user"), docId.cast("string"),
      lit("@ex"), (docId % 7).cast("string"),
      lit(".org call +1-415-555-"),
      lpad((docId % 10000).cast("string"), 4, "0"),
      lit(" host 10."), (docId % 256).cast("string"),
      lit(".0."), (docId % 100).cast("string"))

  private def piiAugSql(e: String): String =
    s"$e || ' contact user' || CAST(doc_id AS VARCHAR) || '@ex' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '.org call +1-415-555-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' host 10.' || " +
      "CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)"

  private val PII_AUG_SQL: String = piiAugSql("text")

  /** Deterministic mojibake augmentation: per corruption pattern i,
    * append one copy when doc_id % (i+2) == 0, two copies otherwise —
    * per-doc counts vary so the gate can't pass on a constant. Both
    * renderings fold over the SAME [[TextFns.MOJIBAKE]] table. */
  private def mojiAugmented(text: Column, docId: Column): Column =
    TextFns.MOJIBAKE.zipWithIndex.foldLeft(text) {
      case (acc, ((m, _), i)) =>
        concat(acc, lit(" w"),
          when(pmod(docId, lit(i + 2)) === 0, lit(m)).otherwise(lit(m + m)))
    }

  private def mojiAugSqlOf(e: String): String =
    TextFns.MOJIBAKE.zipWithIndex.foldLeft(e) {
      case (acc, ((m, _), i)) =>
        s"$acc || ' w' || CASE WHEN doc_id % ${i + 2} = 0 THEN '$m' ELSE '$m$m' END"
    }

  private def mojiAugSql: String = mojiAugSqlOf("text")

  // script-plant runs (escape-only literals, the MOJIBAKE discipline):
  // Cyrillic abvg, Han one-two-three, Arabic alef-ba
  private val CYR = "\u0430\u0431\u0432\u0433"
  private val HAN = "\u4E00\u4E8C\u4E09"
  private val ARB = "\u0627\u0628"

  /** Deterministic script augmentation: a long Cyrillic run on doc_id
    * % 7 == 0 (flips dominance for short docs), small varied runs
    * otherwise -- per-doc counts vary per script. */
  private def scriptAugmented(text: Column, id: Column): Column =
    concat(text, lit(" "),
      when(pmod(id, lit(7)) === 0, lit(CYR * 30))
        .when(pmod(id, lit(3)) === 0, lit(CYR)).otherwise(lit(CYR + CYR)),
      lit(" "),
      when(pmod(id, lit(2)) === 0, lit(HAN)).otherwise(lit(HAN + HAN)),
      lit(" "),
      when(pmod(id, lit(5)) === 0, lit(ARB)).otherwise(lit("")))

  /** The script gate's projection — shared with StreamSurface's
    * continuous twin (stateless per-row scan, so stream == batch). */
  private[queries] def scriptMixProjection(d: DataFrame): DataFrame = {
    val aug = scriptAugmented(col("text"), col("doc_id"))
    d.select((col("doc_id") +:
      TextFns.SCRIPTS.map { case (n, j, _) =>
        TextFns.scriptCount(aug, j).as(s"${n}_n") }) :+
      TextFns.dominantScript(aug).as("dominant"): _*)
  }

  private def scriptAugSql: String =
    s"text || ' ' || CASE WHEN doc_id % 7 = 0 THEN '${CYR * 30}' " +
      s"WHEN doc_id % 3 = 0 THEN '$CYR' ELSE '$CYR$CYR' END" +
      s" || ' ' || CASE WHEN doc_id % 2 = 0 THEN '$HAN' ELSE '$HAN$HAN' END" +
      s" || ' ' || CASE WHEN doc_id % 5 = 0 THEN '$ARB' ELSE '' END"

  // ---- DuckDB oracles ----

  /** The mixing recipe — ONE definition feeds the Spark query's map
    * AND the oracle's CASE arms + declared-strata list. */
  private val MIX_TARGETS: Seq[(String, Int)] = Seq(
    "de" -> 1500, "en" -> 4000, "es" -> 1500, "fr" -> 1500, "zh" -> 1500)

  private val NORM =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  // unigram-surprisal keep band, centibits/token (see Terms scaladoc);
  // package-visible: StreamSurface's frozen-model scorer shares them
  private[queries] val LM_MIN_CB = 300L
  private[queries] val LM_MAX_CB = 403L

  // bigram-surprisal keep band, centibits/bigram
  private val BG_MIN_CB = 415L
  private val BG_MAX_CB = 445L

  // dup-block/dup-span window width in tokens: the Spark call sites
  // AND the oracle SQL's window arithmetic both derive from this one
  // constant so they cannot silently desynchronize (ADVICE r6)
  private val DUP_TOKENS = 10
  private val CHUNK_TOKENS = 40
  private val CHUNK_STRIDE = 30

  // repetition cap for the composed quality stack (sf0.01 n2_bp median
  // is 333, p75 476 — 400 cuts the repetitive ~40% tail)
  private val REP_MAX_BP = 400L

  /** text_classifier oracle (also a subquery of the quality stack). */
  private lazy val classifierOracle: String =
    s"""WITH n AS (SELECT doc_id, $NORM AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tk
       |  FROM n WHERE t <> ''),
       |s AS (SELECT doc_id, count(*) AS n_tokens,
       |    sum(((${h60sql("tk")} % 4096) * 2654435761) % 1997 - 998) AS score
       |  FROM tok GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(score, 0) AS BIGINT) AS score,
       |  CAST(CASE WHEN coalesce(score, 0) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin

  /** text_rep_ngram oracle (also a subquery of the quality stack). */
  private lazy val repNgramOracle: String = {
    def cte(n: Int, p: String) = {
      val hi = if (n == 2) "len(tk)" else s"len(tk) - ${n - 2}"
      val gram = (0 until n).map(q => s"tk[i+$q]").mkString(" || ' ' || ")
      s"""g$p AS (SELECT doc_id, unnest([$gram FOR i IN range(1, $hi)]) AS g
         |  FROM tk WHERE len(tk) >= $n AND t <> ''),
         |c$p AS (SELECT doc_id, g, count(*) AS c FROM g$p GROUP BY 1, 2),
         |s$p AS (SELECT doc_id, sum(c) AS total, max(c) AS top FROM c$p GROUP BY 1)"""
        .stripMargin
    }
    def outCols(p: String, name: String) =
      s"""  CAST(coalesce(s$p.total, 0) AS BIGINT) AS ${name}_total,
         |  CAST(coalesce(s$p.top, 0) AS BIGINT) AS ${name}_top,
         |  CAST(coalesce(s$p.top, 0) * 10000 //
         |    greatest(coalesce(s$p.total, 0), 1) AS BIGINT) AS ${name}_bp""".stripMargin
    s"""WITH n AS (SELECT doc_id, $NORM AS t FROM documents),
       |tk AS (SELECT doc_id, t, string_split(t, ' ') AS tk FROM n),
       |${cte(2, "a")},
       |${cte(3, "b")}
       |SELECT d.doc_id,
       |${outCols("a", "n2")},
       |${outCols("b", "n3")}
       |FROM documents d LEFT JOIN sa USING (doc_id) LEFT JOIN sb USING (doc_id)""".stripMargin
  }

  /** Shared shingle CTEs (norm → tokens → distinct word trigrams) over
    * an arbitrary (doc_id, text) source relation. */
  private def shingleCtesOver(src: String) =
    s"""n AS (SELECT doc_id, $NORM AS t FROM $src),
       |tk AS (SELECT doc_id, string_split(t, ' ') AS t2 FROM n),
       |s AS (SELECT doc_id, unnest(list_distinct(
       |  [t2[i] || ' ' || t2[i+1] || ' ' || t2[i+2] FOR i IN range(1, len(t2)-1)])) AS sh
       |  FROM tk WHERE len(t2) >= 3),
       |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1)""".stripMargin

  private val SHINGLE_CTES = shingleCtesOver("documents")

  private[queries] def h60sql(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** Mirrors Dedup.minhashLshPairs at the production defaults k=64/
    * b=16 (r=4): ONE md5 per shingle reduced mod 2^30, then 64
    * universal-hash permutations (a_i*h + b_i) mod (2^31-1) with the
    * a_i/b_i constants inlined from the identical driver-side
    * derivation (Dedup.mhParams). The Jaccard verify keeps the exploded
    * equality-join formulation — same value as the Spark side's
    * array_intersect over distinct shingle sets. */
  /** WITH-clause body ending in sig(doc_id, m0..m63) — the signature
    * derivation shared by [[minhashOracle]] and the streaming
    * signature-set dedup oracle (StreamSurface.stream_dedup_minhash). */
  private[queries] def minhashSigCtesOver(src: String): String = {
    val sigCols = Dedup.mhParams(64).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * (${h60sql("sh")} % ${Dedup.MH_M}) + $b) % ${Dedup.MH_P}) AS m$i"
    }.mkString(", ")
    s"""${shingleCtesOver(src)},
       |sig AS (SELECT doc_id, $sigCols FROM s GROUP BY 1)""".stripMargin
  }

  private[queries] val minhashSigCtes: String = minhashSigCtesOver("documents")

  private val ngramJaccardOracle: String =
    s"""WITH $SHINGLE_CTES,
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
       |FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
       |WHERE round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) >= 0.8""".stripMargin

  private val minhashOracle: String = {
    val k = 64; val bands = 16; val r = k / bands
    val bandRows = (0 until bands).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws('_', " +
        (0 until r).map(j => s"m${b * r + j}").mkString(", ") + ") AS key FROM sig")
      .mkString(" UNION ALL ")
    s"""WITH $minhashSigCtes,
       |bands AS ($bandRows),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |inter AS (SELECT doc_a, doc_b, count(*) AS i FROM cand
       |  JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
       |FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
       |WHERE round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) >= 0.8""".stripMargin
  }

  // ---- skewed-corpus dedup fixture (the hot-band hazard) ----
  // One pathological template family planted IN-PLAN beside the real
  // corpus: every member shares a 47-word boilerplate plus a tiny
  // per-member suffix (pairwise Jaccard ≈ 0.96), so nearly all 16 LSH
  // bands collide for the WHOLE family — the exact shape (mirror
  // farms, license boilerplate) that makes plain banded self-joins
  // quadratic. The gates run minhashLshPairs with the hot-band cap
  // (maxBandGroup=64): oversized groups emit hub-star candidates only,
  // keeping candidate volume linear in the family size. Both engines
  // generate the family from the same template + range arithmetic.
  private[queries] val SKEW_FAMILY = 400
  private[queries] val SKEW_CAP = 64
  /** Planted-family doc_id offset. 9·10⁹ keeps the family disjoint from
    * any reachable corpus id (the base corpus ids are dense from 0, so
    * a collision needs a ~2M× scale multiple); the build-time guard in
    * [[skewedDocs]] fails loudly if a corpus ever reaches it — an
    * overlapping id would merge two texts' shingle sets under one
    * doc_id, silently corrupting the fixture on BOTH engines (gates
    * would still pass). */
  private[queries] val SKEW_OFFSET = 9000000000L
  private[queries] val SKEW_TEMPLATE: String =
    "this website and its contents are provided for general information " +
    "purposes only and nothing on this page constitutes professional " +
    "advice please consult a qualified specialist before acting on any " +
    "information contained herein all rights reserved unauthorized " +
    "reproduction of this material is strictly prohibited without prior " +
    "written consent"

  private[queries] def skewedDocs(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir).select(col("doc_id"), col("text"))
    // fixture-integrity guard (one column-pruned max scan): an id
    // collision would merge two texts' shingles under one doc_id
    val maxId = corpus.agg(max("doc_id")).head.getLong(0)
    require(maxId < SKEW_OFFSET,
      s"corpus doc_id $maxId reaches the planted-family offset $SKEW_OFFSET")
    val family = s.range(SKEW_FAMILY)
      .select((col("id") + SKEW_OFFSET).as("doc_id"),
        concat(lit(SKEW_TEMPLATE + " edition "),
          col("id").cast("string")).as("text"))
    corpus.unionByName(family)
  }

  private val skewSrcCte: String =
    s"""skewsrc AS (SELECT doc_id, text FROM documents UNION ALL
       |  SELECT $SKEW_OFFSET + i AS doc_id,
       |    '$SKEW_TEMPLATE edition ' || CAST(i AS VARCHAR) AS text
       |  FROM range($SKEW_FAMILY) t(i))""".stripMargin

  /** [[minhashOracle]] with the hub-star candidate rule for band-key
    * groups above SKEW_CAP — mirrors Dedup.minhashBandCandidates'
    * capped branch literally. */
  private val skewMinhashOracle: String = {
    val k = 64; val bands = 16; val r = k / bands
    val bandRows = (0 until bands).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws('_', " +
        (0 until r).map(j => s"m${b * r + j}").mkString(", ") + ") AS key FROM sig")
      .mkString(" UNION ALL ")
    s"""WITH $skewSrcCte,
       |${minhashSigCtesOver("skewsrc")},
       |bands AS ($bandRows),
       |gs AS (SELECT band, key, count(*) AS gn, min(doc_id) AS hub
       |  FROM bands GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM bands x JOIN gs g ON g.band = x.band AND g.key = x.key AND g.gn <= $SKEW_CAP
       |    JOIN bands y ON y.band = x.band AND y.key = x.key AND x.doc_id < y.doc_id
       |  UNION ALL
       |  SELECT g.hub AS doc_a, b.doc_id AS doc_b
       |    FROM bands b JOIN gs g ON g.band = b.band AND g.key = b.key
       |    WHERE g.gn > $SKEW_CAP AND b.doc_id > g.hub)),
       |inter AS (SELECT doc_a, doc_b, count(*) AS i FROM cand
       |  JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
       |FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
       |WHERE round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) >= 0.8""".stripMargin
  }

  /** Exact-Jaccard TRUE pairs over the planted-skew source — the
    * referent of the capped-recall gate ([[ngramJaccardOracle]] over
    * `skewsrc`). */
  private val skewNgramJaccardOracle: String =
    s"""WITH $skewSrcCte,
       |${shingleCtesOver("skewsrc")},
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
       |FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
       |WHERE round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) >= 0.8""".stripMargin

  /** n-bit SimHash signature CTE chain ending in sig(doc_id, simhash);
    * nHex md5 hex chars = 4*nHex vote bits, mirroring Dedup.simhashN. */
  private def simhashCtes(nBits: Int, nHex: Int): String = {
    val votes = (0 until nBits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i").mkString(", ")
    val sig = (0 until nBits).map(i =>
      s"(CASE WHEN v$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, $nHex))::BIGINT AS h FROM toks),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY 1),
       |sig AS (SELECT doc_id, $sig AS simhash FROM v)""".stripMargin
  }

  private val simhashOracle: String =
    s"WITH ${simhashCtes(32, 8)}\nSELECT doc_id, simhash FROM sig"

  /** Mirrors Dedup.simhashPairs: 60-bit signature, 4x15-bit chunk
    * blocking self-join, popcount(xor) Hamming verify at distance 3. */
  private val simhashPairsOracle: String =
    s"""WITH ${simhashCtes(60, 15)},
       |chunks AS (SELECT doc_id, simhash, c,
       |    (simhash >> (c * 15)) & 32767 AS k
       |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c))
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS dist
       |FROM chunks x JOIN chunks y
       |  ON x.c = y.c AND x.k = y.k AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin

  private val textStatsOracle: String =
    s"""SELECT doc_id, n_chars_raw, n_tokens, alpha_bp, digit_bp, stop_hits, stop_bp,
       |  CAST(5 * alpha_bp + 3 * (10000 - least(digit_bp * 2, 10000))
       |       + 2 * least(stop_bp * 4, 10000) AS BIGINT) AS quality_score
       |FROM (
       |  SELECT doc_id, n_chars_raw, n_tokens, stop_hits,
       |    CAST(alpha * 10000 // greatest(n_chars_raw, 1) AS BIGINT) AS alpha_bp,
       |    CAST(digits * 10000 // greatest(n_chars_raw, 1) AS BIGINT) AS digit_bp,
       |    CAST(stop_hits * 10000 // greatest(n_tokens, 1) AS BIGINT) AS stop_bp
       |  FROM (
       |    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_raw,
       |      CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |      length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
       |      length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
       |      CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS BIGINT) AS stop_hits
       |    FROM documents))""".stripMargin

  /** Mirrors qualityGopher count-for-count: \S+ tokenizer, non-space
    * code-point sum, space-joined gram distincts (unambiguous — tokens
    * cannot contain spaces), integer // arithmetic throughout. */
  private val qualityGopherOracle: String =
    """WITH tk AS (SELECT doc_id, text, regexp_extract_all(text, '\S+') AS t FROM documents),
      |c AS (SELECT doc_id, w, count(*) AS n
      |  FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY 1, 2),
      |top AS (SELECT doc_id, max(n) AS top_n FROM c GROUP BY 1),
      |g AS (SELECT tk.doc_id,
      |    len(t) AS n_words,
      |    length(regexp_replace(text, '\s', '', 'g')) AS sum_len,
      |    len(list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS d2,
      |    len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t)-1)])) AS d3,
      |    coalesce(top.top_n, 0) AS top_n
      |  FROM tk LEFT JOIN top ON top.doc_id = tk.doc_id),
      |m AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |    CAST(sum_len * 10000 // greatest(n_words, 1) AS BIGINT) AS mean_word_len_bp,
      |    CAST((greatest(n_words - 1, 0) - d2) * 10000 // greatest(n_words - 1, 1) AS BIGINT) AS dup_2gram_bp,
      |    CAST((greatest(n_words - 2, 0) - d3) * 10000 // greatest(n_words - 2, 1) AS BIGINT) AS dup_3gram_bp,
      |    CAST(top_n * 10000 // greatest(n_words, 1) AS BIGINT) AS top_word_bp
      |  FROM g)
      |SELECT doc_id, n_words, mean_word_len_bp, dup_2gram_bp, dup_3gram_bp, top_word_bp,
      |  CAST(CASE WHEN n_words BETWEEN 30 AND 50000
      |    AND mean_word_len_bp BETWEEN 30000 AND 100000
      |    AND dup_2gram_bp <= 600 AND dup_3gram_bp <= 200
      |    AND top_word_bp <= 1500 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM m""".stripMargin

  /** Mirrors Decontam.trainEvalOverlap row-for-row: same \S+ tokens,
    * same per-doc list_distinct 8-grams, same h60 gram hash and eval
    * split predicate; short docs enter via the LEFT JOIN as clean. */
  private val decontamOracle: String = {
    val gram8 = (0 until 8).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t,
       |    (${h60sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 < 20) AS is_eval
       |  FROM documents),
       |g AS (SELECT doc_id, is_eval,
       |    unnest(list_distinct([$gram8 FOR i IN range(1, len(t) - 6)])) AS gram
       |  FROM d WHERE len(t) >= 8),
       |h AS (SELECT doc_id, is_eval, ${h60sql("gram")} AS gh FROM g),
       |ev AS (SELECT DISTINCT gh FROM h WHERE is_eval),
       |cg AS (SELECT doc_id, count(*) AS n_grams FROM h WHERE NOT is_eval GROUP BY 1),
       |ht AS (SELECT h.doc_id, count(*) AS n_hit FROM h JOIN ev USING (gh)
       |  WHERE NOT is_eval GROUP BY 1)
       |SELECT a.doc_id, coalesce(cg.n_grams, 0) AS n_grams,
       |  coalesce(ht.n_hit, 0) AS n_hit,
       |  CAST(coalesce(ht.n_hit, 0) * 10000 // greatest(coalesce(cg.n_grams, 0), 1) AS BIGINT) AS hit_bp,
       |  CAST(CASE WHEN coalesce(ht.n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
       |FROM (SELECT doc_id FROM d WHERE NOT is_eval) a
       |LEFT JOIN cg USING (doc_id) LEFT JOIN ht USING (doc_id)""".stripMargin
  }

  /** Mirrors Dedup.incrementalSuppress: the shared signature CTEs over
    * ALL documents, band keys, candidates restricted to (incoming ×
    * existing, any order) ∪ (incoming × earlier incoming), exact
    * Jaccard verify, min-authority attribution, LEFT JOIN for clean
    * incoming docs. */
  private val incrementalOracle: String = {
    val k = 64; val bands = 16; val r = k / bands
    val bandRows = (0 until bands).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws('_', " +
        (0 until r).map(j => s"m${b * r + j}").mkString(", ") + ") AS key FROM sig")
      .mkString(" UNION ALL ")
    s"""WITH $minhashSigCtes,
       |bands AS ($bandRows),
       |mem AS (SELECT doc_id,
       |    (${h60sql("'ingest:' || CAST(doc_id AS VARCHAR)")} % 100 < 20) AS is_in
       |  FROM documents),
       |cand AS (SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS auth_id
       |  FROM bands i JOIN mem mi ON mi.doc_id = i.doc_id AND mi.is_in
       |  JOIN bands e ON e.band = i.band AND e.key = i.key
       |  JOIN mem me ON me.doc_id = e.doc_id
       |  WHERE (NOT me.is_in) OR e.doc_id < i.doc_id),
       |inter AS (SELECT in_id, auth_id, count(*) AS i FROM cand
       |  JOIN s sa ON sa.doc_id = in_id
       |  JOIN s sb ON sb.doc_id = auth_id AND sa.sh = sb.sh
       |  GROUP BY 1, 2),
       |ver AS (SELECT in_id, auth_id FROM inter
       |  JOIN sz x ON x.doc_id = in_id JOIN sz y ON y.doc_id = auth_id
       |  WHERE round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) >= 0.8),
       |mt AS (SELECT in_id, min(auth_id) AS dup_of FROM ver GROUP BY 1)
       |SELECT d.doc_id, mt.dup_of,
       |  CAST(CASE WHEN mt.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM mem d LEFT JOIN mt ON mt.in_id = d.doc_id WHERE d.is_in""".stripMargin
  }

  private val lmSurprisalOracle: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split($NORM, ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term <> '' GROUP BY 1, 2),
       |vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT sum(cnt) AS total FROM vocab),
       |bits AS (SELECT term, length(bin(CAST(total // cnt AS BIGINT))) - 1 AS bits
       |  FROM vocab, tot),
       |d AS (SELECT t.doc_id, sum(t.tf) AS n_tokens,
       |    sum(t.tf * b.bits) AS sum_bits
       |  FROM tf t JOIN bits b USING (term) GROUP BY 1)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(sum_bits AS BIGINT) AS sum_bits,
       |  CAST(sum_bits * 100 // n_tokens AS BIGINT) AS mean_centibits,
       |  CAST(CASE WHEN sum_bits * 100 // n_tokens BETWEEN $LM_MIN_CB AND $LM_MAX_CB
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM d""".stripMargin

  private val lmBigramOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split($NORM, ' ') AS ts FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
       |    i -> ts[i] || ' ' || ts[i+1])) AS bigram
       |  FROM toks WHERE len(ts) >= 2 AND ts[1] <> ''),
       |btf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
       |model AS (SELECT bigram, sum(tf) AS cnt2 FROM btf GROUP BY 1),
       |ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(cnt2) AS cnt1
       |  FROM model GROUP BY 1),
       |bits AS (SELECT m.bigram, length(bin(CAST(c.cnt1 // m.cnt2 AS BIGINT))) - 1 AS bits
       |  FROM model m JOIN ctx c ON split_part(m.bigram, ' ', 1) = c.w1),
       |d AS (SELECT t.doc_id, sum(t.tf) AS n_bigrams,
       |    sum(t.tf * b.bits) AS sum_bits
       |  FROM btf t JOIN bits b USING (bigram) GROUP BY 1)
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |  CAST(sum_bits AS BIGINT) AS sum_bits,
       |  CAST(sum_bits * 100 // n_bigrams AS BIGINT) AS mean_centibits,
       |  CAST(CASE WHEN sum_bits * 100 // n_bigrams BETWEEN $BG_MIN_CB AND $BG_MAX_CB
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM d""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_editdist" ->
      s"""WITH n AS (SELECT doc_id, $NORM AS t FROM documents),
         |b AS (SELECT doc_id, t, substr(t, 1, 16) AS blk,
         |    length(t) // 20 AS lb FROM n)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(levenshtein(a.t, b2.t) AS BIGINT) AS dist
         |FROM b a JOIN b b2 ON a.blk = b2.blk
         |  AND abs(a.lb - b2.lb) <= 1 AND a.doc_id < b2.doc_id
         |WHERE levenshtein(a.t, b2.t) <= 20""".stripMargin,
    // the oracle uses the NAIVE global-window cumsum — the semantic
    // definition the two-level scan must reproduce bit-for-bit
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok,
        |    CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
        |  FROM t)
        |SELECT doc_id, tok AS n_tokens, o AS tok_offset,
        |  o // 512 AS start_seq,
        |  CAST(CASE WHEN tok > 0 THEN (o + tok - 1) // 512
        |    ELSE o // 512 END AS BIGINT) AS end_seq,
        |  CAST(CASE WHEN tok > 0 THEN (o + tok - 1) // 512 - o // 512 + 1
        |    ELSE 0 END AS BIGINT) AS n_seqs
        |FROM c""".stripMargin,
    // mirrors Mixing.plan INCLUDING the declared-strata union: a
    // recipe stratum the corpus lacks enters as a zero-supply row and
    // binds the budget to 0 on both engines
    "mix_plan" -> {
      val caseArms = MIX_TARGETS.map { case (l, bp) =>
        s"WHEN '$l' THEN $bp" }.mkString(" ")
      val declList = MIX_TARGETS.map { case (l, _) => s"'$l'" }.mkString(", ")
      s"""WITH per0 AS (SELECT lang, count(*) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |decl AS (SELECT unnest([$declList]) AS lang),
         |per AS (SELECT lang,
         |    CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
         |    CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
         |    CAST(CASE lang $caseArms ELSE 0 END AS BIGINT) AS target_bp
         |  FROM decl FULL OUTER JOIN per0 USING (lang)),
         |b AS (SELECT min(n_tokens * 10000 // target_bp) AS budget
         |  FROM per WHERE target_bp > 0)
         |SELECT lang, n_docs, n_tokens, target_bp,
         |  CAST(CASE WHEN target_bp > 0 THEN budget * target_bp // 10000
         |    ELSE 0 END AS BIGINT) AS take_tokens,
         |  CAST(CASE WHEN target_bp > 0 AND n_tokens > 0
         |    THEN (budget * target_bp // 10000) * 10000 // n_tokens
         |    ELSE 0 END AS BIGINT) AS rate_bp
         |FROM per CROSS JOIN b""".stripMargin
    },
    "mix_temperature" -> graft.ops.Mixing.temperatureOracleSql("lang"),
    "mix_epochs" -> graft.ops.Mixing.epochOracleSql("lang", MIX_TARGETS.toMap),
    // the canonicalization CTE chain is rendered once in UrlCanon
    // (canonCteSql) next to its Spark twin — rule-for-rule identical
    "text_url_canon" ->
      s"""WITH ${graft.ops.UrlCanon.canonCteSql}
         |SELECT doc_id, url, url_canon, host FROM canon""".stripMargin,
    "dedup_url" ->
      s"""WITH ${graft.ops.UrlCanon.canonCteSql}
         |SELECT url_canon, host, min(doc_id) AS keep_doc_id,
         |  CAST(count(*) AS BIGINT) AS n_dups
         |FROM canon GROUP BY 1, 2""".stripMargin,
    // composes four sub-oracles: URL keepers (canon CTEs), decontam
    // clean set (nested WITH in a subquery), gopher keeps, chunking
    "pipeline_pretrain_shards" ->
      s"""WITH ${graft.ops.UrlCanon.canonCteSql},
         |ku AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY url_canon, host),
         |cl AS (SELECT doc_id FROM ($decontamOracle) WHERE contaminated = 0),
         |qk AS (SELECT doc_id FROM ($qualityGopherOracle) WHERE keep = 1),
         |kd AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN ku USING (doc_id) JOIN cl USING (doc_id) JOIN qk USING (doc_id)),
         |t2 AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM kd),
         |g2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         |    unnest(range(0, len(toks), $CHUNK_STRIDE)) AS st
         |  FROM t2 WHERE len(toks) > 0)
         |SELECT doc_id, CAST(st // $CHUNK_STRIDE AS BIGINT) AS chunk_id,
         |  CAST(st AS BIGINT) AS start_tok,
         |  CAST(least(st + $CHUNK_TOKENS, n) - st AS BIGINT) AS chunk_tokens,
         |  md5(array_to_string(
         |    list_slice(toks, st + 1, least(st + $CHUNK_TOKENS, n)), ' ')) AS chunk_fp
         |FROM g2""".stripMargin,
    "mix_hosts" -> {
      val caseArms = graft.ops.UrlCanon.HOST_TARGETS.map { case (h, bp) =>
        s"WHEN '$h' THEN $bp" }.mkString(" ")
      val declList = graft.ops.UrlCanon.HOST_TARGETS
        .map { case (h, _) => s"'$h'" }.mkString(", ")
      s"""WITH ${graft.ops.UrlCanon.canonCteSql},
         |per0 AS (SELECT host, count(*) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_tokens
         |  FROM documents JOIN canon USING (doc_id) GROUP BY 1),
         |decl AS (SELECT unnest([$declList]) AS host),
         |per AS (SELECT host,
         |    CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
         |    CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
         |    CAST(CASE host $caseArms ELSE 0 END AS BIGINT) AS target_bp
         |  FROM decl FULL OUTER JOIN per0 USING (host)),
         |b AS (SELECT min(n_tokens * 10000 // target_bp) AS budget
         |  FROM per WHERE target_bp > 0)
         |SELECT host, n_docs, n_tokens, target_bp,
         |  CAST(CASE WHEN target_bp > 0 THEN budget * target_bp // 10000
         |    ELSE 0 END AS BIGINT) AS take_tokens,
         |  CAST(CASE WHEN target_bp > 0 AND n_tokens > 0
         |    THEN (budget * target_bp // 10000) * 10000 // n_tokens
         |    ELSE 0 END AS BIGINT) AS rate_bp
         |FROM per CROSS JOIN b""".stripMargin
    },
    "dedup_incremental" -> incrementalOracle,
    "decontam_overlap" -> decontamOracle,
    "text_pii_redact" -> {
      def cnt(re: String) =
        s"CAST(len(regexp_extract_all(aug, '$re')) AS BIGINT)"
      val red = s"regexp_replace(regexp_replace(regexp_replace(aug, " +
        s"'${TextFns.EMAIL_RE}', '<EMAIL>', 'g'), " +
        s"'${TextFns.PHONE_RE}', '<PHONE>', 'g'), " +
        s"'${TextFns.IP_RE}', '<IP>', 'g')"
      s"""WITH a AS (SELECT doc_id, $PII_AUG_SQL AS aug FROM documents),
         |r AS (SELECT doc_id, aug, $red AS red FROM a)
         |SELECT doc_id,
         |  ${cnt(TextFns.EMAIL_RE)} AS n_email,
         |  ${cnt(TextFns.PHONE_RE)} AS n_phone,
         |  ${cnt(TextFns.IP_RE)} AS n_ip,
         |  md5(red) AS red_fp,
         |  CAST(length(red) AS BIGINT) AS red_len
         |FROM r""".stripMargin
    },
    "text_fix_mojibake" ->
      s"""WITH a AS (SELECT doc_id, $mojiAugSql AS aug FROM documents)
         |SELECT doc_id,
         |  CAST(${TextFns.countMojibakeSql("aug")} AS BIGINT) AS n_moji,
         |  md5(${TextFns.fixMojibakeSql("aug")}) AS fixed_fp,
         |  CAST(length(${TextFns.fixMojibakeSql("aug")}) AS BIGINT) AS fixed_len
         |FROM a""".stripMargin,
    "text_script_mix" -> {
      val counts = TextFns.SCRIPTS.map { case (n, _, r) =>
        s"${TextFns.scriptCountSql("aug", r)} AS ${n}_n" }.mkString(",\n  ")
      s"""WITH a AS (SELECT doc_id, ($scriptAugSql) AS aug FROM documents)
         |SELECT doc_id,
         |  $counts,
         |  ${TextFns.dominantScriptSql("aug")} AS dominant
         |FROM a""".stripMargin
    },
    "text_strip_html" ->
      s"""WITH a AS (SELECT doc_id, ${graft.ops.Html.AUG_SQL} AS page FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(page, '<[^>]+>')) AS BIGINT) AS n_tags,
         |  md5(${graft.ops.Html.stripHtmlSql("page")}) AS clean_fp,
         |  CAST(length(${graft.ops.Html.stripHtmlSql("page")}) AS BIGINT) AS clean_len
         |FROM a""".stripMargin,
    "text_html_links" ->
      s"""WITH a AS (SELECT doc_id, ${graft.ops.Html.AUG_SQL} AS page FROM documents),
         |lk AS (SELECT doc_id, unnest(regexp_extract_all(page,
         |    '<a[^>]*href="([^"]*)"', 1)) AS url FROM a),
         |${graft.ops.UrlCanon.canonChainSql("lk")}
         |SELECT doc_id, url, url_canon, host FROM canon""".stripMargin,
    "pipeline_web_ingest" -> {
      def redactSql(e: String) =
        s"regexp_replace(regexp_replace(regexp_replace($e, " +
          s"'${TextFns.EMAIL_RE}', '<EMAIL>', 'g'), " +
          s"'${TextFns.PHONE_RE}', '<PHONE>', 'g'), " +
          s"'${TextFns.IP_RE}', '<IP>', 'g')"
      val pageSql = graft.ops.Html.augSql(mojiAugSqlOf(piiAugSql("text")))
      val cleanSql = redactSql(
        TextFns.fixMojibakeSql(graft.ops.Html.stripHtmlSql("page")))
      s"""WITH a AS (SELECT doc_id, $pageSql AS page FROM documents),
         |c AS (SELECT doc_id, page, $cleanSql AS clean FROM a),
         |lk AS (SELECT doc_id, clean,
         |    regexp_extract(page, '<a[^>]*href="([^"]*)"', 1) AS url FROM c),
         |${graft.ops.UrlCanon.canonChainSql("lk")},
         |keyed AS (SELECT lk.doc_id, lk.clean, canon.url_canon, canon.host
         |  FROM lk JOIN canon ON canon.doc_id = lk.doc_id),
         |w AS (SELECT min(doc_id) AS doc_id FROM keyed GROUP BY url_canon)
         |SELECT k.doc_id, k.host, md5(k.clean) AS clean_fp,
         |  CAST(length(k.clean) AS BIGINT) AS clean_len,
         |  CAST(len(regexp_extract_all(k.clean, '\\S+')) AS BIGINT) AS n_tokens
         |FROM keyed k JOIN w ON w.doc_id = k.doc_id""".stripMargin
    },
    "pack_length_buckets" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT round(quantile_cont(n_tokens, 0.25), 4) AS b1,
        |    round(quantile_cont(n_tokens, 0.5), 4) AS b2,
        |    round(quantile_cont(n_tokens, 0.75), 4) AS b3 FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(1 + CAST(n_tokens > b1 AS INT) + CAST(n_tokens > b2 AS INT)
        |    + CAST(n_tokens > b3 AS INT) AS BIGINT) AS bucket
        |FROM t, b""".stripMargin,
    // replays chunkWithOverlap: chunk starts at stride multiples below
    // the token count, short tail allowed, window content md5-hashed
    "pack_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         |    unnest(range(0, len(toks), $CHUNK_STRIDE)) AS st
         |  FROM t WHERE len(toks) > 0)
         |SELECT doc_id, CAST(st // $CHUNK_STRIDE AS BIGINT) AS chunk_id,
         |  CAST(st AS BIGINT) AS start_tok,
         |  CAST(least(st + $CHUNK_TOKENS, n) - st AS BIGINT) AS chunk_tokens,
         |  md5(array_to_string(
         |    list_slice(toks, st + 1, least(st + $CHUNK_TOKENS, n)), ' ')) AS chunk_fp
         |FROM g""".stripMargin,
    // sketch-tier verdicts gate as constants (Approx object doc)
    "pack_length_buckets_gk" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS ok1, CAST(1 AS BIGINT) AS ok2,
        |  CAST(1 AS BIGINT) AS ok3
        |FROM documents""".stripMargin,
    "text_similar_rare" ->
      s"""WITH $SHINGLE_CTES,
         |h AS (SELECT doc_id, ${h60sql("sh")} AS th FROM s),
         |dfr AS (SELECT th, count(*) AS df FROM h GROUP BY 1),
         |p AS (SELECT h.doc_id, h.th FROM h JOIN dfr USING (th)
         |  WHERE dfr.df BETWEEN 2 AND 10),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM p a JOIN p b ON a.th = b.th AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared_rare
         |FROM pr GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // composes the three sub-oracles: anti-join blocklist, gopher keep
    // (nested WITH in a subquery), PII-redact fingerprint
    "pipeline_curate_corpus" -> {
      val red = s"regexp_replace(regexp_replace(regexp_replace(k.text, " +
        s"'${TextFns.EMAIL_RE}', '<EMAIL>', 'g'), " +
        s"'${TextFns.PHONE_RE}', '<PHONE>', 'g'), " +
        s"'${TextFns.IP_RE}', '<IP>', 'g')"
      s"""WITH bl AS (SELECT md5($NORM) AS fp FROM documents
         |  WHERE ${h60sql("'blocklist:' || CAST(doc_id AS VARCHAR)")} % 100 < 10),
         |c AS (SELECT doc_id, text, md5($NORM) AS fp FROM documents
         |  WHERE NOT (${h60sql("'blocklist:' || CAST(doc_id AS VARCHAR)")} % 100 < 10)),
         |kept AS (SELECT doc_id, text FROM c
         |  WHERE NOT EXISTS (SELECT 1 FROM bl WHERE bl.fp = c.fp)),
         |q AS (SELECT doc_id FROM ($qualityGopherOracle) WHERE keep = 1)
         |SELECT k.doc_id, md5($red) AS red_fp
         |FROM kept k JOIN q USING (doc_id)""".stripMargin
    },
    // the bloom sketch is invisible to the result by construction
    // (false positives re-verified, no false negatives), so the oracle
    // is the plain exact anti-join over the same fingerprint split
    "dedup_blocklist" ->
      s"""WITH bl AS (SELECT DISTINCT md5($NORM) AS fp FROM documents
         |  WHERE ${h60sql("'blocklist:' || CAST(doc_id AS VARCHAR)")} % 100 < 10),
         |c AS (SELECT doc_id, lang, source, n_chars, md5($NORM) AS fp
         |  FROM documents
         |  WHERE NOT (${h60sql("'blocklist:' || CAST(doc_id AS VARCHAR)")} % 100 < 10))
         |SELECT doc_id, lang, source, n_chars FROM c
         |WHERE NOT EXISTS (SELECT 1 FROM bl WHERE bl.fp = c.fp)""".stripMargin,
    "text_dup_blocks" ->
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |b AS (SELECT doc_id, toks,
         |    unnest(range(0, len(toks) // $DUP_TOKENS)) AS bi FROM t),
         |h AS (SELECT doc_id, ${h60sql(
        s"array_to_string(list_slice(toks, bi*$DUP_TOKENS+1, bi*$DUP_TOKENS+$DUP_TOKENS), ' ')")} AS bh
         |  FROM b),
         |d AS (SELECT DISTINCT doc_id, bh FROM h),
         |g AS (SELECT bh, count(*) AS nd FROM d GROUP BY 1),
         |per AS (SELECT d.doc_id, count(*) AS n_blocks,
         |    CAST(sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM d JOIN g USING (bh) GROUP BY 1)
         |SELECT doc_id,
         |  CAST(coalesce(n_blocks, 0) AS BIGINT) AS n_blocks,
         |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
         |  CAST(coalesce(n_shared, 0) * 10000 //
         |    greatest(coalesce(n_blocks, 0), 1) AS BIGINT) AS shared_bp
         |FROM documents LEFT JOIN per USING (doc_id)""".stripMargin,
    // interval-union coverage: same running-max window form as the
    // Spark plan (pe = max prior interval end; each row adds its
    // uncovered tail) — all-integer, so the hashes match bit-for-bit
    "text_dup_spans" ->
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |g AS (SELECT doc_id, toks,
         |    unnest(range(0, greatest(len(toks) - ${DUP_TOKENS - 1}, 0))) AS pos FROM t),
         |h AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, ${h60sql(
        s"array_to_string(list_slice(toks, pos+1, pos+$DUP_TOKENS), ' ')")} AS gh
         |  FROM g),
         |dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM h)
         |  GROUP BY gh HAVING count(*) >= 2),
         |cov AS (SELECT doc_id, pos,
         |    max(pos + $DUP_TOKENS) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
         |  FROM h JOIN dup USING (gh)),
         |per AS (SELECT doc_id, sum(greatest(0,
         |    pos + $DUP_TOKENS - greatest(pos, coalesce(pe, pos)))) AS covered
         |  FROM cov GROUP BY 1),
         |tok AS (SELECT doc_id,
         |    len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents)
         |SELECT tok.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(coalesce(covered, 0) AS BIGINT) AS covered_tokens,
         |  CAST(coalesce(covered, 0) * 10000 //
         |    greatest(n_tokens, 1) AS BIGINT) AS covered_bp
         |FROM tok LEFT JOIN per USING (doc_id)""".stripMargin,
    // replays applySpanDedup's token-interval arithmetic: duplicated
    // gram positions expand to covered token indices (pos+0..n-1), an
    // anti join keeps the uncovered tokens, string_agg in position
    // order rebuilds the trimmed text for the md5 compare
    "text_dedup_spans_apply" ->
      s"""WITH t AS (SELECT doc_id,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |g AS (SELECT doc_id, toks,
         |    unnest(range(0, greatest(len(toks) - ${DUP_TOKENS - 1}, 0))) AS pos FROM t),
         |h AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, ${h60sql(
        s"array_to_string(list_slice(toks, pos+1, pos+$DUP_TOKENS), ' ')")} AS gh
         |  FROM g),
         |dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM h)
         |  GROUP BY gh HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT hd.doc_id, hd.pos + o.g AS i
         |  FROM (SELECT h.doc_id, h.pos FROM h JOIN dup USING (gh)) hd
         |  CROSS JOIN (SELECT unnest(range($DUP_TOKENS)) AS g) o),
         |tok AS (SELECT doc_id, CAST(ti AS BIGINT) AS i, toks[ti + 1] AS w
         |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS ti FROM t)),
         |kept AS (SELECT tok.doc_id, tok.i, tok.w
         |  FROM tok ANTI JOIN cov USING (doc_id, i)),
         |trimmed AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS tt,
         |    count(*) AS kt FROM kept GROUP BY 1),
         |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
         |SELECT nt.doc_id, n_tokens,
         |  CAST(coalesce(kt, 0) AS BIGINT) AS kept_tokens,
         |  md5(coalesce(tt, '')) AS trimmed_fp,
         |  CAST(length(coalesce(tt, '')) AS BIGINT) AS trimmed_len
         |FROM nt LEFT JOIN trimmed USING (doc_id)""".stripMargin,
    // same bucket/weight arithmetic over unnested tokens (one row per
    // OCCURRENCE = the tf-weighted fold); empty-norm docs left-join 0s
    "text_classifier" -> classifierOracle,
    "text_stats" -> textStatsOracle,
    "text_quality_calibrated" -> {
      val bs = (1 to 9).map(i =>
        s"round(quantile_cont(quality_score, ${i / 10.0}), 4) AS b$i").mkString(", ")
      val cmp = (1 to 9).map(i => s"CAST(quality_score > b$i AS INT)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, quality_score FROM ($textStatsOracle)),
         |b AS (SELECT $bs FROM t)
         |SELECT doc_id, quality_score, CAST(1 + $cmp AS BIGINT) AS band
         |FROM t, b""".stripMargin
    },
    "text_quality_gopher" -> qualityGopherOracle,
    // the probe trainer's unrolled GD rounds over stats ⋈ gopher-keep
    "probe_train_quality" ->
      graft.ops.Probe.trainOracleSql(qualityGopherOracle),
    "probe_score_quality" ->
      graft.ops.Probe.scoreOracleSql(qualityGopherOracle),
    "probe_holdout_quality" ->
      graft.ops.Probe.scoreHoldoutOracleSql(qualityGopherOracle, "doc_id % 2 = 0"),
    "text_langid" ->
      s"""SELECT doc_id, en_hits, de_hits, fr_hits, es_hits, zh_chars,
         |  CASE WHEN zh_chars > 0 THEN 'zh'
         |       WHEN de_hits > en_hits AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
         |       WHEN fr_hits > en_hits AND fr_hits > de_hits AND fr_hits >= es_hits THEN 'fr'
         |       WHEN es_hits > en_hits AND es_hits > de_hits AND es_hits > fr_hits THEN 'es'
         |       ELSE 'en' END AS pred_lang,
         |  lang AS actual_lang
         |FROM (
         |  SELECT doc_id, lang,
         |    len(regexp_extract_all(lower(text), '\\b(the|and|of|is)\\b')) AS en_hits,
         |    len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS de_hits,
         |    len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est)\\b')) AS fr_hits,
         |    len(regexp_extract_all(lower(text), '\\b(el|los|las|es|y)\\b')) AS es_hits,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS zh_chars
         |  FROM documents)""".stripMargin,
    "text_fingerprint" ->
      s"SELECT doc_id, md5($NORM) AS fp FROM documents",
    "text_fertility" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '''[sdmt]|''ll|''ve|''re| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))) AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(length(text)) * 100
        |    // greatest(sum(len(regexp_extract_all(text,
        |    '''[sdmt]|''ll|''ve|''re| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))), 1) AS BIGINT) AS cpt_centi
        |FROM documents GROUP BY 1""".stripMargin,
    "text_ttr" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_types,
        |  CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) * 10000
        |    // greatest(len(regexp_extract_all(text, '\S+')), 1) AS BIGINT) AS ttr_bp
        |FROM documents""".stripMargin,
    "text_token_count" ->
      s"""WITH $SHINGLE_CTES
         |SELECT d.doc_id, len(regexp_extract_all(d.text, '\\S+')) AS n_tokens,
         |  len(regexp_extract_all(d.text,
         |    '''[sdmt]|''ll|''ve|''re| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+')) AS n_bpe_tokens,
         |  coalesce(sz.n, 0) AS n_shingles
         |FROM documents d LEFT JOIN sz ON sz.doc_id = d.doc_id""".stripMargin,
    // BPE as a closed-form chain: char-space the normalized text (word
    // gaps become 3 spaces, so single-space merge patterns can never
    // cross words), apply each learned merge in rank order as a global
    // left-to-right replace, count the remaining symbols. Equivalent to
    // canonical iterative BPE — see BpeModel's rank argument + BpeSpec.
    "text_bpe" -> {
      val spaced = s"regexp_replace($NORM, '(.)', '\\1 ', 'g')"
      val chain = graft.functions.BpeModel.merges.foldLeft(spaced) {
        case (acc, (a, b)) => s"replace($acc, '$a $b', '$a$b')"
      }
      s"SELECT doc_id, CAST(len(regexp_extract_all($chain, '\\S+')) AS BIGINT) AS n_bpe FROM documents"
    },
    "text_bpe_train" -> bpeTrainSql(BPE_TRAIN_MERGES, BPE_TRAIN_VOCAB),
    "dedup_exact" ->
      s"""SELECT md5($NORM) AS fp, count(*) AS n_dups, min(doc_id) AS keeper
         |FROM documents GROUP BY 1""".stripMargin,
    "dedup_ngram" -> ngramJaccardOracle,
    // LSH candidate-recall: composes the exact-Jaccard and banded-
    // MinHash oracles verbatim, so evaluator and evaluated cannot
    // drift (the sim_recall convention on the dedup plane)
    "dedup_recall_minhash" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(count(l.hit) AS BIGINT) AS n_found,
         |  CAST(CASE WHEN count(*) = 0 THEN 10000
         |    ELSE count(l.hit) * 10000 // count(*) END AS BIGINT) AS recall_bp
         |FROM ($ngramJaccardOracle) e
         |LEFT JOIN (SELECT doc_a, doc_b, 1 AS hit FROM ($minhashOracle)) l
         |  USING (doc_a, doc_b)""".stripMargin,
    // replays containmentPairs: candidates restricted to pairs sharing
    // a 2..32-df shingle (the declared posting-list ceiling), exact
    // intersection over full distinct shingle sets, score i/min(n)
    "dedup_containment" ->
      s"""WITH $SHINGLE_CTES,
         |bdf AS (SELECT sh FROM s GROUP BY sh HAVING count(*) BETWEEN 2 AND 32),
         |p AS (SELECT doc_id, sh FROM s JOIN bdf USING (sh)),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS cnt
         |  FROM cand c JOIN s s1 ON s1.doc_id = c.doc_a
         |  JOIN s s2 ON s2.doc_id = c.doc_b AND s2.sh = s1.sh
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b,
         |  round(CAST(i.cnt AS DOUBLE) / least(x.n, y.n), 4) AS containment
         |FROM inter i JOIN sz x ON x.doc_id = i.doc_a
         |  JOIN sz y ON y.doc_id = i.doc_b
         |WHERE round(CAST(i.cnt AS DOUBLE) / least(x.n, y.n), 4) >= 0.8""".stripMargin,
    "dedup_minhash" -> minhashOracle,
    "dedup_minhash_skew" -> skewMinhashOracle,
    // the capped branch's recall, composed from the skew exact-Jaccard
    // referent and the capped minhash oracle verbatim
    "dedup_recall_minhash_capped" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(count(l.hit) AS BIGINT) AS n_found,
         |  CAST(CASE WHEN count(*) = 0 THEN 10000
         |    ELSE count(l.hit) * 10000 // count(*) END AS BIGINT) AS recall_bp
         |FROM ($skewNgramJaccardOracle) e
         |LEFT JOIN (SELECT doc_a, doc_b, 1 AS hit FROM ($skewMinhashOracle)) l
         |  USING (doc_a, doc_b)""".stripMargin,
    // exact closure over the capped skew pair graph: the hub stars
    // span each template family, so the clustering is unchanged
    "dedup_clusters_skew" ->
      s"""WITH RECURSIVE
         |p AS (SELECT doc_a, doc_b FROM ($skewMinhashOracle) t),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
         |n AS (SELECT DISTINCT u FROM e),
         |reach(u, v) AS (
         |  SELECT u, u FROM n
         |  UNION
         |  SELECT e.u, r.v FROM e JOIN reach r ON e.v = r.u)
         |SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u""".stripMargin,
    // ten unrolled integer-PageRank rounds over the minhash pair graph
    "graph_pagerank" -> graft.ops.Graph.pagerankOracleSql(minhashOracle),
    "graph_triangles" -> graft.ops.Graph.trianglesOracleSql(minhashOracle),
    // composes the clusters closure and the pagerank rounds, then the
    // per-cluster argmax with the (rank desc, doc_id) total order
    "dedup_canonical_rank" -> {
      val clustersSql =
        s"""WITH RECURSIVE
           |p AS (SELECT doc_a, doc_b FROM ($minhashOracle) t),
           |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
           |n AS (SELECT DISTINCT u FROM e),
           |reach(u, v) AS (
           |  SELECT u, u FROM n
           |  UNION
           |  SELECT e.u, r.v FROM e JOIN reach r ON e.v = r.u)
           |SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u""".stripMargin
      s"""WITH cl AS MATERIALIZED ($clustersSql),
         |pr AS MATERIALIZED (${graft.ops.Graph.pagerankOracleSql(minhashOracle)}),
         |j AS (SELECT cl.cluster_id, cl.doc_id, pr.pr12
         |  FROM cl JOIN pr ON cl.doc_id = pr.doc_id),
         |r AS (SELECT cluster_id, doc_id, pr12,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY pr12 DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS nm
         |  FROM j)
         |SELECT cluster_id, doc_id AS keep_doc_id, pr12,
         |  CAST(nm AS BIGINT) AS n_members FROM r WHERE rn = 1""".stripMargin
    },
    "dedup_simhash" -> simhashOracle,
    "dedup_simhash_pairs" -> simhashPairsOracle,
    // exact connected components via transitive closure (recursive CTE)
    // over the same minhash pair graph the Spark side clusters
    "dedup_clusters" ->
      s"""WITH RECURSIVE
         |p AS (SELECT doc_a, doc_b FROM ($minhashOracle) t),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
         |n AS (SELECT DISTINCT u FROM e),
         |reach(u, v) AS (
         |  SELECT u, u FROM n
         |  UNION
         |  SELECT e.u, r.v FROM e JOIN reach r ON e.v = r.u)
         |SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u""".stripMargin,
    "dedup_materialize" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM ($minhashOracle))""".stripMargin,
    "sample_corpus" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE ${h60sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 < 10""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE ${h60sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 100
         |  < CASE WHEN lang = 'en' THEN 30 ELSE 100 END""".stripMargin,
    "sample_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN ${h60sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
         |       WHEN ${h60sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin,
    "sample_weighted" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE ${h60sql("'wsample:' || CAST(doc_id AS VARCHAR)")} % 10000
         |  < greatest(0, least(10000, n_chars * 10))""".stripMargin,
    // same hash-ordered ranking with the doc_id tiebreak
    "sample_eval_topk" ->
      s"""SELECT doc_id, lang, rank FROM (
         |  SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY ${h60sql("'evalk:' || CAST(doc_id AS VARCHAR)")}, doc_id)
         |    AS BIGINT) AS rank
         |  FROM documents)
         |WHERE rank <= 25""".stripMargin,
    "text_phrase_search" -> graft.ops.Search.phraseOracleSql(),
    "search_fuzzy" -> graft.ops.Search.fuzzyOracleSql(NORM),
    // same whole-bit idf and double chain, per-term floor before sum
    "text_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($NORM, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term <> '' GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |c AS (SELECT count(*) AS n_docs, sum(dl) AS total FROM dl),
         |q(query_id, term) AS (VALUES ${graft.ops.Search.querySetSql}),
         |sc AS (SELECT q.query_id, tf.doc_id,
         |    CAST(floor(
         |      CAST(length(bin((c.n_docs + 1) // (dfr.df + 1))) - 1 AS DOUBLE)
         |      * (CAST(tf.tf AS DOUBLE) * 2.2)
         |      / (CAST(tf.tf AS DOUBLE) + 1.2
         |        * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
         |          / (CAST(c.total AS DOUBLE) / c.n_docs))))
         |      * 1000000) AS BIGINT) AS sc6
         |  FROM tf JOIN q ON tf.term = q.term
         |  JOIN dfr ON tf.term = dfr.term
         |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN c),
         |pd AS (SELECT query_id, doc_id, sum(sc6) AS score6 FROM sc GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, CAST(score6 AS BIGINT) AS score6,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score6 DESC, doc_id) AS BIGINT) AS rank
         |  FROM pd)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score6, rank
         |FROM r WHERE rank <= 10""".stripMargin,
    "text_top_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split($NORM, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term <> '' GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT t.doc_id, t.term, t.tf, d.df,
         |    (t.tf * 1000000) // (d.df + 1) AS score6
         |  FROM tf t JOIN dfreq d USING (term)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score6 DESC, term ASC) AS rank FROM scored)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, CAST(score6 AS BIGINT) AS score6,
         |  CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 3""".stripMargin,
    "text_lm_surprisal" -> lmSurprisalOracle,
    // top-n-gram repetition: list-comprehension n-grams over the NORM
    // token stream, per-doc occurrence totals and max — all integers.
    // A doc with < n tokens has no n-gram rows → LEFT JOIN + 0s.
    "text_rep_ngram" -> repNgramOracle,
    // composed quality stack: classifier keep ∧ repetition cap ∧ LM
    // band, each predicate a verbatim subquery of its own gate oracle
    // — the three filters cannot drift from what they individually gate
    "pipeline_quality_stack" ->
      s"""SELECT d.doc_id, d.lang, d.source, d.n_chars,
         |  c.score, r.n2_bp, u.mean_centibits AS uni_cb
         |FROM documents d
         |JOIN ($classifierOracle) c ON c.doc_id = d.doc_id AND c.keep = 1
         |JOIN ($repNgramOracle) r ON r.doc_id = d.doc_id AND r.n2_bp < $REP_MAX_BP
         |JOIN ($lmSurprisalOracle) u ON u.doc_id = d.doc_id AND u.keep = 1""".stripMargin,
    // mirrors Terms.bigramSurprisal: bigrams from the once-split token
    // list, conditional context mass per first word, whole-bit
    // quantization — all integer
    "text_lm_bigram" -> lmBigramOracle,
    "pipeline_clean_corpus" ->
      s"""SELECT d.doc_id, d.lang, d.source, d.n_chars, q.quality_score
         |FROM documents d JOIN ($textStatsOracle) q USING (doc_id)
         |WHERE q.quality_score >= 74000
         |  AND d.doc_id NOT IN (SELECT doc_b FROM ($minhashOracle))""".stripMargin,
    // composes the round-6 trio: both LM band verdicts + the
    // weight-proportional retention predicate, one statement
    "pipeline_lm_curate" ->
      s"""SELECT d.doc_id, d.lang, d.source, d.n_chars,
         |  u.mean_centibits AS uni_cb, b.mean_centibits AS bi_cb
         |FROM documents d
         |JOIN ($lmSurprisalOracle) u ON u.doc_id = d.doc_id AND u.keep = 1
         |JOIN ($lmBigramOracle) b ON b.doc_id = d.doc_id AND b.keep = 1
         |WHERE ${h60sql("'wsample:' || CAST(d.doc_id AS VARCHAR)")} % 10000
         |  < greatest(0, least(10000, d.n_chars * 10))""".stripMargin,
  )
}
