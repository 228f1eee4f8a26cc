package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-document term scoring over the normalized token stream — the
  * keyword/topic primitive of corpus analysis (tf-idf and its
  * cross-engine-exact sibling).
  *
  * Two scorings:
  *  - [[topTermsByRarity]] (GATED): score6 = (tf · 10⁶) div (df + 1),
  *    pure integer arithmetic. This is tf-idf with the idf's log
  *    dropped — the PER-DOCUMENT RANKING it induces is the point, and
  *    integer scores compare bit-identically in any engine. The
  *    classic log form cannot hash-gate across engines: ln() is libm,
  *    and a 1-ulp difference between Java's StrictMath-adjacent log
  *    and DuckDB's ln flips near-equal ranks (the round(mean,4) trap,
  *    COVERAGE.md determinism rules, applied to transcendentals).
  *  - [[tfIdf]]: the standard smoothed log form for in-Spark use
  *    (double scores; deliberately NOT oracle-gated).
  *
  * Scale shape: tokenize+explode is a narrow fan-out (rows × doc
  * length); tf aggregates on (doc_id, term) — well-spread keys; df
  * aggregates on term with map-side partial combine (the Zipf head
  * key "the" arrives pre-combined per partition, so the hot term costs
  * one row per upstream partition, not one per occurrence); the join
  * back to tf is an equality join on term (AQE handles residual skew);
  * the final top-k is one window on doc_id. Nothing quadratic,
  * nothing driver-side.
  */
object Terms {

  /** (doc_id, term, tf) over the normalized tokens — shared base.
    *
    * Counting is FUSED into the scan via the native `token_counts`
    * map expression: one output row per DISTINCT term per document and
    * NO (doc_id, term) exchange — the explode+groupBy form
    * materialized one row per token OCCURRENCE and shuffled all of
    * them into a hash aggregate (measured 4.81 s → see BASELINE.md r7
    * for the fused numbers at sf1). Semantics identical: normText
    * tokens, empty tokens never emitted, exact multiplicities. */
  private def termFreq(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        explode(call_function("norm_ngram_counts", col("text"), lit(1))))
      .select(col("doc_id"), col("key").as("term"), col("value").as("tf"))
  }

  /** Top-k rarity-weighted terms per document, integer-exact.
    * Output: (doc_id, term, tf, df, score6, rank); ties broken by term
    * ascending so ranks are total-ordered and engine-independent. */
  def topTermsByRarity(docs: DataFrame, k: Int): DataFrame = {
    val tf = termFreq(docs)
    // tf already holds one row per (doc, term) → count(*) = doc freq
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score6", expr("(tf * 1000000) div (df + 1)"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score6").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "score6", "rank")
  }

  /** Unigram-LM cross-entropy surrogate (the CCNet-class perplexity
    * quality signal), integer-exact so it hash-gates across engines.
    *
    * The model is the corpus's own unigram distribution; a document's
    * score is its mean per-token surprisal under that model — fluent,
    * typical text scores low, degenerate or out-of-distribution text
    * scores high. True surprisal is −log₂ p(term) = log₂(total/cnt),
    * a transcendental that cannot hash-gate (see object doc); the
    * gated form quantizes each term's surprisal to WHOLE BITS:
    *
    *   bits(term) = floor(log₂(total div cnt)) = length(bin(total div cnt)) − 1
    *
    * `bin` of a positive BIGINT (no leading zeros) is identical in
    * Spark and DuckDB, so bits is exact integer arithmetic within one
    * bit of true surprisal — the quantization, not an approximation of
    * it, is the defined metric. Per document:
    *
    *   sum_bits       = Σ_term tf · bits(term)
    *   mean_centibits = (sum_bits · 100) div n_tokens
    *   keep           = mean_centibits inside [minCb, maxCb] — both
    *                    tails cut, like a perplexity band filter (the
    *                    low tail is boilerplate/repetition, the high
    *                    tail is noise/OOD), thresholds calibrated by
    *                    the caller per corpus.
    *
    * Scale shape: reuses the termFreq aggregate (one explode + one
    * (doc_id, term) combine); the vocabulary relation aggregates on
    * term WITH map-side partial combine (Zipf-head safe, same as df in
    * [[topTermsByRarity]]); `total` is a one-row aggregate attached by
    * broadcast (the pack_length_buckets constant-attach pattern — a
    * 1-row BroadcastNestedLoopJoin, not a driver collect); the
    * tf⋈vocab join is an equality join on term (AQE broadcasts the
    * vocab side when it fits — vocab is sublinear in corpus size);
    * the final per-doc aggregate is one well-spread groupBy. Nothing
    * quadratic, nothing driver-side, ~3 shuffles total on top of the
    * token fan-out.
    *
    * Output: (doc_id, n_tokens, sum_bits, mean_centibits, keep),
    * empty-token documents absent (no tokens → no distribution mass),
    * matching the oracle CTE chain exactly. */
  def unigramSurprisal(docs: DataFrame, minCb: Long, maxCb: Long): DataFrame = {
    // ONE deliberate exchange on term, shared by both consumers
    // (ReusedExchange): the model aggregate reads it partition-local
    // and the scoring join keys on the same partitioning, so the
    // normText+token_counts walk below it runs ONCE. Without the
    // repartition each branch re-runs the regex normalization —
    // measured 5.85 s vs 4.81 s at sf1; a tf/vocab persist measured
    // worse still (6.5/6.3 s, cache-write bandwidth for shuffle-file
    // reuse that is already free)
    val tf = termFreq(docs).repartition(col("term"))
    val vocab = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    val bits = vocab.crossJoin(broadcast(total))
      .withColumn("bits", length(bin(expr("total div cnt"))).cast("long") - 1L)
      .select("term", "bits")
    tf.join(bits, "term")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .withColumn("mean_centibits", expr("sum_bits * 100 div n_tokens"))
      .withColumn("keep",
        col("mean_centibits").between(minCb, maxCb).cast("long"))
      .select("doc_id", "n_tokens", "sum_bits", "mean_centibits", "keep")
  }

  /** Bigram conditional surprisal — the next-order LM quality signal
    * above [[unigramSurprisal]]: a document scores by how predictable
    * each word is GIVEN its predecessor, so formulaic boilerplate
    * (high-probability continuations) scores low even when its
    * unigrams are unremarkable, and word-salad scores high even when
    * every word is common. Same whole-bit quantization:
    *
    *   bits(w₁w₂) = floor(log₂(cnt(w₁·) / cnt(w₁w₂)))
    *              = length(bin(cnt1 div cnt2)) − 1
    *
    * with cnt1 = corpus occurrences of bigrams starting w₁ (the
    * conditional context mass) and cnt2 = occurrences of the bigram —
    * exact integer arithmetic, hash-gateable (the transcendental
    * argument in [[unigramSurprisal]]).
    *
    * Scale shape: ONE native walk of each document's normalized text
    * (`norm_ngram_counts`) yields its bigrams with their in-document
    * counts — never a re-tokenize (the WordNgrams lesson) — so the
    * (doc_id, bigram) combine happens in-row. The model aggregates on
    * bigram and on its first word, both with map-side partial combine
    * (Zipf-head safe); joins are equality joins on the bigram/word
    * keys (AQE broadcasts the model when it fits — vocab² is sparse,
    * sublinear in corpus size); final per-doc aggregate is one
    * well-spread groupBy. Documents with fewer than two tokens are
    * absent (no bigram mass), matching the oracle.
    *
    * Output: (doc_id, n_bigrams, sum_bits, mean_centibits, keep). */
  def bigramSurprisal(docs: DataFrame, minCb: Long, maxCb: Long): DataFrame = {
    // ALL bigrams (with repeats) from ONE native walk of the
    // normalized text — the transform(sequence(...)) composition paid
    // per-gram interpreted-lambda dispatch (measured ~3x at sf1, the
    // dot_dec lesson); fewer-than-two-token docs yield an empty array
    // and drop at the explode, matching the oracle's len guard
    // counting fused into the scan (native ngram_counts map — same
    // walk as word_ngrams_all with the per-doc combine in-row): one
    // row per DISTINCT bigram per doc; the deliberate repartition is
    // the one exchange both the model and scoring branches reuse so
    // the text walk runs once (see unigramSurprisal's measurements)
    val btf = docs.select(col("doc_id"),
        explode(call_function("norm_ngram_counts", col("text"), lit(2))))
      .select(col("doc_id"), col("key").as("bigram"), col("value").as("tf"))
      .repartition(col("bigram"))
    val model = btf.groupBy("bigram").agg(sum("tf").as("cnt2"))
    val ctx = model.groupBy(substring_index(col("bigram"), " ", 1).as("w1"))
      .agg(sum("cnt2").as("cnt1"))
    val bits = model.join(ctx, substring_index(col("bigram"), " ", 1) === col("w1"))
      .withColumn("bits", length(bin(expr("cnt1 div cnt2"))).cast("long") - 1L)
      .select("bigram", "bits")
    btf.join(bits, "bigram")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .withColumn("mean_centibits", expr("sum_bits * 100 div n_bigrams"))
      .withColumn("keep",
        col("mean_centibits").between(minCb, maxCb).cast("long"))
      .select("doc_id", "n_bigrams", "sum_bits", "mean_centibits", "keep")
  }

  /** [[unigramSurprisal]] scored against a FROZEN static model — the
    * streaming face of the LM band filter: the model (vocab counts +
    * whole-bit surprisal table) is built batch-side from the accepted
    * corpus, and the incoming document stream is scored with a
    * stream-static equality join plus ONE keyed aggregation, so the
    * only streaming state is the per-open-document aggregate. Terms
    * absent from the model drop at the inner join (the model defines
    * the distribution; OOV handling is a model-side smoothing choice,
    * not a scorer concern). Same output/oracle shape as the batch
    * form — when model and stream read the same corpus, results are
    * bit-identical to [[unigramSurprisal]] (stream/batch parity). */
  def unigramSurprisalAgainstModel(model: DataFrame, docs: DataFrame,
      minCb: Long, maxCb: Long): DataFrame = {
    val tfM = termFreq(model)
    val vocab = tfM.groupBy("term").agg(sum("tf").as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    val bits = vocab.crossJoin(broadcast(total))
      .withColumn("bits", length(bin(expr("total div cnt"))).cast("long") - 1L)
      .select("term", "bits")
    termFreq(docs).join(bits, "term")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .withColumn("mean_centibits", expr("sum_bits * 100 div n_tokens"))
      .withColumn("keep",
        col("mean_centibits").between(minCb, maxCb).cast("long"))
      .select("doc_id", "n_tokens", "sum_bits", "mean_centibits", "keep")
  }

  /** Top-n-gram repetition share (Gopher's repetition-rule family,
    * `fraction of occurrences taken by the most common n-gram` for
    * n = 2, 3): formulaic/templated text repeats one phrase over and
    * over, which unigram stats cannot see. Integer basis points
    * (top·10⁴ div total occurrences) so the metric hash-gates across
    * engines; a document with fewer than n tokens reports 0/0/0.
    *
    * Shape at scale: ZERO shuffles — the per-document n-gram counting
    * is the fused `norm_ngram_counts` walk and the max/sum reductions
    * fold the map values in-row, so the whole operator is one scan
    * projection (the cheapest possible 100 TB shape; codegen
    * subexpression elimination evaluates each walk once per row, the
    * text_stats_scan pattern). */
  def topNgramRepetition(docs: DataFrame): DataFrame = {
    def statsFor(n: Int, p: String): Seq[Column] = {
      val m = s"norm_ngram_counts(text, $n)"
      Seq(
        expr(s"aggregate(map_values($m), 0L, (a, x) -> a + x)").as(s"${p}_total"),
        expr(s"coalesce(array_max(map_values($m)), 0L)").as(s"${p}_top"),
        expr(s"coalesce(array_max(map_values($m)), 0L) * 10000 div " +
          s"greatest(aggregate(map_values($m), 0L, (a, x) -> a + x), 1)")
          .as(s"${p}_bp"))
    }
    docs.select(col("doc_id") +: (statsFor(2, "n2") ++ statsFor(3, "n3")): _*)
  }

  /** Hashed-linear classifier inference (the fasttext/CCNet quality-
    * filter shape): each normalized token hashes into one of `buckets`
    * feature slots, the slot's weight is looked up, and the document
    * scores the tf-weighted sum — keep iff score ≥ threshold. The
    * weight table here is FIXTURE-DERIVED (w(b) = (b·2654435761) mod
    * 1997 − 998, integers in [−998, 998]) — the planted-model
    * convention of the multimodal tier: the inference plumbing
    * (hash → bucket → weight → weighted fold) is real and gated, the
    * weights are a deterministic stand-in for a trained vector, which
    * would arrive as a 4096-entry literal the same plan consumes.
    *
    * Shape at scale: ZERO shuffles — the token-frequency map comes
    * from the fused norm_ngram_counts walk and the score is an in-row
    * fold over its entries (the bucket/weight arithmetic is integer
    * md5-prefix hashing, oracle-reproducible), so classification runs
    * at scan speed: the cheapest possible inference shape, and why
    * hashed linear models (not deep scorers) gate web-scale corpora.
    * Output: (doc_id, n_tokens, score, keep). */
  def hashedLinearScore(docs: DataFrame, buckets: Long = 4096L,
      threshold: Long = 0L): DataFrame = {
    val m = "norm_ngram_counts(text, 1)"
    val w = s"((cast(conv(substring(md5(e.key), 1, 15), 16, 10) AS BIGINT) " +
      s"% $buckets) * 2654435761) % 1997 - 998"
    docs.select(col("doc_id"),
      expr(s"aggregate(map_values($m), 0L, (a, x) -> a + x)").as("n_tokens"),
      expr(s"aggregate(map_entries($m), 0L, (a, e) -> a + e.value * ($w))")
        .as("score"))
      .withColumn("keep", (col("score") >= threshold).cast("long"))
  }

  /** Standard smoothed tf-idf: tf · (ln((N+1)/(df+1)) + 1). Double
    * scores — use in-Spark; the libm ln makes it non-portable for
    * hash-gating (see object doc). N is passed by the caller (one
    * metadata-cheap count). */
  def tfIdf(docs: DataFrame, nDocs: Long): DataFrame = {
    val tf = termFreq(docs)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .withColumn("tfidf",
        col("tf") * (log((lit(nDocs) + 1).cast("double") / (col("df") + 1)) + 1))
      .select("doc_id", "term", "tf", "df", "tfidf")
  }

  /** Sparse document similarity via an INVERTED-INDEX candidate join —
    * the text-side analog of the LSH bucket join: two documents are
    * candidates iff they share a RARE feature (a distinct word-trigram
    * shingle with document frequency in [2, maxDf]), and the score is
    * the exact count of shared rare features.
    *
    * Why this scales where naive doc×doc cosine cannot: the posting
    * list of a feature with df ≤ maxDf produces at most maxDf·(maxDf−1)/2
    * pairs, so candidate volume is LINEAR in the index size with a
    * constant cap per feature — the Zipf head (features in every
    * document, which would each generate |corpus|² pairs) is excluded
    * by the df ceiling, making candidate generation skew-immune by
    * construction. Features travel as 60-bit hashes, so the shuffle
    * key is 8 bytes, not shingle text. This is the classic
    * candidate-generation half of sparse tf-idf similarity; pairs it
    * emits can feed an exact verifier (as MinHash candidates feed
    * Jaccard) or stand alone as a shared-rare-vocabulary signal.
    *
    * Pair emission is POSTING-LIST LOCAL, not a self-join: the rare
    * instance relation groups to (feature → doc list) — provably
    * ≤ maxDf entries per list, the df ceiling was applied BEFORE the
    * collect — and each list expands to its ordered pairs in-row.
    * The rare join's shuffle already partitions by `th`, so the
    * grouping reuses that partitioning (no extra exchange), and the
    * SMJ sort + second scan of the instance relation that a self-join
    * would pay disappear. The in-row expansion is an interpreted
    * higher-order lambda (the dot_dec finding, PLANS.md) — fine here
    * because lists are ≤ maxDf elements, and pair MULTIPLICITY matches
    * the join semantics exactly: every occurrence pair with
    * value_a < value_b, so duplicate (doc, feature) instances count
    * the same as the self-join counted them.
    *
    * Output: (doc_a, doc_b, n_shared_rare) for pairs sharing at least
    * `minShared` rare features; deterministic (exact integer counts,
    * doc_a < doc_b). */
  def similarDocsByRareFeatures(docs: DataFrame, maxDf: Long = 10,
      minShared: Long = 2): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // df ceiling INSIDE the aggregation (optimization r16 — the same
    // capped_collect collapse dedup_containment got in r15): the
    // census-aggregate + rejoin chain scanned the exploded feature
    // relation twice and needed it persisted (a data-scale cache);
    // capped_collect's partial state is bounded at maxDf+1 longs per
    // key and returns NULL the moment a group exceeds maxDf, which is
    // EXACTLY the groups the df-census filter dropped (df=1 can't
    // pair, df>maxDf is the excluded Zipf head) — one aggregation over
    // one un-persisted explode, one data-scale exchange instead of
    // two plus a join. shingle_hashes3 emits the h60 longs directly,
    // so the explode carries 8-byte keys and the per-shingle md5+conv
    // projection never appears in the plan.
    val postings = graft.ops.Dedup.spreadDocs(docs)
      .select(col("doc_id"),
        explode(call_function("shingle_hashes3", col("text"))).as("th"))
      .groupBy("th").agg(expr(s"capped_collect(doc_id, $maxDf)").as("docs"))
      .filter(col("docs").isNotNull && size(col("docs")) >= 2)
    postings
      .select(explode(expr(
        "flatten(transform(docs, x -> " +
          "filter(transform(docs, y -> " +
          "if(x < y, named_struct('doc_a', x, 'doc_b', y), null)), " +
          "p -> p is not null)))")).as("pr"))
      .select(col("pr.doc_a").as("doc_a"), col("pr.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_rare"))
      .filter(col("n_shared_rare") >= minShared)
  }
}
