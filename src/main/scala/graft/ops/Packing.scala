package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the concat-then-chunk step that turns a cleaned
  * corpus into fixed-length training sequences: documents are laid out
  * in doc_id order as one token stream, the stream is cut into
  * `seqLen`-token sequences, and each document maps to the span of
  * sequences it lands in (straddling a boundary is allowed, exactly
  * like GPT-style pretraining packing).
  *
  * The whole computation is one exclusive prefix-sum over token
  * counts. The naive formulation is a global `Window.orderBy(doc_id)`
  * — a SINGLE-PARTITION sort that serializes the entire corpus
  * through one task at 100 TB. This implements the scalable shape, a
  * TWO-LEVEL scan:
  *
  *  1. within-shard exclusive prefix (window partitioned by
  *     `shard = doc_id div shardSize` — parallel across shards);
  *  2. per-shard totals, prefix-scanned in a single-partition window
  *     over the SHARD relation (corpus/shardSize rows — thousands,
  *     not billions) and broadcast back;
  *  3. offset = shard prefix + within-shard prefix, one projection.
  *
  * PackingSpec locks the decomposition against the naive global
  * window bit-for-bit and asserts the only unpartitioned window in
  * the plan runs over the shard relation. Zero-token documents get
  * n_seqs = 0 at their stream position.
  */
object Packing {

  def sequenceSpans(docs: DataFrame, seqLen: Long,
      shardSize: Long = 1 << 20): DataFrame = {
    require(seqLen >= 1 && shardSize >= 1)
    val toks = docs.select(col("doc_id"),
      size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("tok"))
      .withColumn("shard", expr(s"doc_id div $shardSize"))
    val inShard = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = toks.withColumn("local_off",
      coalesce(sum("tok").over(inShard), lit(0L)))
    // shard relation: one row per shard — small enough that its
    // single-partition prefix window is a non-issue by construction
    val shardTotals = toks.groupBy("shard").agg(sum("tok").as("shard_tok"))
    val shardPrefix = shardTotals.withColumn("shard_off",
      coalesce(sum("shard_tok").over(
        Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("shard"), col("shard_off"))
    withLocal.join(broadcast(shardPrefix), "shard")
      .withColumn("tok_offset", col("shard_off") + col("local_off"))
      .select(col("doc_id"), col("tok").as("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div $seqLen").as("start_seq"),
        expr(s"CASE WHEN tok > 0 THEN (tok_offset + tok - 1) div $seqLen " +
          s"ELSE tok_offset div $seqLen END").as("end_seq"),
        expr(s"CASE WHEN tok > 0 THEN (tok_offset + tok - 1) div $seqLen " +
          s"- tok_offset div $seqLen + 1 ELSE 0 END").as("n_seqs"))
  }

  /** Context-window chunking with overlap — the split-long-documents
    * step of pretraining prep (the dual of [[sequenceSpans]]'s concat:
    * here each document yields its own fixed-size windows instead of
    * flowing into a shared stream). Chunk starts are the multiples of
    * `stride` below the token count, so consecutive chunks share
    * `chunkTokens − stride` tokens of overlap and the tail chunk may
    * run short; empty documents yield no chunks.
    *
    * Shape at scale: a pure per-row generate — tokenize once
    * (word_ngrams_all, one native scan), `sequence`+posexplode the
    * start offsets, slice+hash each window in-row. ZERO shuffles, no
    * window functions, map-only at any corpus size; per-doc fan-out is
    * ceil(n_tokens/stride), bounded by the document's own length.
    *
    * Output: (doc_id, chunk_id, start_tok, chunk_tokens, chunk_fp)
    * where chunk_fp is the md5 of the space-rejoined window — the
    * content-bearing check the oracle replays with list_slice. */
  def chunkWithOverlap(docs: DataFrame, chunkTokens: Int = 40,
      stride: Int = 30): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      s"need 1 <= stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    docs.selectExpr("doc_id", "word_ngrams_all(text, 1) AS toks")
      .selectExpr("doc_id", "toks", "CAST(size(toks) AS BIGINT) AS n_tokens")
      .filter(col("n_tokens") > 0)
      .selectExpr("doc_id", "toks", "n_tokens",
        s"posexplode(sequence(0L, n_tokens - 1, ${stride}L)) AS (chunk_id, start_tok)")
      .selectExpr("doc_id", "CAST(chunk_id AS BIGINT) AS chunk_id",
        "start_tok",
        s"least(start_tok + ${chunkTokens}L, n_tokens) - start_tok AS chunk_tokens",
        s"md5(array_join(slice(toks, CAST(start_tok + 1 AS INT), " +
          s"CAST(least(start_tok + ${chunkTokens}L, n_tokens) - start_tok AS INT)), ' ')) AS chunk_fp")
  }

  /** Length-bucketed batching assignment: every document gets a bucket
    * id in [1, nBuckets] by token-count quantile — the pre-batching
    * step that keeps padding waste bounded (batching a 10-token doc
    * with a 10k-token doc pads the whole batch to 10k).
    *
    * Two-stage shape, deliberately: the bucket BOUNDARIES are model
    * state (nBuckets−1 interpolated quantiles of the token count —
    * [[Percentiles.exactGlobal]]'s two-level rank selection over the
    * distinct-count histogram: no unpartitioned window ever touches
    * per-document rows), and the ASSIGNMENT is a stateless comparison
    * map against the broadcast one-row boundary relation — scan speed,
    * no shuffle, no global sort of the corpus. The sketch tier
    * ([[lengthBucketsApproxVerified]]) swaps the exact boundary pass
    * for GK `percentile_approx` with the assignment stage unchanged;
    * the exact tier gates against the oracle's quantile_cont
    * hash-for-hash, the sketch tier gates through an error-budget
    * verdict (pack_length_buckets_gk).
    *
    * Integer token counts compare against 4dp-rounded boundary doubles
    * identically in both engines (the interpolation is bit-identical —
    * Percentiles object doc). Output: (doc_id, n_tokens, bucket). */
  def lengthBuckets(docs: DataFrame, nBuckets: Int = 4): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 100,
      s"nBuckets must be in [2, 100], got $nBuckets")
    // delegate to the generalized calibration shape (persist + no
    // corpus sort + broadcast boundary attach live there)
    Percentiles.calibrateBands(
      docs.select(col("doc_id"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
          .as("n_tokens")),
      "doc_id", "n_tokens", nBuckets)
      .withColumnRenamed("band", "bucket")
  }

  /** Sketch tier of [[lengthBuckets]] under the in-plan verification
    * harness (graft.ops.Approx object doc): boundaries come from the
    * GK quantile sketch (percentile_approx — bounded mergeable buffer,
    * ONE pass, the 100 TB path: no histogram, no rank selection), the
    * assignment stage is [[lengthBuckets]]'s comparison map unchanged,
    * and the output reduces the sketch to integer verdicts the oracle
    * reproduces as constants: for each boundary b_i the recounted rank
    * r_i = |{x ≤ b_i}| must sit within the sketch's rank guarantee of
    * target i·nv/nBuckets —
    *
    *   |r_i·nBuckets − nv·i| ≤ (2·nv/accuracy + t_i + 2)·nBuckets
    *
    * where t_i (the tie count AT b_i, recounted on the same pass)
    * covers count-≤ discretization on heavily tied integer token
    * counts: GK certifies a rank INSIDE b_i's tie block while count-≤
    * reads the block's upper edge, so the tie mass is legitimate slack
    * on top of the 2·eps·n sketch budget — without it the verdict
    * would flake on any corpus with a popular document length. All
    * comparisons are integer-scaled (×nBuckets) — no FP hazard in any
    * engine. Output: ONE row (n, ok1..ok{nBuckets−1}); a sketch
    * drifting past its budget flips a verdict and fails the hash. */
  def lengthBucketsApproxVerified(docs: DataFrame, nBuckets: Int = 4,
      accuracy: Int = 10000): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 100,
      s"nBuckets must be in [2, 100], got $nBuckets")
    val toks = docs.select(
      size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_tokens"))
    val qs = (1 until nBuckets).map(i => lit(i.toDouble / nBuckets))
    // one-row sketch relation: GK state is the only thing that leaves
    // the first pass; the rank recount broadcasts it back over the rows
    val bounds = toks.agg(
        percentile_approx(col("n_tokens"), array(qs: _*), lit(accuracy)).as("q"),
        count(lit(1)).as("n"), count(col("n_tokens")).as("nv"))
      .select((1 until nBuckets).map(i => element_at(col("q"), i).as(s"b$i")) ++
        Seq(col("n"), col("nv")): _*)
    val recount = (1 until nBuckets).flatMap(i => Seq(
      sum(when(col("n_tokens") <= col(s"b$i"), 1L).otherwise(0L)).as(s"r$i"),
      sum(when(col("n_tokens") === col(s"b$i"), 1L).otherwise(0L)).as(s"t$i"))) ++
      Seq(first(col("n")).as("n"), first(col("nv")).as("nv"))
    val ranks = toks.crossJoin(broadcast(bounds))
      .agg(recount.head, recount.tail: _*)
    def ok(i: Int): Column =
      (abs(col(s"r$i") * nBuckets - col("nv") * i) <=
        (col("nv") * 2 / accuracy + col(s"t$i") + 2) * nBuckets)
        .cast("long").as(s"ok$i")
    ranks.select(col("n") +: (1 until nBuckets).map(ok): _*)
  }
}
