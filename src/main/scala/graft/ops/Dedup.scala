package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document corpora.
  *
  * Four families, each a different cost/recall point (the reference
  * engine has no analog — this is the training-data-pipeline extension
  * surface; SURVEY.md §7.2 step 7):
  *
  *  - [[exact]]: hash-groupBy on a content fingerprint. One shuffle on
  *    the 128-bit hash; scales linearly, no skew (hashes are uniform).
  *  - [[ngramJaccardPairs]]: exact pairwise Jaccard over shingle sets,
  *    with the shingle-equality join as candidate generation. Correct
  *    but O(sum of per-shingle doc-frequency²) — the verification
  *    baseline for the MinHash path at small scale.
  *  - [[minhashLshPairs]]: MinHash signatures + banded LSH join — the
  *    100 TB path. Candidates come from equality joins on band keys
  *    (shuffle on band key, no cross product), then only candidates pay
  *    the exact-Jaccard verification join.
  *  - [[simhash]]/[[simhash60]]: SimHash signatures per document;
  *    near-dup = small Hamming distance. Signature computation is one
  *    explode + groupBy; pair generation blocks on 15-bit chunks of
  *    the 60-bit signature (exact recall for distance <= 3 by
  *    pigeonhole).
  *
  * All hashes derive from md5 (TextFns.h60/h32) so the DuckDB oracle
  * reproduces results bit-for-bit.
  */
object Dedup {

  /** (doc_id, sh) exploded distinct-shingle relation. */
  def shingleRelation(docs: DataFrame): DataFrame =
    TextFns.withShingles(docs)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))

  /** Exact duplicate groups by md5 of normalized text.
    * Output: (fp, n_dups, keeper) — keeper is the smallest doc_id. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(TextFns.normText(col("text"))).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keeper"))

  private def jaccard(inter: Column, na: Column, nb: Column): Column =
    round(inter.cast("double") / (na + nb - inter), 4)

  /** Exact n-gram Jaccard near-duplicate pairs (threshold on rounded
    * Jaccard). Candidate pairs = docs sharing at least one shingle. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    ngramJaccardPairsFrom(
      TextFns.withShingles(docs).select(col("doc_id"), col("shingles")),
      threshold)

  /** [[ngramJaccardPairs]] over a pre-shingled (doc_id, shingles)
    * relation — the composed recall gates persist ONE shingle relation
    * and feed it to BOTH the exact oracle and the LSH candidate pass,
    * so normalization+shingling runs once per corpus per rep instead
    * of once per branch (r15 verdict #1: the un-shared twin was the
    * fleet's most box-load-sensitive key). */
  def ngramJaccardPairsFrom(docsSh: DataFrame, threshold: Double): DataFrame = {
    // Posting-list pair generation (optimization r17, guide §2.4 —
    // the containmentPairs shape, UNCAPPED because this is the exact
    // evaluator): the old plan self-joined the exploded shingle
    // relation on shingle equality (an SMJ shuffling it twice, and on
    // the unpersisted ngramJaccardPairs path computing the shingling
    // twice) and then joined per-doc sizes back TWICE at pair scale.
    // Grouping postings per shingle and expanding x<y pairs IN-ROW
    // emits the identical pair multiset with map-side partial
    // aggregation before the only pair-scale exchange, and carrying
    // (doc_id, |shingles|) structs makes the size joins disappear —
    // shingle arrays are distinct by construction, so size(shingles)
    // ≡ the old per-doc explode count. Same quadratic blast radius as
    // the self-join for a corpus-common shingle (C(d,2) pairs either
    // way — the declared exact-evaluator semantics; the df-ceiling and
    // hot-band-capped operators are the scale paths). The self-join
    // spread those pairs over tasks; here one shingle's pairs live in
    // ONE row: its collect state holds d (doc, size) structs, and the
    // transient `flatten` array built before the explode holds all d²
    // candidate entries (C(d,2) of them non-null) in a single task.
    val s = docsSh.select(col("doc_id"),
      size(col("shingles")).cast("long").as("n"),
      explode(col("shingles")).as("sh"))
    s.groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, x -> " +
          "filter(transform(ds, y -> " +
          "if(x.doc_id < y.doc_id, named_struct(" +
          "'doc_a', x.doc_id, 'doc_b', y.doc_id, 'na', x.n, 'nb', y.n), " +
          "null)), p -> p is not null)))")).as("pr"))
      .groupBy(col("pr.doc_a").as("doc_a"), col("pr.doc_b").as("doc_b"),
        col("pr.na").as("na"), col("pr.nb").as("nb"))
      .agg(count(lit(1)).as("i"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("i"), col("na"), col("nb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-CONTAINMENT pairs (RefinedWeb / "one doc is mostly inside the
    * other" dedup — Jaccard misses these when sizes differ: a 10-token
    * snippet fully embedded in a 100-token page has J ≈ 0.1 but
    * containment 1.0). Score = |A ∩ B| / min(|A|, |B|) over distinct
    * shingle sets, thresholded on the 4dp-rounded value.
    *
    * Candidate generation is the df-CEILING posting-list shape (the
    * Terms.similarDocsByRareFeatures discipline, NOT the all-pairs
    * shingle self-join of [[ngramJaccardPairs]]): only shingles shared
    * by 2..maxDf documents expand to pairs, so per-shingle fan-out is
    * provably ≤ maxDf·(maxDf−1)/2 and the total candidate volume is
    * linear in corpus size for any fixed ceiling. Candidates then pay
    * the exact verification of [[minhashLshPairs]]: array_intersect
    * over the cached per-doc distinct shingle arrays, in-row, no
    * second shuffle over the corpus.
    *
    * Recall semantics, stated: a qualifying pair is emitted iff it
    * shares at least `minShared` shingles with df ≤ maxDf —
    * boilerplate-only overlap (every shared shingle corpus-common) is
    * deliberately out of scope, exactly the blind spot the ceiling
    * buys scalability with, and single-shingle coincidences don't pay
    * a verify (on a low-entropy corpus they dominated: the sf0.1
    * fixture produced 1.13M single-shared pairs vs 112k with ≥ 2 —
    * a 10x verify-stage cut; any pair at 0.8 containment of a
    * ≥ 3-shingle doc shares ≥ 2 by construction). The oracle replays
    * the identical candidate rule, so the gate is exact over the
    * DECLARED semantics.
    *
    * Output: (doc_a, doc_b, containment), doc_a < doc_b,
    * containment ≥ threshold. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
      maxDf: Long = 32, minShared: Long = 2): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val docsSh = TextFns.withShingles(spreadDocs(docs))
      .select(col("doc_id"), col("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Pair emission is POSTING-LIST LOCAL, not a self-join (the
    // similarDocsByRareFeatures shape): the in-row expansion replaced
    // a 2.5M-row shingle-equality SMJ (the r8 profile's dominant
    // stage) with one projection. The df ceiling is enforced INSIDE
    // the collect (r15, verdict #5): capped_collect's partial state
    // is bounded at maxDf+1 ids per key, so the census-then-join
    // chain this shape used to need — count df per shingle, join the
    // exploded relation against the in-ceiling keys, THEN collect,
    // with the exploded relation persisted because census and collect
    // both scanned it — collapses to ONE aggregation over one
    // un-persisted explode. One data-scale exchange (capped partials,
    // ≤ maxDf+1 longs each) instead of two plus a persist; a
    // corpus-common shingle's group gives up at maxDf+1 collected ids
    // and returns NULL, exactly the rows the census used to drop.
    val postings = docsSh
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .groupBy("sh")
      .agg(expr(s"capped_collect(doc_id, $maxDf)").as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
    val cand = postings
      .select(explode(expr(
        "flatten(transform(ds, x -> " +
          "filter(transform(ds, y -> " +
          "if(x < y, named_struct('doc_a', x, 'doc_b', y), null)), " +
          "p -> p is not null)))")).as("pr"))
      .select(col("pr.doc_a").as("doc_a"), col("pr.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("nsh"))
      .filter(col("nsh") >= minShared)
      .select("doc_a", "doc_b")
    cand
      .join(docsSh.select(col("doc_id").as("doc_a"), col("shingles").as("sha")), "doc_a")
      .join(docsSh.select(col("doc_id").as("doc_b"), col("shingles").as("shb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") /
          least(size(col("sha")), size(col("shb"))), 4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Universal-hash minhash family over a 30-bit base hash: permutation
    * i is h -> (a_i * h + b_i) mod P with P = 2^31 - 1 (prime),
    * a_i in [1, P-1], b_i in [0, P-1] derived from the shared md5
    * scheme — so the oracle inlines the identical constants. The base
    * hash is h60(sh) mod 2^30, keeping a_i * h < 2^61 (DuckDB BIGINT
    * arithmetic errors on overflow rather than wrapping, so every
    * intermediate must stay under 2^63 in BOTH engines). One md5 per
    * shingle total — k=64 signatures cost 64 integer fmas, not 64
    * salted md5s. */
  val MH_P: Long = graft.functions.MinHashCodec.P // 2^31 - 1
  val MH_M: Long = graft.functions.MinHashCodec.M // 2^30
  def mhParams(k: Int): Seq[(Long, Long)] = {
    val (a, b) = graft.functions.MinHashCodec.params(k)
    a.zip(b).toSeq
  }

  /** Signatures from an exploded (doc_id, sh) relation — the builtin
    * groupBy formulation of the permutation math. Kept as the
    * differential twin of the row-level `minhash_sig` expression
    * (MinHashSigSpec locks the two bit-equal); the hot path uses the
    * expression, which needs no shuffle at all. */
  private def signaturesFrom(shingleRel: DataFrame, k: Int): DataFrame = {
    val s = shingleRel.withColumn("h", TextFns.h60(col("sh")) % MH_M)
    val aggs = mhParams(k).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % MH_P).as(s"m$i")
    }
    s.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signature columns: min over the shingle set of k
    * universal-hash permutations of the base hash — ONE md5 + k integer
    * fmas per shingle, one groupBy pass (k parallel min aggregates,
    * map-side partial). */
  def minhashSignatures(docs: DataFrame, k: Int): DataFrame =
    signaturesFrom(shingleRelation(docs), k)

  /** Row-level signature column over a `shingles` array: the native
    * `minhash_sig` expression computes all k minima in one scan of the
    * array, so signatures are a stateless per-row map — no explode, no
    * shuffle (at corpus scale the exploded relation is ~50x the corpus
    * row count and was dedup_minhash's largest exchange). NULL when the
    * doc has no shingles, mirroring the exploded form emitting no row.
    * Also the piece that makes MinHash dedup streamable
    * (StreamSurface.stream_dedup_minhash): a per-doc signature must not
    * need a mid-stream aggregation. */
  def minhashSigCol(k: Int): Column = expr(s"minhash_sig(shingles, $k)")

  /** MinHash + banded-LSH near-dup pairs: k signatures in `bands` bands
    * of rows = k/bands; docs colliding on any band become candidates;
    * candidates are verified with exact Jaccard and thresholded.
    *
    * The band join is an equality shuffle join on
    * (band_index, sig values) — at scale this is the only quadratic
    * risk, and only within identical-band groups (true near-dups plus
    * a tunable false-positive rate 1-(1-j^r)^b). Defaults k=64/b=16
    * (r=4) give a sharp S-curve around the 0.8 threshold: recall at
    * j=0.8 is 1-(1-0.8^4)^16 ≈ 0.9998, while FP candidate rate is
    * 1-(1-0.0081)^16 ≈ 12% at j=0.3 and ≈2.5% at j=0.2 — vs the
    * round-1 toy defaults k=8/b=4 (r=2) at ~31% / ~15%, which made the
    * verification join pay a third of all band-colliding non-dups at
    * corpus scale.
    *
    * The shingled corpus (doc_id, shingles array) is persisted and
    * shared by the signature branch and both sides of the verification
    * join, so normalization + shingling runs ONCE per corpus instead of
    * three times; Jaccard verification is per-candidate
    * `array_intersect` on the cached arrays — no second explode/shuffle
    * of the full shingle relation. The cache entry outlives the call
    * (the returned plan reads it lazily, so this function cannot
    * unpersist); Spark's CacheManager dedups identical plans, so
    * repeated calls over the same corpus share ONE entry — callers
    * sweeping MANY distinct corpora in one session should
    * `spark.catalog.clearCache()` between corpora (Bench does,
    * per rep).
    */
  /** Explode a signature relation (doc_id, sig array, …) into its
    * banded LSH keys (doc_id, carryCols…, band, key) — the
    * equality-join side of every MinHash variant here. ONE derivation
    * of the band/key format; `carryCols` lets the streaming variant
    * ride its shingle arrays along instead of re-deriving the format
    * inline (the key format must stay bit-identical across every
    * variant AND the oracle SQL band CTEs). */
  private def bandedKeys(sigs: DataFrame, bands: Int, r: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until r).map(j => col("sig")(b * r + j)): _*).as("key"))
    }
    val carried = carryCols.map(col)
    sigs.select(col("doc_id") +: carried :+
        explode(array(bandStructs: _*)).as("bk"): _*)
      .select(col("doc_id") +: carried :+
        col("bk.band").as("band") :+ col("bk.key").as("key"): _*)
  }

  /** MinHash-banded-LSH near-dup pairs: candidates from
    * [[minhashBandCandidates]], then exact-Jaccard verification
    * restricted to candidates. Output: (doc_a, doc_b, jaccard).
    *
    * RECALL CAVEAT when `maxBandGroup` is set (finite): oversized
    * band groups enumerate STAR (hub, member) candidates only, and
    * verification happens downstream — so a member–member pair whose
    * true Jaccard clears `threshold` while BOTH members' hub pairs
    * fail it is NOT reported, and its docs lose connectivity in
    * [[duplicateClusters]] / keep-first suppression in
    * [[dropNearDuplicates]]. How much recall this costs is
    * DATA-DEPENDENT: zero when oversized groups are template families
    * whose members all match their hub (the scenario the cap exists
    * for), non-zero when a group mixes a template collision with an
    * unrelated near-dup pair. Callers needing exhaustive recall keep
    * the default no-cap behavior; callers at template-skew scale
    * accept the caveat as the price of the linear candidate bound.
    * MEASURED (not just documented): the dedup_recall_minhash_capped
    * gate runs this evaluation on the planted-skew fixture with the
    * cap active — pair recall collapses to the hub stars exactly as
    * stated, while dedup_clusters_skew proves cluster membership is
    * unchanged. */
  /** Spread a narrow scan across the cores BEFORE compute-heavy
    * per-row work (optimization r16, guide §2.5 "input skew"): the sf
    * fixtures are single-row-group parquet files, so normalization +
    * shingling of the whole corpus otherwise runs as ONE task no
    * matter the split config (parquet cannot split below a row
    * group). The round-robin exchange moves only the raw doc bytes —
    * cheap next to the shingling it parallelizes — and is skipped
    * whenever the scan already fans out (the withNorm convention), so
    * a many-file 100 TB corpus pays nothing.
    *
    * Width is DATA-DERIVED, not `defaultParallelism` (optimization
    * r17, verdict r16 item 1): the unconditional 32-way spread made a
    * sub-MB corpus pay 32 tiny tasks per downstream stage, which under
    * a loaded scheduler cost more than the parallelism bought
    * (driver's 32-core window read dedup_containment at 6.40 s vs
    * 2.61 s at 8 cores on the same tree). Width =
    * ceil(sizeInBytes / 64 KB), clamped to [1, defaultParallelism] —
    * 64 KB of raw doc bytes ≈ 60 ms of shingling per task (the r16
    * stage profile: 529 ms for the 584 KB sf0.1 corpus on one task),
    * so small corpora spread ~4-10 ways and anything ≥ 2 MB still
    * derives the full core count. The size comes from the optimizer's
    * estimate for the relation (file bytes for a bare scan). */
  private[graft] def spreadDocs(docs: DataFrame): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val perTask = 64L * 1024
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val width = ((bytes + perTask - 1) / perTask)
      .min(BigInt(par)).max(BigInt(1)).toInt
    if (docs.rdd.getNumPartitions < width) docs.repartition(width) else docs
  }

  def minhashLshPairs(docs: DataFrame, threshold: Double,
      k: Int = 64, bands: Int = 16,
      maxBandGroup: Int = Int.MaxValue): DataFrame = {
    val docsSh = graft.core.EscapedCaches.persistTracked(
      TextFns.withShingles(spreadDocs(docs))
        .select(col("doc_id"), col("shingles")))
    minhashLshPairsFrom(docsSh, threshold, k, bands, maxBandGroup)
  }

  /** [[minhashLshPairs]] over a caller-persisted (doc_id, shingles)
    * relation — lets the composed recall gates share ONE shingle cache
    * between this candidate pass and their exact-Jaccard oracle
    * branch. The caller owns the persist lifecycle. */
  def minhashLshPairsFrom(docsSh: DataFrame, threshold: Double,
      k: Int = 64, bands: Int = 16,
      maxBandGroup: Int = Int.MaxValue): DataFrame = {
    val cand = minhashBandCandidates(docsSh, k, bands, maxBandGroup)

    // exact-Jaccard verification restricted to candidates: intersect
    // the cached per-doc shingle arrays directly (shingles are distinct
    // by construction, so |intersect| is the true set intersection)
    cand
      .join(docsSh.select(col("doc_id").as("doc_a"), col("shingles").as("sha")), "doc_a")
      .join(docsSh.select(col("doc_id").as("doc_b"), col("shingles").as("shb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("i"), size(col("sha")).cast("long"),
          size(col("shb")).cast("long")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Banded-LSH candidate generation over a (doc_id, shingles)
    * relation — the pair source of [[minhashLshPairs]], factored so
    * specs can count candidates directly.
    *
    * `maxBandGroup` is the HOT-BAND guard (the skew fixture's
    * template-family hazard): a band-key group of g docs expands to
    * C(g,2) pairs under the plain self-join — a single 10k-member
    * boilerplate family makes 50M candidates per colliding band, the
    * one quadratic hole in the banded shape. Groups LARGER than the
    * cap therefore emit STAR candidates only: (hub = min doc_id,
    * member) — g−1 rows, linear. Contract: within an oversized group,
    * only hub pairs are ENUMERATED, which preserves exactly what the
    * downstream consumers need — connectivity for
    * [[duplicateClusters]] (the star spans the group) and keep-first
    * suppression for [[dropNearDuplicates]] (every non-hub member
    * pairs with an earlier doc) — and groups only exceed a sane cap
    * when their members share the template that put them in one
    * bucket, so hub–member similarity holds where member–member does.
    * A non-hub pair whose docs ONLY ever co-occur in oversized groups
    * is not reported; callers needing the exhaustive pair list keep
    * the default no-cap behavior (which also skips the group-size
    * aggregation entirely — zero plan change for existing gates). */
  private[graft] def minhashBandCandidates(docsSh: DataFrame,
      k: Int, bands: Int, maxBandGroup: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // row-level signatures: one native scan per doc, zero shuffle
    // (the exploded groupBy twin lives in minhashSignatures)
    val sigs = docsSh
      .select(col("doc_id"), minhashSigCol(k).as("sig"))
      .where(col("sig").isNotNull)
    val banded = bandedKeys(sigs, bands, r)
    val cand =
      if (maxBandGroup == Int.MaxValue) {
        banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      } else {
        // single-pass windowed shape (r16, verdict #1): the former
        // census-aggregate + rejoin + small-group self-join scanned the
        // banded signature relation three times and paid three
        // data-scale exchanges; it was the fleet's most box-load-
        // sensitive plan. One window partitioning on (band, key)
        // attaches the group stats to every member row, a SECOND
        // window (same partitioning — no re-exchange, distribution
        // already satisfied) collects the member list ONLY for
        // in-cap groups (the gn guard keeps oversized groups' lists
        // empty, so window state stays ≤ cap ids per key — the
        // capped_collect discipline expressed as a window), and pair
        // emission is a row-local array expansion: member x emits
        // (x, y) for every in-cap co-member y > x, and every oversized
        // member emits its single hub pair. One signature scan, one
        // exchange before the distinct — same pair set as the join
        // shape by construction (DedupSkewSpec locks the counts).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "key")
        val withStats = banded
          .withColumn("gn", count(lit(1)).over(w))
          .withColumn("hub", min("doc_id").over(w))
        val withList = withStats.withColumn("ds",
          collect_list(when(col("gn") <= maxBandGroup, col("doc_id")))
            .over(w))
        withList.select(explode(when(col("gn") > maxBandGroup,
            when(col("doc_id") > col("hub"),
                array(struct(col("hub").as("doc_a"),
                  col("doc_id").as("doc_b"))))
              .otherwise(array().cast("array<struct<doc_a:bigint,doc_b:bigint>>")))
          .otherwise(expr(
            "transform(filter(ds, y -> y > doc_id), " +
              "y -> named_struct('doc_a', doc_id, 'doc_b', y))"))).as("p"))
          .select(col("p.doc_a"), col("p.doc_b"))
      }
    cand.distinct()
  }

  /** Exact duplicate clusters: connected components over the near-dup
    * pair graph, every member labeled with its component's smallest
    * doc_id ([[dropNearDuplicates]]'s keep-first policy approximates
    * this when chains a-b, b-c exist without a-c; this is the exact
    * clustering). Output: (doc_id, cluster_id) for every doc appearing
    * in at least one pair.
    *
    * Iterative min-label propagation as DataFrame ops: each round a
    * node takes the min of (own label, neighbors' labels, its LABEL'S
    * label) — the last term is pointer jumping, which halves the
    * remaining distance to the component minimum every round, so
    * convergence is O(log diameter) instead of O(diameter) (a 10-node
    * chain converges in 4 rounds, not 9). Each round's labels are
    * checkpointed (localCheckpoint — eager, lineage-TRUNCATING): with
    * mere persist the logical plan still nests the previous round's
    * tree several times over and grows exponentially with iterations
    * (observed as an OOM in plan stringification by round ~9). The
    * per-round convergence probe is a limit-1 count over the changed
    * set. If the cap is hit without convergence the call THROWS —
    * silently returning partial labels would hand the caller wrong
    * clusters with no signal.
    *
    * `checkpointDir`: when given, per-round state goes through
    * RELIABLE `checkpoint()` against that directory (HDFS/S3 on a real
    * cluster) instead of `localCheckpoint()` — local checkpoints live
    * in executor block storage and are LOST if an executor dies
    * mid-iteration, killing the whole job; a multi-hour 100 TB
    * clustering run should pay the durable-write cost per round. The
    * default (None) keeps the fast executor-local path for
    * short-running / single-node use.
    *
    * Small-graph fast path: a near-dup pair graph is usually TINY
    * relative to the corpus it came from (even a 10^9-doc corpus with
    * 0.1% near-dups yields ~10^6 edges), and the iterative loop pays
    * 1-2 scheduler-floor jobs PER ROUND for it. When `checkpointDir`
    * is empty and the edge count is at most `smallGraphEdges`, the
    * edges — already a bounded set by that very threshold, the
    * centroid-collect category — are collected once and labeled by
    * driver-side union-find with the identical min-label semantics
    * (UTF-8-binary min for strings = Spark's UTF8String ordering),
    * replacing O(log diameter) rounds of jobs with ONE bounded
    * collect. Above the threshold, or with a reliable checkpoint dir,
    * the distributed loop runs unchanged; the pair relation is
    * persisted so probing the size never recomputes pair generation.
    *
    * Checkpoint hygiene (Spark's cleaner does NOT delete reliable
    * checkpoints by default, and `setCheckpointDir` is process-global
    * state): each call works in a unique sub-directory, every round's
    * files are deleted as soon as the NEXT round's checkpoint has
    * materialized (the new checkpoint truncates lineage, so nothing
    * references them), and any previously configured checkpoint dir is
    * restored on exit. Only the final round's files — which the
    * returned DataFrame still reads — survive the call.
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20,
      checkpointDir: Option[String] = None,
      smallGraphEdges: Int = 1000000,
      // test seam (CheckpointRecoverySpec): invoked after every round's
      // checkpoint + in-loop GC with the lowest label round still
      // referenced — lets a fault-injection test observe/delete
      // superseded round dirs MID-RUN and prove nothing reads them
      roundHook: Int => Unit = _ => ()): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    // fast-path probe: bounded-size limit+1 collect (one job, no
    // separate count) on a PERSISTED pair relation, so a probe miss
    // never recomputes pair generation — the fallback's round-0
    // edges checkpoint reads the cache instead
    val pk = pairs.select(col("doc_a"), col("doc_b"))
    val keyOrd = smallGraphOrdering(pk.schema.head.dataType)
    val cached = if (checkpointDir.isEmpty && smallGraphEdges > 0 && keyOrd.isDefined)
      Some(pk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    else None
    val src = cached.getOrElse(pk)
    val prior = sc.getCheckpointDir
    val reliable = checkpointDir.isDefined
    val subRoot = checkpointDir.map(d =>
      s"$d/graft-cc-${java.util.UUID.randomUUID().toString.take(8)}")
    def fs = new org.apache.hadoop.fs.Path(subRoot.get)
      .getFileSystem(sc.hadoopConfiguration)
    var round = 0
    def save(df: DataFrame): DataFrame =
      if (reliable) {
        sc.setCheckpointDir(s"${subRoot.get}/round-$round")
        round += 1
        df.checkpoint(true)
      } else df.localCheckpoint(true)
    def dropRoundsBelow(keep: Int): Unit = if (reliable) {
      // rounds 1.. are label state; round 0 (edges) must survive the
      // whole loop — it feeds every iteration's neighbor join
      (1 until keep).foreach { r =>
        fs.delete(new org.apache.hadoop.fs.Path(s"${subRoot.get}/round-$r"), true)
      }
    }
    // setCheckpointDir is PROCESS-GLOBAL: without mutual exclusion a
    // concurrent reliable-checkpoint caller could re-point the dir
    // between this call's set and its checkpoint job, landing files in
    // the other call's round dir — which that call then DELETES. The
    // lock serializes reliable clustering runs per JVM (local-mode
    // callers are unaffected: localCheckpoint never touches the dir).
    def body(): DataFrame =
      try {
        val edges = save(src.select(col("doc_a").as("u"), col("doc_b").as("v"))
          .union(src.select(col("doc_b").as("u"), col("doc_a").as("v")))
          .distinct())
        val labels = save(edges.select(col("u").as("doc_id")).distinct()
          .withColumn("label", col("doc_id")))
        val out =
          duplicateClustersLoop(edges, labels, maxIters, save,
            keep => { dropRoundsBelow(keep); roundHook(keep) }, () => round)
        // converged: the returned plan reads only the FINAL labels
        // checkpoint — the in-loop cleanup already dropped superseded
        // label rounds, and the edges checkpoint (round-0, the largest
        // of the run) is no longer referenced either
        if (reliable)
          fs.delete(new org.apache.hadoop.fs.Path(s"${subRoot.get}/round-0"), true)
        out
      } finally {
        // restore the caller's dir; when none was configured, re-point
        // at the caller-provided ROOT (a durable location the caller
        // designated) rather than leaving the run-scoped UUID subdir —
        // whose round dirs this call deletes — configured for later
        // unrelated checkpoint() users. (setCheckpointDir(null) is not
        // a safe "unset": its non-local-path guard touches the string.)
        if (reliable) sc.setCheckpointDir(prior.getOrElse(checkpointDir.get))
      }
    try {
      cached.foreach { c =>
        boundedEdgeProbe(c, smallGraphEdges).foreach { probe =>
          return smallGraphClusters(spark, probe, pk.schema.head, keyOrd.get)
        }
      }
      if (reliable) reliableCkptLock.synchronized(body()) else body()
    } finally {
      // both exits are safe: the fast path's result is a driver-built
      // relation, and the iterative path's round-0 edges checkpoint is
      // EAGER — nothing references the cache once either returns
      cached.foreach(_.unpersist(false))
    }
  }

  /** JVM-wide mutex for reliable-checkpoint clustering runs (see
    * [[duplicateClusters]] — guards the process-global checkpoint
    * dir). */
  private val reliableCkptLock = new Object

  /** Bounded small-graph probe over a persisted pair relation: a
    * limited COUNT (one scalar to the driver) decides the path, and
    * edge rows are collected only when the graph actually fits the
    * bound — the big-graph path never pulls `bound` rows onto the
    * driver (r9 verdict item 6; the prior probe collected bound+1 rows
    * just to learn the graph was big). The count pass also warms the
    * cache the distributed path reads, so the extra job is a cached
    * limited scan on the small path only. */
  private[ops] def boundedEdgeProbe(cached: org.apache.spark.sql.DataFrame,
      bound: Int): Option[Array[org.apache.spark.sql.Row]] =
    if (cached.limit(bound + 1).count() > bound) None
    else Some(cached.limit(bound).collect())

  /** Orderings matching Spark's `min` over the supported cluster-key
    * types — strings compare as UTF-8 bytes unsigned (UTF8String's
    * binary ordering), NOT java.lang.String's UTF-16 order. Exotic key
    * types get None and take the distributed path, whose `min` is
    * type-correct by construction. */
  private[ops] def smallGraphOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => Some(Ordering.by[Any, Byte](_.asInstanceOf[Byte]))
      case ShortType => Some(Ordering.by[Any, Short](_.asInstanceOf[Short]))
      case IntegerType => Some(Ordering.by[Any, Int](_.asInstanceOf[Int]))
      case LongType => Some(Ordering.by[Any, Long](_.asInstanceOf[Long]))
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = java.util.Arrays.compareUnsigned(
          a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      case _ => None
    }
  }

  /** Driver-side union-find for pair graphs under the
    * [[duplicateClusters]] small-graph threshold: identical min-label
    * clustering in ONE bounded collect instead of per-round jobs. */
  private def smallGraphClusters(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row],
      keyField: org.apache.spark.sql.types.StructField,
      ord: Ordering[Any]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def id(v: Any): Int = idx.getOrElseUpdate(v, {
      nodes += v; parent += nodes.size - 1; nodes.size - 1
    })
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { e =>
      val (u, v) = (find(id(e.get(0))), find(id(e.get(1))))
      if (u != v) parent(u) = v
    }
    // min node per component = the exact label the iterative loop emits
    val minOf = scala.collection.mutable.HashMap.empty[Int, Any]
    nodes.indices.foreach { i =>
      val r = find(i)
      val cur = minOf.get(r)
      if (cur.isEmpty || ord.lt(nodes(i), cur.get)) minOf(r) = nodes(i)
    }
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.indices.map(i =>
        org.apache.spark.sql.Row(nodes(i), minOf(find(i)))): _*)
    spark.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", keyField.dataType, nullable = false),
      StructField("cluster_id", keyField.dataType, nullable = false))))
  }

  private def duplicateClustersLoop(edges: DataFrame, labels0: DataFrame,
      maxIters: Int, save: DataFrame => DataFrame,
      dropRoundsBelow: Int => Unit, round: () => Int): DataFrame = {
    var labels = labels0
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("v"), col("label").as("nl")), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min("nl").as("nmin"))
      // pointer jumping: the label of my label
      val hop = labels.select(col("doc_id").as("jid"), col("label").as("jl"))
      // the convergence probe rides the SAME action that materializes
      // the round (observe/CollectMetrics) — a separate changed-count
      // job per round was ~half the per-round wall time
      val obs = new org.apache.spark.sql.Observation(s"cc_changed_$i")
      val next = save(labels
        .join(nbrMin, Seq("doc_id"), "left")
        .join(hop.select(col("jid").as("label"), col("jl")), Seq("label"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"),
            coalesce(col("nmin"), col("label")),
            coalesce(col("jl"), col("label"))).as("label"))
        .observe(obs, sum(when(col("label") =!= col("old"), 1L).otherwise(0L)).as("changed"))
        .select("doc_id", "label"))
      // sum over an empty round is SQL NULL — treat as converged
      val changed = Option(obs.get.getOrElse("changed", null))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next
      converged = changed == 0
      // the round's checkpoint was the last read of the previous
      // labels checkpoint — its files are now unreferenced
      dropRoundsBelow(round() - 1)
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIters rounds — " +
          "raise maxIters (components deeper than 2^maxIters hops are implausible for near-dup graphs)")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Materialize the deduplicated corpus: documents minus near-dup
    * "losers". Keep-first policy: in every near-dup pair (a < b), b is
    * dropped — each duplicate cluster keeps its smallest doc_id (plus
    * possibly chain representatives; [[duplicateClusters]] gives the
    * exact clustering when needed). One left_anti join against the
    * loser set — the actual end-user operation of a training-data
    * pipeline. */
  def dropNearDuplicates(docs: DataFrame, threshold: Double): DataFrame = {
    val losers = minhashLshPairs(docs, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** INCREMENTAL near-dup suppression — the production ingest shape: a
    * new batch arrives against an already-accepted corpus, and each
    * incoming document is kept only if it near-dups neither an existing
    * document nor an earlier (smaller doc_id) document of its own
    * batch. Same keep-first policy as [[dropNearDuplicates]], extended
    * with the existing corpus as unconditional authority.
    *
    * Why this is the 100 TB shape: re-running whole-corpus dedup per
    * ingest batch is O(corpus) per batch; here the band join is
    * (incoming × existing-index) ∪ (incoming × incoming) — both sides
    * of every equality join are bounded by the BATCH's band keys, so
    * per-batch cost scales with the batch, not the corpus. The
    * existing side needs only its banded signature relation — in
    * production that is a precomputed index maintained alongside the
    * corpus (signatures are stateless per-row `minhash_sig` maps, so
    * indexing an accepted batch is one scan); shingle arrays for the
    * Jaccard verify are fetched per-candidate, and candidates are the
    * batch's collisions only.
    *
    * Output, one row per INCOMING doc: (doc_id, dup_of = smallest
    * matched authority id or NULL, kept verdict). Deterministic: min
    * over verified matches, threshold exact on 4dp-rounded Jaccard
    * like every MinHash gate here.
    *
    * Cache lifecycle contract: both shingle relations are persisted
    * and the result is lazy — the caller releases them after
    * materializing (`spark.catalog.clearCache()`, the Verify/Bench
    * convention), same as [[minhashLshPairs]] and
    * [[graft.ops.Decontam.overlap]].
    */
  def incrementalSuppress(existing: DataFrame, incoming: DataFrame,
      threshold: Double, k: Int = 64, bands: Int = 16): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    def shingled(df: DataFrame) = TextFns.withShingles(spreadDocs(df))
      .select(col("doc_id"), col("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exSh = shingled(existing)
    val inSh = shingled(incoming)
    def sigsOf(sh: DataFrame) = sh
      .select(col("doc_id"), minhashSigCol(k).as("sig"))
      .where(col("sig").isNotNull)
    val exBand = bandedKeys(sigsOf(exSh), bands, r)
    val inBand = bandedKeys(sigsOf(inSh), bands, r)
    // candidates: incoming vs existing (any order) + incoming vs
    // earlier incoming — both plain equality joins on (band, key)
    val candEx = inBand.as("i").join(exBand.as("e"),
        col("i.band") === col("e.band") && col("i.key") === col("e.key"))
      .select(col("i.doc_id").as("in_id"), col("e.doc_id").as("auth_id"))
      .distinct()
    val candIn = inBand.as("a").join(inBand.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("in_id"), col("b.doc_id").as("auth_id"))
      .distinct()
    // verify exact Jaccard per candidate on the cached shingle arrays;
    // authority arrays come from the side the candidate named
    def verified(cand: DataFrame, authSh: DataFrame) = cand
      .join(inSh.select(col("doc_id").as("in_id"), col("shingles").as("shi")), "in_id")
      .join(authSh.select(col("doc_id").as("auth_id"), col("shingles").as("sha")), "auth_id")
      .withColumn("i", size(array_intersect(col("shi"), col("sha"))))
      .filter(jaccard(col("i"), size(col("shi")).cast("long"),
        size(col("sha")).cast("long")) >= threshold)
      .select("in_id", "auth_id")
    val matches = verified(candEx, exSh).unionByName(verified(candIn, inSh))
      .groupBy("in_id").agg(min("auth_id").as("dup_of"))
    incoming.select(col("doc_id"))
      .join(matches.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNull.cast("long").as("kept"))
  }

  /** Character-level near-dup pairs by bounded edit distance — the
    * fuzzy-matching family member token-based methods miss (1-char
    * typos shift every containing shingle, but cost 1 edit).
    * Candidates block on (16-char normalized prefix, ±1 length-20
    * bucket) — an equality join plus a range filter, never all-pairs;
    * `levenshtein` (identical integer DP in Spark and DuckDB) verifies
    * candidates only. Standard prefix-blocking tradeoff, stated
    * plainly: an edit inside the first 16 normalized chars moves the
    * block and the pair is missed — sorted-neighborhood recall, with
    * the token-level variants (ngram/minhash) covering that regime.
    * Output (doc_a, doc_b, dist), dist ≤ maxDist. */
  def editDistancePairs(docs: DataFrame, maxDist: Int): DataFrame = {
    // bucket width = maxDist: dist <= maxDist implies the length diff
    // is <= maxDist, and |len_a - len_b| <= W guarantees the div-W
    // buckets are adjacent — so ±1 adjacency is lossless at ANY
    // maxDist (a fixed width would silently drop long-edit pairs)
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val n = docs.select(col("doc_id"), TextFns.normText(col("text")).as("t"))
      .withColumn("blk", substring(col("t"), 1, 16))
      .withColumn("lb", expr(s"length(t) div $maxDist"))
    n.as("a").join(n.as("b"),
        col("a.blk") === col("b.blk") &&
          abs(col("a.lb") - col("b.lb")) <= 1 &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.t"), col("b.t")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** The existing-authority HALF of [[incrementalSuppress]], shaped so
    * the incoming side may be a STREAMING DataFrame: output is the
    * suppressed incoming docs only, (doc_id, dup_of = smallest matched
    * existing doc). Everything on the incoming path is stateless
    * row-local work (shingles, row-level `minhash_sig`, band explode)
    * and every join is stream-STATIC (the existing corpus's band index
    * and shingle arrays — exactly the index production maintains
    * alongside an accepted corpus), so the only state is the final
    * min-aggregation over matches; Structured Streaming runs it as-is.
    *
    * Two deliberate differences from the batch form, both
    * streaming-forced: candidates are NOT deduplicated before the
    * verify (dropDuplicates state on an unbounded pair stream; extra
    * collisions only repeat a verify that the final min() absorbs),
    * and the incoming shingle arrays ride the band rows instead of
    * joining back (a cand⋈incoming join would be stream-stream).
    *
    * Cache lifecycle contract: the existing-side shingle relation is
    * persisted and the result is lazy — the caller releases it after
    * the query/batch completes (`spark.catalog.clearCache()`), same
    * as [[incrementalSuppress]]. */
  def suppressAgainstIndex(existing: DataFrame, incoming: DataFrame,
      threshold: Double, k: Int = 64, bands: Int = 16): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // spread the BATCH side only (incoming may be a stream — no .rdd)
    val exSh = TextFns.withShingles(spreadDocs(existing))
      .select(col("doc_id"), col("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exBand = bandedKeys(exSh
      .select(col("doc_id"), minhashSigCol(k).as("sig"))
      .where(col("sig").isNotNull), bands, r)
      .withColumnRenamed("doc_id", "auth_id")
    val inSh = TextFns.withShingles(incoming)
      .select(col("doc_id"), col("shingles"))
    val inSig = inSh.select(col("doc_id"), col("shingles"),
      minhashSigCol(k).as("sig")).where(col("sig").isNotNull)
    val inBand = bandedKeys(inSig, bands, r, carryCols = Seq("shingles"))
    inBand.join(exBand, Seq("band", "key"))
      .join(exSh.select(col("doc_id").as("auth_id"),
        col("shingles").as("sha")), "auth_id")
      .withColumn("i", size(array_intersect(col("shingles"), col("sha"))))
      .filter(jaccard(col("i"), size(col("shingles")).cast("long"),
        size(col("sha")).cast("long")) >= threshold)
      .groupBy("doc_id").agg(min("auth_id").as("dup_of"))
  }

  /** n-bit SimHash per document over raw-text tokens (with
    * multiplicity): bit i of the signature is the sign of the vote sum
    * over token hashes' bit i. One explode + one groupBy with nBits
    * parallel sums (map-side partial); ties (sum == 0) set the bit,
    * matching the oracle. Output: (doc_id, simhash).
    */
  private def simhashN(docs: DataFrame, nBits: Int,
      h: Column => Column): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(expr("regexp_extract_all(text, '\\\\S+', 0)")).as("tok"))
      .withColumn("h", h(col("tok")))
    val votes = (0 until nBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$i"))
    val voted = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sig = (0 until nBits).map(i =>
      when(col(s"v$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    voted.select(col("doc_id"), sig.as("simhash"))
  }

  /** 32-bit SimHash (compact signature surface — `dedup_simhash`). */
  def simhash(docs: DataFrame): DataFrame = simhashN(docs, 32, TextFns.h32)

  /** 60-bit SimHash — the pair-generation signature. 60 bits (vs 32)
    * is what makes chunk blocking scale: 15-bit chunks give 32768
    * blocking buckets per chunk position instead of 256. */
  def simhash60(docs: DataFrame): DataFrame = simhashN(docs, 60, TextFns.h60)

  /** Hamming distance between two SimHash values (popcount of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs over the 60-bit signature, blocked on
    * maxHamming + 1 disjoint bit chunks.
    *
    * Pigeonhole bound: d <= maxHamming differing bits land in at most
    * maxHamming of the maxHamming + 1 chunks, so at least one chunk is
    * bit-identical and the pair collides on that chunk's equality key —
    * recall is EXACT at the configured threshold (a fixed 4-chunk
    * blocking would silently lose pairs at d = 4: one flipped bit per
    * chunk leaves no chunk equal).
    *
    * Scale: candidates come from an equality join on (chunk position,
    * chunk key). At the default maxHamming = 3 that is 4 chunks of 15
    * bits — 32768 blocking buckets per position, so within-bucket work
    * is ~4·n²/32768 candidate checks for n uniformly-hashed docs (128x
    * fewer than 8-bit-chunk blocking over a 32-bit signature), and true
    * near-dup clusters dominate the buckets long before that bound
    * matters.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigBits = 60
    val nChunks = maxHamming + 1
    require(maxHamming >= 1 && nChunks <= sigBits,
      s"maxHamming must be in [1, ${sigBits - 1}]")
    // chunk widths as equal as possible; wider chunks first
    val widths = Array.tabulate(nChunks)(c =>
      sigBits / nChunks + (if (c < sigBits % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val sh = simhash60(docs)
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until nChunks).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("simhash"), offsets(c))
            .bitwiseAND(lit((1L << widths(c)) - 1)).as("k"))): _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.c").as("c"), col("ck.k").as("k"))
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.k") === col("y.k") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming(col("x.simhash"), col("y.simhash")).cast("long").as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
  }

  /** Blocklist suppression with a bloom-sketch prefilter — the
    * runtime-filter pattern made explicit: drop every corpus document
    * whose normalized-content fingerprint appears in `blocklist`,
    * without ever joining the full corpus against the blocklist.
    *
    * Shape at scale: the blocklist reduces to ONE fixed-size bloom
    * sketch (`numBits` caps the aggregate buffer — 1.2 bytes/key at 1%
    * fp gives 120 MB for a 10^8-entry blocklist, where the exact fp
    * set would be multi-GB and past broadcast limits), evaluated as a
    * SCALAR SUBQUERY inside the one plan. The corpus pass splits on
    * `bloom_might_contain`:
    * non-candidates pass through at SCAN SPEED with no shuffle (blooms
    * have no false negatives, so a miss is proof of cleanliness);
    * only bloom candidates — true hits plus the ~1% false positives —
    * pay the exact anti-join against the real fingerprint set. The
    * output is EXACT regardless of bloom sizing (false positives are
    * re-verified, spec-locked under a deliberately saturated sketch).
    *
    * Job shape: ZERO plan-build-time jobs. The caller's single action
    * runs the bloom subquery (which doubles as the blocklist-
    * fingerprint cache materialization — one blocklist scan total, the
    * anti-join reads the cache) and the corpus pass; nothing is
    * collected to the driver. Spark's BloomFilterAggregate silently
    * clamps its sizing to `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems` (default 4M) / `.maxNumBits` (default 2^26 bits =
    * 8 MB) — an oversized request would saturate without warning and
    * quietly degrade the scan-speed fast path to a near-full anti-join
    * (still exact, no longer fast), so sizing past the session confs
    * FAILS LOUDLY here instead: raise those two confs for a 10^8-entry
    * blocklist, then size the sketch.
    *
    * Output: the kept documents (doc_id, lang, source, n_chars). The
    * corpus fingerprint relation is persisted to feed both branches —
    * caller releases via clearCache, the shared-relation convention. */
  def suppressBlocklist(corpus: DataFrame, blocklist: DataFrame,
      estItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame =
    suppressBlocklistImpl(corpus, blocklist, estItems, numBits, cache = true)

  /** [[suppressBlocklist]] for a STREAMING corpus: every stage is
    * stateless (constant-sketch test, stream-static left-anti verify
    * against the static fingerprint set), so the query runs in append
    * mode with ZERO streaming state — the blocklist path a live ingest
    * pipeline wants. Two differences from the batch form: a streaming
    * relation cannot be cached, so the two branches re-read the source
    * per microbatch; and streaming plans cannot host scalar
    * subqueries, so the sketch is FROZEN at plan-build time (one
    * bounded head() collect of the numBits/8-byte sketch). The
    * blocklist must therefore be IMMUTABLE for the lifetime of the
    * query: rows added to the blocklist files after start would be
    * bloom misses and pass through "clean by proof" forever, while the
    * per-microbatch exact verify would see them — mixed-staleness
    * semantics. Restart the query to pick up a new blocklist snapshot. */
  def suppressBlocklistStream(corpus: DataFrame, blocklist: DataFrame,
      estItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame =
    suppressBlocklistImpl(corpus, blocklist, estItems, numBits, cache = false)

  private def suppressBlocklistImpl(corpus: DataFrame, blocklist: DataFrame,
      estItems: Long, numBits: Long, cache: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    // loud-fail instead of BloomFilterAggregate's silent Math.min clamp
    // (see scaladoc): a saturated sketch is a perf cliff, not an error
    // the results would ever surface
    def conf(k: String, dflt: Long): Long =
      spark.conf.getOption(k).map(_.toLong).getOrElse(dflt)
    val maxItems = conf("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L)
    val maxBits = conf("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 67108864L)
    require(estItems <= maxItems && numBits <= maxBits,
      s"bloom sizing (estItems=$estItems, numBits=$numBits) exceeds " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems / " +
        s"maxNumBits=$maxBits — Spark would silently clamp and saturate " +
        "the sketch; raise the confs to size for a larger blocklist")
    // no distinct: neither the bloom build nor the left-anti verify
    // cares about duplicate fingerprints, and the dedup costs a shuffle.
    // Cached (batch mode) so the bloom subquery's scan IS the
    // materialization the anti-join then reuses.
    val blockFpsRaw = blocklist
      .select(md5(TextFns.normText(col("text"))).as("fp"))
    val blockFps = if (cache)
      blockFpsRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else blockFpsRaw
    val fpsRaw = corpus.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), md5(TextFns.normText(col("text"))).as("fp"))
    val fps = if (cache)
      fpsRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else fpsRaw
    // the sketch: one narrow aggregation to a scalar value —
    // might_contain requires a constant or scalar subquery, and this is
    // exactly what Spark's own InjectRuntimeFilter emits. Batch plans
    // carry it as an in-plan scalar subquery (no driver round-trip, no
    // plan-build job); streaming plans can't, so there the sketch is
    // frozen at build time via one bounded head() collect (numBits/8
    // bytes of MODEL state, the centroid-collect category).
    val bfAgg = blockFps
      .agg(expr(s"bloom_agg(xxhash64(fp), ${estItems}L, ${numBits}L)").as("bf"))
    val out = Seq("doc_id", "lang", "source", "n_chars")
    val bfCol: Option[Column] =
      if (cache) Some(bfAgg.scalar())
      else Option(bfAgg.head().getAs[Array[Byte]]("bf")).map(lit(_))
    if (bfCol.isEmpty) // empty blocklist aggregates to null: keep all
      return fps.select(out.head, out.tail: _*)
    // an EMPTY blocklist makes the subquery NULL → might_contain NULL →
    // coalesce false → every row is a miss: correct (nothing is banned)
    val tagged = fps.withColumn("mc", coalesce(
      call_function("bloom_might_contain", bfCol.get, xxhash64(col("fp"))),
      lit(false)))
    // clean-by-proof branch: no shuffle ever touches these rows
    val misses = tagged.filter(!col("mc")).select(out.head, out.tail: _*)
    // candidates only: exact verify against the real fingerprints
    val survivors = tagged.filter(col("mc"))
      .join(blockFps, Seq("fp"), "left_anti").select(out.head, out.tail: _*)
    misses.union(survivors)
  }

  /** Per-document duplicated-block fraction — the sub-document face of
    * exact dedup (Gopher's dup-line-fraction repetition signal, over
    * non-overlapping `blockTokens`-token blocks since the fixture text
    * has no line structure): a document's distinct blocks are counted
    * and each is checked for presence in ANY other document; the
    * output fraction (integer basis points) is the cross-doc
    * boilerplate share that doc-level exact/minhash dedup cannot see.
    *
    * Shape at scale: blocks come from one native `word_blocks` scan
    * (generator explode, no lambda-inlining re-tokenization), reduce
    * to 8-byte h60 hashes before the one shuffle (distinct on
    * (doc_id, bh)), and the sharing test is a groupBy on the hash +
    * one join back — the dedup_exact cost model applied at block
    * granularity. No driver state, no cross product.
    *
    * Output: (doc_id, n_blocks, n_shared, shared_bp), zero-row docs
    * kept with zeros. */
  def duplicateBlockStats(docs: DataFrame, blockTokens: Int = 10): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1, got $blockTokens")
    // the block relation feeds BOTH the per-block doc counts and the
    // per-doc rollup — persist so tokenize+hash runs once per corpus
    // (caller releases via clearCache, the shared-relation convention)
    val blocks = docs
      .select(col("doc_id"),
        explode(expr(s"word_blocks(text, $blockTokens)")).as("block"))
      .select(col("doc_id"), TextFns.h60(col("block")).as("bh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // blocks is distinct per (doc_id, bh), so count(*) per bh = the
    // number of distinct docs carrying the block
    val byBlock = blocks.groupBy("bh").agg(count(lit(1)).as("nd"))
    val per = blocks.join(byBlock, "bh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum((col("nd") >= 2).cast("long")).as("n_shared"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("shared_bp",
        expr("n_shared * 10000 div greatest(n_blocks, 1)"))
  }

  /** Per-document duplicated-SPAN coverage — the overlapping-window
    * sharpening of [[duplicateBlockStats]] (the span-level signal of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022: a token is boilerplate iff SOME cross-doc-repeated
    * `spanTokens`-gram covers it, wherever the repeat is aligned —
    * fixed blocks miss repeats that straddle a block boundary).
    *
    * A gram (all `spanTokens`-token windows, stride 1) is duplicated
    * iff it occurs in >= 2 distinct documents; a doc's covered-token
    * count is the size of the UNION of the intervals [pos, pos+n) of
    * its duplicated grams — computed with a per-doc running-max window
    * (contribution = pos + n − max(pos, prev running max end), clamped
    * at 0), not by exploding per-token rows.
    *
    * Shape at scale: the gram relation is ~one row per token but
    * reduces to (doc_id, pos, 8-byte h60) before its one shuffle; the
    * duplicated-gram set is a groupBy on the hash over the DISTINCT
    * (doc, gram) projection; only positions of DUPLICATED grams (the
    * boilerplate subset, a small fraction of a clean web corpus) enter
    * the keyed interval-union window. No global sort, no cross product,
    * no per-token explode.
    *
    * Output: (doc_id, n_tokens, covered_tokens, covered_bp); docs with
    * no duplicated span (or fewer than `spanTokens` tokens) kept with
    * zero coverage. */
  /** (doc_id, pos, gh): position-indexed `n`-gram hashes — the shared
    * front half of [[dupSpanCoverage]] and [[applySpanDedup]];
    * persisted so the tokenize+hash scan runs once (caller releases
    * via clearCache, the shared-relation convention). */
  private def positionedGramHashes(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(expr(s"word_ngrams_all(text, $n)")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        TextFns.h60(col("gram")).as("gh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Grams occurring in >= 2 DISTINCT documents (distinct (doc, gram)
    * first so within-doc repeats don't count as cross-doc sharing). */
  private def crossDocDupGrams(grams: DataFrame): DataFrame =
    grams.select("doc_id", "gh").distinct()
      .groupBy("gh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("gh")

  def dupSpanCoverage(docs: DataFrame, spanTokens: Int = 10): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val n = spanTokens
    val grams = positionedGramHashes(docs, n)
    val dup = crossDocDupGrams(grams)
    // interval union per doc over duplicated positions only: running
    // max of previous interval ends; each row adds its uncovered tail
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val covered = grams.join(dup, "gh")
      .withColumn("pe", max(col("pos") + lit(n.toLong)).over(w))
      .withColumn("add", greatest(lit(0L),
        col("pos") + lit(n.toLong) -
          greatest(col("pos"), coalesce(col("pe"), col("pos")))))
      .groupBy("doc_id").agg(sum("add").as("covered_tokens"))
    // denominator from the SAME `\S+` walk the grams use (1-grams), so
    // coverage_bp is exact under any whitespace quirk in the text
    docs.select(col("doc_id"),
        expr("size(word_ngrams_all(text, 1))").cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("covered_bp",
        expr("covered_tokens * 10000 div greatest(n_tokens, 1)"))
  }

  /** The curation ACTION behind [[dupSpanCoverage]]'s signal: TRIM
    * every cross-doc-duplicated span out of the kept text (the
    * "Deduplicating Training Data" class of substring dedup applied
    * at paragraph/span grain — coverage tells you how much boilerplate
    * a doc carries; this removes it). Deterministic policy, stated:
    * a token is dropped iff SOME duplicated `spanTokens`-gram covers
    * it (ALL occurrences go — symmetric trim, no canonical-copy
    * election), survivors are re-joined single-spaced in original
    * order. The oracle replays the identical token-interval arithmetic
    * and compares the md5 of the rebuilt text.
    *
    * Shape at scale: the gram census is [[dupSpanCoverage]]'s
    * (8-byte hashes before the one shuffle); duplicated POSITIONS per
    * doc collapse to one sorted array row (bounded by the doc's own
    * gram count), and the trim itself is a codegen'd higher-order
    * filter over the token array — no per-token explode, no second
    * shuffle, no string surgery on char offsets.
    *
    * Output: (doc_id, n_tokens, kept_tokens, trimmed_fp, trimmed_len);
    * docs with nothing duplicated keep all tokens (fp of the
    * space-rejoined raw token stream — the normText-free analog). */
  def applySpanDedup(docs: DataFrame, spanTokens: Int = 10): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val n = spanTokens
    val grams = positionedGramHashes(docs, n)
    val dup = crossDocDupGrams(grams)
    val dps = grams.join(dup, "gh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list("pos")).as("dps"))
    docs.join(dps, Seq("doc_id"), "left")
      .selectExpr("doc_id", "word_ngrams_all(text, 1) AS toks",
        "coalesce(dps, CAST(array() AS array<bigint>)) AS dps")
      .selectExpr("doc_id", "CAST(size(toks) AS bigint) AS n_tokens",
        s"filter(toks, (t, i) -> NOT exists(dps, p -> i >= p AND i < p + $n)) AS kept")
      .selectExpr("doc_id", "n_tokens",
        "CAST(size(kept) AS bigint) AS kept_tokens",
        "md5(array_join(kept, ' ')) AS trimmed_fp",
        "CAST(length(array_join(kept, ' ')) AS bigint) AS trimmed_len")
  }
}
