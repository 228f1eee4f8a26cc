package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths (SURVEY.md §7.2 step 7 extension surface):
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small)
  *    query set against a full scan of the corpus; one pass, no
  *    shuffle except the final per-query top-k (TakeOrdered inside a
  *    window). The correctness baseline.
  *  - [[lshBucketTopK]]: sign-random-projection LSH — deterministic
  *    hyperplanes derived from the shared md5 hash, so buckets are
  *    reproducible in any engine. At scale: bucketing is a narrow map;
  *    candidate generation is an equality join on bucket id; only
  *    bucket-mates pay the exact cosine.
  *
  * Dot products fold left-to-right as exact DECIMAL(30,12) so results
  * are bit-identical across engines and partitionings (see
  * SeriesOps.exactAvg for the rationale).
  */
object Similarity {

  /** Exact decimal dot product of two float-array columns (as double).
    * Backed by the native codegen'd expression `dot_dec`
    * (graft.functions.DotDec) — the interpreted
    * `aggregate(zip_with(...))` composition computes the identical
    * value but pays per-element lambda dispatch outside whole-stage
    * codegen (measured ~3x on the IVF path; the Shingles3 lesson). */
  def dotDec(a: String, b: String): Column = expr(s"dot_dec($a, $b)")

  /** L2 norm of a float-array column via the same exact accumulation. */
  def normDec(a: String): Column = sqrt(expr(s"dot_dec($a, $a)"))

  /** Rounded cosine, NULL when either vector has zero norm: cosine is
    * undefined there, and under Spark 4's default ANSI mode a plain
    * divide would THROW on the first zero embedding — a single failed
    * encoder output killing a 100 TB job. NULL sim sorts last in every
    * ranking (desc ordering puts nulls last) and fails every `>=`
    * threshold, so degenerate vectors simply never match — the same
    * outcome nullif gives the DuckDB oracle formulation. */
  def cosine(a: String, b: String, normA: Column, normB: Column): Column =
    round(dotDec(a, b) / nullif(normA * normB, lit(0.0)), 4)

  /** Opt-in cross-query codebook memo (VERDICT r9 item 4). A trained
    * codebook is driver-side model state — a pure deterministic
    * function of (corpus, k, rounds, train predicate) — and the
    * production shape is TRAIN ONCE, SERVE MANY: every query of an ANN
    * deployment searches the same index artifact. Re-deriving the
    * identical codebook inside each of the seven IVF-family operators
    * was a gate-shape artifact costing an init collect + `iters`
    * aggregation jobs per query. Callers opt in by supplying a STABLE
    * IMMUTABLE corpus identity (the query surface passes the sf
    * directory; the fixture tables never mutate) — results are
    * bit-identical either way, so the oracle CTEs that re-derive the
    * books per query still hash-match. `None` (the default, and what
    * every spec uses) trains fresh. */
  private val MemoMaxEntries = 64

  /** LRU-bounded (access-order, [[MemoMaxEntries]] entries — a codebook
    * is k×dim doubles, so the bound caps the memo at a few MB) so a
    * long-lived JVM (the server) can't accumulate every (corpus,
    * params) codebook it ever trained. Staleness is governed by the
    * KEY, not the map: see the cacheKey contract on each operator. */
  private val codebookMemo =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, AnyRef]): Boolean =
          size() > MemoMaxEntries
      })

  private def memoized[T <: AnyRef](corpusKey: Option[String], tag: String)(
      train: => T): T = corpusKey match {
    case None => train
    case Some(ck) =>
      val key = s"$ck|$tag"
      val hit = codebookMemo.get(key)
      if (hit != null) hit.asInstanceOf[T]
      else {
        // trained OUTSIDE the map lock: training is minutes at corpus
        // scale and deterministic, so a concurrent duplicate train for
        // the same key wastes work but never diverges — last put wins
        // with an identical value
        val v = train
        codebookMemo.put(key, v)
        v
      }
  }

  /** Cross-operator contract for every `cacheKey` parameter below (the
    * memo behind it is private; this doc is the public surface):
    * supply ONLY a stable identity of an IMMUTABLE corpus — e.g. a
    * versioned/content-addressed dataset path. The key IS the
    * invalidation scheme: if data under a key's directory is
    * regenerated in-process, the memo serves the OLD centroids, by
    * design. Re-keying (new path/version per corpus generation) is the
    * supported way to pick up new data; [[clearCodebookMemo]] is the
    * blunt one. `None` (the default) always trains fresh. */
  def clearCodebookMemo(): Unit = codebookMemo.clear()

  /** The search family persists its normed base, and the result plan
    * still references it — registered in [[graft.core.EscapedCaches]]
    * for caller-driven cleanup. Training-only persists (unpersisted
    * in `finally` before return) are NOT tracked. */
  private def persistTracked(df: DataFrame): DataFrame =
    graft.core.EscapedCaches.persistTracked(df)

  /** See [[graft.core.EscapedCaches.release]]. */
  def releaseEscapedCaches(): Int = graft.core.EscapedCaches.release()

  /** Pinned recall provenance per ANN book signature: mean recall@10
    * on the 60k-vector i.i.d.-gaussian corpus at the MAXQ=50 sample
    * (the committed recall_maxq50 artifacts — measured, not
    * estimated). Books NOT in this map have no pinned measurement and
    * construct freely; books IN it are held to the threshold below. */
  val pinnedRecall: Map[String, Double] = Map(
    // r13 artifact (recall_maxq50_r13.json): the two vetoed books
    // (measured at nprobe=2; signatures carry nprobe since r15 —
    // recall is a property of the book AND its probe budget)
    "lsh:tables=1,planes=6" -> 0.076,
    "ivfpq:nsub=4,ksub=4,rerank=50,nprobe=2" -> 0.012,
    // r14 artifacts (recall_maxq50_r14.json, _r14b.json)
    "lsh:tables=8,planes=6" -> 0.478,
    "ivfpq:nsub=8,ksub=8,rerank=1200,nprobe=2" -> 0.394,
    "ivfpq:nsub=8,ksub=8,rerank=600,nprobe=2" -> 0.320,
    // the late-r14 rerank-recall curve (rerank is a per-query
    // constant — its cost fraction shrinks with corpus scale — and is
    // ceilinged by the cell coverage its nprobe buys)
    "ivfpq:nsub=8,ksub=8,rerank=900,nprobe=2" -> 0.370,
    "ivfpq:nsub=8,ksub=8,rerank=2000,nprobe=2" -> 0.454,
    // ...and the intermediate books measured on the way there —
    // honest provenance for anyone re-tuning the trade. 16 subspaces
    // measured BETTER (41.6% at rerank 300) but is not shipped as the
    // gate default: its 16 chained k-means CTE replays make the
    // DuckDB oracle's execution blow past the gate budget, and an
    // operator default the oracle can't affordably replay loses its
    // cross-engine verification.
    "ivfpq:nsub=16,ksub=8,rerank=300,nprobe=2" -> 0.416,
    "ivfpq:nsub=16,ksub=8,rerank=100,nprobe=2" -> 0.272,
    "ivfpq:nsub=8,ksub=8,rerank=100,nprobe=2" -> 0.126,
    "ivfpq:nsub=8,ksub=8,rerank=300,nprobe=2" -> 0.234,
    // r15 nprobe sweep (recall_maxq50_r15.json): rerank stopped being
    // the binding lever at nprobe=2 (39.4% → 45.4% from 1200 → 2000
    // against the 56.4% two-cell coverage ceiling); doubling the
    // probe budget moves the ceiling itself — IVF/q8 56.4% → 82.0%
    // at nprobe=4 (100% at nprobe=8, which on an 8-cell book IS
    // brute force), PQ@1200 39.4% → 46.2% → 48.0% (np 2/4/8; past
    // nprobe=4 the book is rerank-bound again). The shipped default
    // moved to nprobe=4.
    "ivfpq:nsub=8,ksub=8,rerank=1200,nprobe=4" -> 0.462,
    "ivfpq:nsub=8,ksub=8,rerank=1200,nprobe=8" -> 0.480,
    // r16 (recall_maxq50_r16.json): the 16-subspace book, measurable
    // end-to-end again now the oracle's k-means chains carry
    // AS MATERIALIZED hints (the r14 "oracle budget" veto is obsolete
    // — 16 materialized chains cost ~2x the 8-sub oracle, not
    // exponential). The finer quantizer converts nprobe=4's cell
    // coverage into recall far better than 8x8 ever could: 73.0% mean
    // recall@10 at the shipped rerank/probe against 8x8's 46.2%, for
    // ~2x PQ-stage cost on BOTH engines — the new gate default.
    "ivfpq:nsub=16,ksub=8,rerank=1200,nprobe=4" -> 0.730,
    "ivfpq:nsub=16,ksub=8,rerank=600,nprobe=4" -> 0.658,
    "ivfpq:nsub=16,ksub=8,rerank=1200,nprobe=2" -> 0.528)

  /** Books whose pinned mean recall@10 sits below this refuse to
    * construct ([[guardBook]]). */
  private val MinRecall = 0.25

  /** Construction-time bad-book guard (r13 verdict #3): a book whose
    * PINNED recall provenance sits below [[MinRecall]] REFUSES to
    * construct — a user reaching for it would get near-noise
    * neighbors, and until r14 the veto lived only in a COVERAGE.md
    * sentence. */
  private def guardBook(sig: String): Unit =
    pinnedRecall.get(sig).filter(_ < MinRecall).foreach { r =>
      throw new IllegalArgumentException(
        f"ANN book '$sig' has pinned mean recall@10 of ${r * 100}%.1f%% " +
          f"on the 60k reference corpus (< ${MinRecall * 100}%.1f%% threshold; " +
          "provenance: recall_maxq50 artifact). Use the measured defaults.")
    }

  /** Exact top-k cosine neighbors for each query vector.
    * `queryPred` selects the query rows (e.g. vec_id < 5).
    * Output: (query_id, neighbor_id, sim, rank).
    */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val base = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normDec("embedding"))
    bruteTopKOn(base, queryPred, k)
  }

  /** [[bruteForceTopK]] against an already-normed (vec_id, embedding,
    * nrm) base — lets a multi-arm evaluator reuse one persisted
    * population instead of re-deriving the norms per arm. */
  private def bruteTopKOn(base: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val queries = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val pairs = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine("qe", "embedding", col("qn"), col("nrm")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Matryoshka-style coarse-to-fine retrieval (MRL, Kusupati et al.
    * 2022): score the corpus with only the first `coarseDims`
    * dimensions (embeddings trained matryoshka-style concentrate
    * information in the prefix), keep the top `rerank` candidates per
    * query, rescore those with the FULL vector. The scan pass costs
    * coarseDims/dim of the flops and memory bandwidth of brute force
    * — at 100 TB the corpus pass is bandwidth-bound, so a 16-of-64
    * prefix is a ~4x cheaper scan; the exact pass touches only
    * rerank rows per query. Both cuts are deterministic: rounded
    * score + neighbor_id tie-break, the ivf_q8 discipline; a
    * zero-norm prefix coarse-scores at -2 (below any cosine) on both
    * engines instead of risking NULL-ordering divergence. */
  def mrlTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      coarseDims: Int, rerank: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(coarseDims >= 1, s"coarseDims must be >= 1, got $coarseDims")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    // the coarse pass touches ONLY the prefix: no full-dim norm on the
    // corpus scan, and the candidate-cut shuffle carries exactly
    // (query_id, neighbor_id, cs) — 3 narrow columns, not vectors
    // (shipping the full embeddings through the cut negated the
    // bandwidth claim; r4 review finding)
    val prefixes = embeddings.select(col("vec_id"),
        slice(col("embedding"), 1, coarseDims).as("pe"))
      .withColumn("pnrm", normDec("pe"))
    val queriesCoarse = prefixes.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("pe").as("pqe"),
        col("pnrm").as("pqn"))
    val coarse = prefixes.join(broadcast(queriesCoarse),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        coalesce(cosine("pqe", "pe", col("pqn"), col("pnrm")), lit(-2.0)).as("cs"))
    val cw = Window.partitionBy("query_id")
      .orderBy(col("cs").desc, col("neighbor_id").asc)
    val cand = coarse.withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= rerank)
      .select("query_id", "neighbor_id")
    // exact pass on candidates only: the tiny candidate list broadcasts
    // into the corpus to fetch neighbor vectors (full norms evaluated
    // for matching rows alone), queries' full vectors broadcast in
    val queriesFull = embeddings.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("qn", normDec("qe"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    embeddings.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(queriesFull), "query_id")
      .withColumn("nrm", normDec("embedding"))
      .select(col("query_id"), col("neighbor_id"),
        cosine("qe", "embedding", col("qn"), col("nrm")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic hyperplanes: component d of plane p is
    * (h60("plane:p:d") mod 2001 - 1000) / 1000 ∈ [-1, 1]. Generated
    * driver-side from the shared hash so the oracle SQL can inline the
    * same constants. */
  def planes(nPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until nPlanes).map { p =>
      Array.tabulate(dim) { d =>
        (TextFns.h60Scala(s"plane:$p:$d") % 2001 - 1000) / 1000.0
      }
    }

  /** Sign-LSH bucket id: bit p set iff dot(plane_p, v) >= 0.
    * Planes bind as `typedLit` array objects, not 64-element literal
    * SQL arrays — inlined CreateArray literals blow up the generated
    * code (one constant per element per plane) and the Janino compile
    * time with it. */
  def bucketId(embCol: String, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val dot = call_function("dot_dec", col(embCol), typedLit(plane))
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: only pairs sharing an LSH bucket in at least
    * one of `nTables` independent tables are scored.
    *
    * MULTI-TABLE (r13 verdict #3): the single-table 6-bit book's
    * pinned recall on the 60k i.i.d.-gaussian corpus is 7.6% mean
    * recall@10 (recall_maxq50_r13.json) — at those cosines (~0.5 for
    * true top-10 on an unstructured corpus) a true neighbor collides
    * with probability ~0.66 per bit, ~0.08 per 6-bit signature, so ONE
    * table is near-noise BY MATH, not by bug. T independent tables
    * recall 1-(1-p^b)^T; the default 8 tables x 6 bits is the measured
    * configuration (recall artifact, COVERAGE.md). Candidate
    * generation stays bucketed/blocked: the base side explodes to
    * payload-free (vec_id, tbl, bucket) longs, the tiny query side
    * broadcasts, candidates dedup BEFORE the exact rerank — never an
    * all-pairs or per-row-vs-all-queries scan. Construction
    * [[guardBook]]s against the pinned-recall registry.
    * Output: (query_id, neighbor_id, sim, rank) — recall vs
    * [[bruteForceTopK]] is validated in SimilaritySpec. */
  def lshBucketTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      nPlanes: Int = 6, dim: Int = 64, nTables: Int = 8): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1, got $nTables")
    guardBook(s"lsh:tables=$nTables,planes=$nPlanes")
    // table t uses plane rows [t*nPlanes, (t+1)*nPlanes) of the shared
    // deterministic sequence — table 0 IS the legacy single-table book
    val ps = planes(nPlanes * nTables, dim)
    val base = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normDec("embedding"))
    val withBuckets = base.select(
      (Seq(col("vec_id"), col("embedding"), col("nrm")) ++
        (0 until nTables).map(t =>
          bucketId("embedding", ps.slice(t * nPlanes, (t + 1) * nPlanes))
            .as(s"b$t"))): _*)
    val queries = withBuckets.filter(queryPred)
    // payload-free candidate generation: (id, tbl, bucket) longs only —
    // the embeddings never ride the explode
    def tagged(df: DataFrame, outId: String) = df.select(
      col("vec_id").as(outId),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("tbl"), col(s"b$t").as("bucket"))): _*)).as("tb"))
      .select(col(outId), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val cand = tagged(withBuckets, "vec_id")
      .join(broadcast(tagged(queries, "query_id")), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val queriesFull = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    base.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(queriesFull), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine("qe", "embedding", col("qn"), col("nrm")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact decimal dot product of an array<float> column against a
    * constant double vector (bound as a typedLit object — see
    * [[bucketId]] on why not an inlined literal array). */
  private def dotLit(embCol: String, v: Array[Double]): Column =
    call_function("dot_dec", col(embCol), typedLit(v))

  /** Per-row array of (rounded cosine to centroid, -cid) structs for a
    * literal codebook over arbitrary embedding/norm columns; `greatest`
    * over it = deterministic max-cosine assignment with smallest-cid
    * tie-break. */
  private def centroidStructsOn(embCol: String, nrmCol: String,
      cents: Seq[(Long, Array[Double])]): Column =
    array(cents.map { case (cid, ce) =>
      // zero-norm guard (ANSI divide would throw, see [[cosine]]), but
      // WITHOUT nullif: nullif(a, 0) expands to If(a = 0, null, a) and
      // the duplicated denominator subtree per centroid struct blew the
      // assignment projection out of whole-stage codegen (measured
      // 2.9s vs 1.1s on sim_topk_ivf at sf0.1). The centroid norm is a
      // plan-time CONSTANT — test it in Scala; only the row norm needs
      // a runtime test, and `when` on the bare column duplicates
      // nothing. A zero-norm row (or zero centroid) gets NULL cs in
      // every cell, the structs compare on ncid alone, and greatest()
      // resolves to cell 0 deterministically.
      val cn = math.sqrt(graft.functions.VecCodec.dotDecConst(ce, ce))
      val cs =
        if (cn == 0.0) lit(null).cast("double")
        else when(col(nrmCol) =!= 0.0,
          round(dotLit(embCol, ce) / (lit(cn) * col(nrmCol)), 4))
      struct(cs.as("cs"), lit(-cid).as("ncid"))
    }: _*)

  private def centroidStructs(cents: Seq[(Long, Array[Double])]): Column =
    centroidStructsOn("embedding", "nrm", cents)

  /** Relational cell assignment for LARGE codebooks (the SemDeDup
    * k-grows-with-corpus regime): broadcast the codebook as ROWS and
    * reduce per vector with a map-side-combined struct-max. The plan
    * is O(1) in k, where the literal [[centroidStructs]] expression
    * grows the TREE with k and Catalyst re-walks it per rule per
    * reference — measured 4.5 s of pure planning at k=64 on a
    * three-reference plan (the 8-cell search books keep the
    * zero-shuffle literal form, which stays faster at small k). The
    * crossJoin(broadcast) replicas collapse map-side before the
    * 1-row-per-vector shuffle; at 10k cells this is the only shape
    * that flies. Ordering semantics are IDENTICAL to
    * greatest(centroidStructs) and to the oracle's row_number CTE:
    * null cosine (zero norm either side) sorts below any value, ties
    * resolve to the smallest cid.
    * Output: (vec_id, embedding, nrm, cell). */
  private def assignCellsByJoin(base: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    val spark = base.sparkSession
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(cents.map { case (cid, ce) =>
        org.apache.spark.sql.Row(cid, ce.toSeq,
          math.sqrt(graft.functions.VecCodec.dotDecConst(ce, ce)))
      }: _*)
    val centDf = spark.createDataFrame(rows, StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("ce", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("cn", DoubleType, nullable = false))))
    base.crossJoin(broadcast(centDf))
      .withColumn("cs", when(col("nrm") =!= 0.0 && col("cn") =!= 0.0,
        round(call_function("dot_dec", col("embedding"), col("ce")) /
          (col("cn") * col("nrm")), 4)))
      .groupBy("vec_id")
      .agg(max(struct(col("cs"), (-col("cid")).as("ncid"))).as("best"),
        first("embedding").as("embedding"), first("nrm").as("nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        (-col("best").getField("ncid")).as("cell"),
        col("best").getField("cs").as("cs"))
  }

  /** Index-serving INGESTION: place a batch of NEW vectors into an
    * EXISTING codebook trained on the indexed corpus — the continuous
    * path of an ANN deployment (codebooks rebuild rarely; arrivals
    * are assigned to cells between rebuilds, exactly how the memoized
    * train-once books are meant to be consumed). Training reads only
    * the corpus; the arrivals never influence the centroids — the
    * production invariant that makes placement reproducible.
    * Output: (vec_id, cell, cs) per arrival, cs = rounded cosine to
    * the assigned centroid (placement confidence; NULL for a
    * zero-norm arrival, which then lands in cell 0 by the shared
    * tie rule). `cacheKey`: opt-in codebook memo — immutable-corpus
    * contract on [[clearCodebookMemo]]. */
  def assignIncremental(corpus: DataFrame, arrivals: DataFrame,
      nCentroids: Int = 8, kmeansIters: Int = 2,
      trainPred: Column = expr("vec_id % 2 = 0"),
      cacheKey: Option[String] = None): DataFrame = {
    val base = withNorm(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents =
      try memoized(cacheKey, s"coarse|$nCentroids|$kmeansIters|$trainPred") {
        trainCodebookOn(base, nCentroids, kmeansIters, trainPred)
      } finally base.unpersist(false) // training ran; arrivals don't read it
    assignCellsByJoin(withNorm(arrivals), cents)
      .select(col("vec_id"), col("cell"), col("cs"))
  }

  /** STATELESS per-row cell placement against a TRAINED codebook — the
    * streaming-ingest form of [[assignIncremental]]: the book is tiny
    * driver-side model state bound as literals, so the plan is a pure
    * projection (no join, no aggregation, no state) and runs unchanged
    * on a STREAMING DataFrame in append mode — the shape of an ANN
    * ingestion pipeline placing live arrivals between rebuilds.
    * Semantics are identical to [[assignIncremental]]'s relational
    * assignment (max rounded cosine, smallest-cid ties, zero-norm →
    * cell 0 with NULL cs) — SimilaritySpec locks row equality and the
    * stream_assign_incremental gate shares the batch oracle verbatim.
    * Output: (vec_id, cell, cs). */
  def placeIntoBook(arrivals: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame = {
    val withN = arrivals.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normDec("embedding"))
    val cs = centroidStructsOn("embedding", "nrm", cents)
    withN
      .withColumn("best", greatest(cents.indices.map(i => cs.getItem(i)): _*))
      .select(col("vec_id"), (-col("best").getField("ncid")).as("cell"),
        col("best").getField("cs").as("cs"))
  }

  /** Lloyd-iteration k-means codebook trained with DataFrame ops over a
    * deterministic training sample.
    *
    * Init: the first `nCentroids` vectors by vec_id. Each iteration:
    * (1) assign every training vector to its max-rounded-cosine
    * centroid (ties → smallest cid) — a narrow map against inlined
    * centroid literals, no shuffle; (2) recompute each centroid as the
    * per-dimension exact-DECIMAL mean rounded to 6 decimals — ONE
    * shuffle on the tiny cell key with map-side partial aggregation.
    * Rounding the means makes the trained constants bit-reproducible in
    * the SQL oracle, which re-derives them with an identical CTE chain.
    * Cells that lose all members keep their previous centroid.
    *
    * The returned codebook is tiny driver-side model state (like
    * [[planes]]); the corpus never leaves the executors. At 100 TB the
    * train sample is the only thing the iterations scan.
    */
  def trainCodebook(embeddings: DataFrame, nCentroids: Int, iters: Int,
      trainPred: Column): Seq[(Long, Array[Double])] = {
    val base = withNorm(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainCodebookOn(base, nCentroids, iters, trainPred)
    finally base.unpersist(false) // training jobs all ran; nothing else reads it
  }

  /** (vec_id, embedding, nrm) projection shared by every search path.
    * A small corpus arrives as one parquet split, which would serialize
    * every decimal dot product behind a single core — spread it to the
    * session's parallelism before the norm is computed/persisted. At
    * scale the scan already has ≥ defaultParallelism splits and this
    * is a no-op. */
  private def withNorm(embeddings: DataFrame): DataFrame = {
    val par = embeddings.sparkSession.sparkContext.defaultParallelism
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val spread = if (e.rdd.getNumPartitions < par) e.repartition(par) else e
    spread.withColumn("nrm", normDec("embedding"))
  }

  /** [[trainCodebook]] against an already-prepared (and ideally
    * persisted) `base`.
    *
    * Each Lloyd round is ONE narrow job: broadcast the centroids, then
    * `treeAggregate` per-cell (decimal-sum, count) accumulators over
    * the training slice — the org.apache.spark.ml KMeans pattern. The
    * earlier DataFrame formulations paid 2-4 scheduler/AQE stages per
    * round (the centroid literals also recompiled whole-stage codegen
    * every round, since scalar literals constant-fold into the
    * generated source) — ~0.7-1.0 s/round of overhead for <0.1 s of
    * compute at sample scale. The aggregate form is also the
    * 100 TB-correct shape: one pass, map-side combine into k×dim
    * accumulators, nothing shuffles.
    *
    * Arithmetic is bit-locked to the oracle CTEs: products/elements
    * round to DECIMAL(30,12) exactly like Spark's double→decimal CAST
    * (`BigDecimal.valueOf(x).setScale(12, HALF_UP)` — VecCodec's
    * contract), decimal sums are exact (order-independent), cosines
    * round HALF_UP to 4 dp before the max, means to 6 dp; ties in the
    * max go to the smallest cid (strict-greater replacement over
    * ascending cids).
    */
  /** Fused training of TWO coarse codebooks over one population — the
    * staleness pair's books (optimization r16): the STALE book trains
    * on the `corpusPred` rows only, the FRESH book on every row, and
    * both share one init collect and ONE treeAggregate job per Lloyd
    * round instead of two of each (at sf0.1 the saved collect + iters
    * jobs were ~0.4 s of pure scheduler floor on a 25-job key —
    * guide §1.2). Arithmetic per group is trainCodebookOn's chain
    * verbatim (same toFix12/round4/Limbs accumulators, same tie and
    * zero-norm rules, init = the vec_id < k rows OF THAT GROUP'S
    * population), so each returned book is bit-identical to a
    * separate [[trainCodebookOn]] call — SimilaritySpec locks the
    * equivalence. */
  private def trainCodebookPairOn(base: DataFrame, corpusPred: Column,
      nCentroids: Int, iters: Int, trainPred: Column)
      : (Seq[(Long, Array[Double])], Seq[(Long, Array[Double])]) = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    import graft.functions.VecCodec.{round4, toFix12}
    def round6(x: Double): Double = JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue

    // one init collect serves both groups: stale init = the vec_id < k
    // rows satisfying corpusPred, fresh init = all vec_id < k rows
    val initRows = base.filter(col("vec_id") < nCentroids)
      .select(col("vec_id"), col("embedding"), corpusPred.cast("boolean").as("inc"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getBoolean(2)))
      .sortBy(_._1)
    var books: Array[Seq[(Long, Array[Double])]] = Array(
      initRows.filter(_._3).map(t => (t._1, t._2)).toSeq, // stale
      initRows.map(t => (t._1, t._2)).toSeq)              // fresh
    val dim = books(1).head._2.length
    val sc = base.sparkSession.sparkContext
    val trainRdd = base.filter(trainPred)
      .select(col("embedding"), col("nrm"),
        corpusPred.cast("boolean").as("inc")).rdd

    for (_ <- 0 until iters) {
      val bc = sc.broadcast(books.map(_.map { case (cid, ce) =>
        (cid, ce, math.sqrt(graft.functions.VecCodec.dotDecConst(ce, ce)))
      }.toArray))
      val ks = books.map(_.size)
      val zero = (Array.tabulate(2)(g => new Array[Long](ks(g))),
        Array.tabulate(2)(g => Array.fill(ks(g))(new Array[Long](dim))),
        Array.tabulate(2)(g => Array.fill(ks(g))(new Array[Long](dim))))
      val (counts, his, los) = trainRdd.treeAggregate(zero)(
        seqOp = { case (acc, row) =>
          val e = row.getSeq[Float](0)
          val nrm = row.getDouble(1)
          val inc = row.getBoolean(2)
          var g = if (inc) 0 else 1 // stale group sees corpusPred rows only
          while (g < 2) {
            val cs = bc.value(g)
            var bestIdx = -1; var bestCs = Double.NegativeInfinity
            var ci = 0
            while (ci < cs.length) {
              val (_, ce, cn) = cs(ci)
              var dotFix = 0L
              var d = 0
              while (d < dim) {
                dotFix = Math.addExact(dotFix, toFix12(e(d).toDouble * ce(d))); d += 1
              }
              val denom = cn * nrm
              val sim = if (denom == 0.0) Double.NaN
                else round4(JBD.valueOf(dotFix, 12).doubleValue() / denom)
              if (sim > bestCs) { bestCs = sim; bestIdx = ci }
              ci += 1
            }
            if (bestIdx < 0) bestIdx = 0
            acc._1(g)(bestIdx) += 1
            val hi = acc._2(g)(bestIdx); val lo = acc._3(g)(bestIdx)
            var d = 0
            while (d < dim) {
              graft.functions.Limbs.addValue(hi, lo, d, toFix12(e(d).toDouble))
              d += 1
            }
            g += 1
          }
          acc
        },
        combOp = { case ((c1, h1, l1), (c2, h2, l2)) =>
          var g = 0
          while (g < 2) {
            var i = 0
            while (i < ks(g)) {
              c1(g)(i) += c2(g)(i)
              var d = 0
              while (d < dim) {
                graft.functions.Limbs.addPair(h1(g)(i), l1(g)(i), d, h2(g)(i)(d), l2(g)(i)(d))
                d += 1
              }
              i += 1
            }
            g += 1
          }
          (c1, h1, l1)
        })
      bc.destroy()
      books = Array.tabulate(2) { g =>
        books(g).zipWithIndex.map { case ((cid, old), i) =>
          if (counts(g)(i) == 0) (cid, old)
          else (cid, Array.tabulate(dim) { d =>
            val sum = JBD.valueOf(his(g)(i)(d)).scaleByPowerOfTen(18)
              .add(JBD.valueOf(los(g)(i)(d))).scaleByPowerOfTen(-12)
            round6(sum.doubleValue() / counts(g)(i))
          })
        }
      }
    }
    (books(0), books(1))
  }

  private def trainCodebookOn(base: DataFrame, nCentroids: Int, iters: Int,
      trainPred: Column): Seq[(Long, Array[Double])] = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    import graft.functions.VecCodec.{round4, toFix12}
    def round6(x: Double): Double = JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue

    var cents: Seq[(Long, Array[Double])] =
      base.filter(col("vec_id") < nCentroids).select("vec_id", "embedding")
        .collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        .sortBy(_._1).toSeq
    val dim = cents.head._2.length
    val k = cents.size
    val sc = base.sparkSession.sparkContext
    val trainRdd = base.filter(trainPred).select("embedding", "nrm").rdd

    for (_ <- 0 until iters) {
      val bc = sc.broadcast(cents.map { case (cid, ce) =>
        (cid, ce, math.sqrt(graft.functions.VecCodec.dotDecConst(ce, ce)))
      }.toArray)
      // acc: per-cell count + per-dim exact fixed-12 sums in two-long
      // limbs (hi·10¹⁸ + lo). The per-element BigDecimal formulation
      // this replaces paid ~(k+1)·dim decimal wraps PER ROW — the term
      // that scales with the 100 TB training sample; the fixed-point
      // form is bit-identical (toFix12/round4 carry the HALF_UP
      // guard-band proof, the limb sums are exact) at long-add speed.
      // Bounds: |dot| ≤ dim · 9.2·10¹⁸ would overflow addExact loudly,
      // unreachable for unit-scale embeddings (|x·y| < 1.4·10⁵ keeps
      // dim=64 dots exact).
      val zero = (new Array[Long](k),
        Array.fill(k)(new Array[Long](dim)), Array.fill(k)(new Array[Long](dim)))
      val (counts, his, los) = trainRdd.treeAggregate(zero)(
        seqOp = { case (acc, row) =>
          val e = row.getSeq[Float](0)
          val nrm = row.getDouble(1)
          val cs = bc.value
          var bestIdx = -1; var bestCs = Double.NegativeInfinity
          var ci = 0
          while (ci < cs.length) {
            val (_, ce, cn) = cs(ci)
            var dotFix = 0L
            var d = 0
            while (d < dim) {
              dotFix = Math.addExact(dotFix, toFix12(e(d).toDouble * ce(d))); d += 1
            }
            // exact decimal → double, same as the BigDecimal sum's
            // doubleValue (identical decimal value, no string detour).
            // A zero-norm row or centroid makes the divide NaN — which
            // BigDecimal.valueOf (inside round4) rejects — so short-
            // circuit to NaN: it loses every strict-greater comparison,
            // exactly like the DataFrame path's NaN ordering
            val denom = cn * nrm
            val sim = if (denom == 0.0) Double.NaN
              else round4(JBD.valueOf(dotFix, 12).doubleValue() / denom)
            if (sim > bestCs) { bestCs = sim; bestIdx = ci } // ties keep smaller cid
            ci += 1
          }
          // a zero-norm row (or centroid) makes every cosine NaN and no
          // strict-greater ever fires — assign cell 0 deterministically
          // instead of crashing on bestIdx = -1 (the greatest()-based
          // DataFrame formulation this replaced tolerated NaN the same
          // way: Spark orders NaN largest, ties to the smallest cid)
          if (bestIdx < 0) bestIdx = 0
          acc._1(bestIdx) += 1
          val hi = acc._2(bestIdx); val lo = acc._3(bestIdx)
          var d = 0
          while (d < dim) {
            graft.functions.Limbs.addValue(hi, lo, d, toFix12(e(d).toDouble))
            d += 1
          }
          acc
        },
        combOp = { case ((c1, h1, l1), (c2, h2, l2)) =>
          var i = 0
          while (i < k) {
            c1(i) += c2(i)
            var d = 0
            while (d < dim) {
              graft.functions.Limbs.addPair(h1(i), l1(i), d, h2(i)(d), l2(i)(d))
              d += 1
            }
            i += 1
          }
          (c1, h1, l1)
        })
      bc.destroy()
      cents = cents.zipWithIndex.map { case ((cid, old), i) =>
        if (counts(i) == 0) (cid, old) // cells that lose all members keep their centroid
        else (cid, Array.tabulate(dim) { d =>
          // exact decimal reconstruction of the limb sum at scale 12,
          // then the identical doubleValue/divide/round6 chain
          val sum = JBD.valueOf(his(i)(d)).scaleByPowerOfTen(18)
            .add(JBD.valueOf(los(i)(d))).scaleByPowerOfTen(-12)
          round6(sum.doubleValue() / counts(i))
        })
      }
    }
    cents
  }

  /** IVF-flat approximate top-k — the codebook-quantization scale path:
    *
    *  1. codebook: k-means-trained via [[trainCodebook]] (Lloyd
    *     iterations as DataFrame ops over a deterministic sample);
    *  2. assignment: every vector goes to its max-cosine centroid
    *     (rounded cosine + centroid-id tie-break → deterministic);
    *  3. search: each query probes its `nProbe` best cells; only
    *     vectors in probed cells pay the exact cosine.
    *
    * Output: (query_id, neighbor_id, sim, rank). `cacheKey`: opt-in
    * codebook memo — immutable-corpus contract on [[clearCodebookMemo]].
    */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int = 8, nProbe: Int = 2, kmeansIters: Int = 2,
      trainPred: Column = expr("vec_id % 2 = 0"),
      cacheKey: Option[String] = None): DataFrame = {
    // ONE normed corpus materialization feeds k-means training, the
    // corpus-side cell assignment, and the probe side — previously
    // training and search each derived it independently and every
    // Lloyd round paid the norm scan again
    val base = withNorm(embeddings)
      .transform(persistTracked)
    val cents = memoized(cacheKey, s"coarse|$nCentroids|$kmeansIters|$trainPred") {
      trainCodebookOn(base, nCentroids, kmeansIters, trainPred)
    }
    ivfSearch(base, cents, queryPred, k, nProbe)
  }

  /** The IVF search stage over a normed population and a trained
    * codebook — shared by [[ivfTopK]] (book trained on the searched
    * population) and [[ivfTopKStale]] (book from the last rebuild). */
  private def ivfSearch(base: DataFrame, cents: Seq[(Long, Array[Double])],
      queryPred: Column, k: Int, nProbe: Int): DataFrame = {
    // a probe past the book's last cell is a NULL cell id that matches
    // nothing — refuse rather than silently probe fewer cells
    require(nProbe <= cents.size,
      s"nProbe ($nProbe) exceeds the codebook's ${cents.size} cells")
    // per-row array of (cosine-to-centroid, -cid) structs
    val centStructs = centroidStructs(cents)
    val assigned = base.withColumn("cell",
      -greatest(cents.indices.map(i => centStructs.getItem(i)): _*).getField("ncid"))

    // queries probe their nProbe best cells (sorted desc by (cs, -cid))
    val sortedCents = sort_array(centStructs, asc = false)
    val probes = assigned.filter(queryPred)
      .withColumn("probe_cells",
        array((0 until nProbe).map(i =>
          -sortedCents.getItem(i).getField("ncid")): _*))

    // the probe set (queries x nProbe) is tiny model-scale data; an
    // explicit broadcast guarantees the corpus side never shuffles
    // for candidate generation, independent of optimizer stats
    broadcast(probes.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), explode(col("probe_cells")).as("pcell")))
      .join(assigned.as("c"), col("c.cell") === col("pcell") &&
        col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        cosine("qe", "c.embedding", col("qn"), col("c.nrm")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF search over an incrementally-maintained (STALE) index: the
    * codebook comes from the last rebuild — trained on `corpus` only —
    * while the searched population is corpus ∪ arrivals, the arrivals
    * having been placed into the stale cells exactly as
    * [[assignIncremental]] places them (same max-cosine rule, same
    * book). The recall of this shape vs a fresh retrain over the full
    * population ([[ivfTopK]]) is the staleness cost a rebuild cadence
    * trades against training time — measure it with [[recallAtK]]
    * before stretching the cadence. `cacheKey`: opt-in codebook memo —
    * immutable-corpus contract on [[clearCodebookMemo]]; the key must
    * identify the CORPUS slice (training never reads arrivals).
    * Output: (query_id, neighbor_id, sim, rank). */
  def ivfTopKStale(corpus: DataFrame, arrivals: DataFrame, queryPred: Column,
      k: Int, nCentroids: Int = 8, nProbe: Int = 2, kmeansIters: Int = 2,
      trainPred: Column = expr("vec_id % 2 = 0"),
      cacheKey: Option[String] = None): DataFrame = {
    val corpusBase = withNorm(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents =
      try memoized(cacheKey, s"coarse|$nCentroids|$kmeansIters|$trainPred") {
        trainCodebookOn(corpusBase, nCentroids, kmeansIters, trainPred)
      } finally corpusBase.unpersist(false) // the search reads the union
    val base = withNorm(corpus.select("vec_id", "embedding")
      .unionByName(arrivals.select("vec_id", "embedding")))
      .transform(persistTracked)
    ivfSearch(base, cents, queryPred, k, nProbe)
  }

  /** IVF top-k with an int8-quantized candidate stage — the serving
    * shape of a 100 TB ANN index, where the 4x-smaller quantized
    * vectors are what the candidate scan reads and fp32 is touched
    * only for the short rerank list:
    *
    *  1. codebook + cell assignment exactly as [[ivfTopK]];
    *  2. every vector carries its [[quantizeSummary]]-scheme int8 pack
    *     (q8_pack: scale6 BIGINT + q array<BIGINT>, floor-quantized —
    *     computed in the same narrow scan as the assignment);
    *  3. candidates in probed cells are scored by the ALL-INTEGER
    *     product dot_int(q_a, q_b) * scale6_a * scale6_b — exact
    *     BIGINT, so the top-`rerank` cut orders bit-identically in any
    *     engine (no float-comparison hazard), ties broken by
    *     neighbor_id;
    *  4. only the surviving `rerank` rows per query pay the exact
    *     DECIMAL fp32 cosine; final top-k ranks by (sim, neighbor_id)
    *     like every other search path.
    *
    * Output: (query_id, neighbor_id, sim, rank). Recall vs
    * [[bruteForceTopK]] is asserted in SimilaritySpec. `cacheKey`:
    * opt-in codebook memo — immutable-corpus contract on
    * [[clearCodebookMemo]].
    */
  def ivfTopKQ8(embeddings: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int = 8, nProbe: Int = 2, kmeansIters: Int = 2,
      trainPred: Column = expr("vec_id % 2 = 0"), rerank: Int = 50,
      cacheKey: Option[String] = None): DataFrame = {
    val base = withNorm(embeddings)
      .transform(persistTracked)
    val cents = memoized(cacheKey, s"coarse|$nCentroids|$kmeansIters|$trainPred") {
      trainCodebookOn(base, nCentroids, kmeansIters, trainPred)
    }
    require(nProbe <= cents.size,
      s"nProbe ($nProbe) exceeds the codebook's ${cents.size} cells")

    val centStructs = centroidStructs(cents)
    val assigned = base
      .withColumn("cell",
        -greatest(cents.indices.map(i => centStructs.getItem(i)): _*).getField("ncid"))
      .withColumn("p8", expr("q8_pack(embedding)"))

    val sortedCents = sort_array(centStructs, asc = false)
    val probes = assigned.filter(queryPred)
      .withColumn("probe_cells",
        array((0 until nProbe).map(i =>
          -sortedCents.getItem(i).getField("ncid")): _*))

    val cand = broadcast(probes.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("nrm").as("qn"),
        col("p8.scale6").as("qs6"), col("p8.q").as("qq"),
        explode(col("probe_cells")).as("pcell")))
      .join(assigned.as("c"), col("c.cell") === col("pcell") &&
        col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qe"), col("qn"),
        col("c.vec_id").as("neighbor_id"), col("c.embedding").as("ne"),
        col("c.nrm").as("nn"),
        (call_function("dot_int", col("qq"), col("c.p8.q")) *
          col("qs6") * col("c.p8.scale6")).as("score"))
    cand
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("crank") <= rerank)
      .select(col("query_id"), col("neighbor_id"),
        cosine("qe", "ne", col("qn"), col("nn")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Fused training of the IVF coarse codebook AND the `nSub`
    * product-quantization sub-codebooks: group 0 is the full-dim
    * coarse quantizer (k = nCentroids), groups 1..nSub are the
    * contiguous-subspace spherical-k-means codebooks (k = kSub each).
    *
    * ALL groups train in ONE treeAggregate job per Lloyd round — one
    * init collect and `iters` passes total, the same job count as
    * coarse-only [[trainCodebookOn]]; separate trainers paid a second
    * collect + `iters` more jobs of local-mode scheduling floor for
    * <0.1 s of extra compute. At 100 TB each round is still a single
    * broadcast-and-aggregate pass over the sample. Arithmetic is the
    * bit-locked [[trainCodebookOn]] chain per group (toFix12 products,
    * exact limb sums, in-pass norms — identical decimal values to the
    * normDec column — round4 cosines, round6 means, smallest-cid ties,
    * empty cells keep their centroid), so the coarse book equals
    * trainCodebookOn's exactly and an oracle CTE chain per subspace
    * re-derives the sub-books. Init: centroid j of a group is vector
    * j's slice (j < k).
    *
    * Returns (coarse codebook, one codebook per subspace), cids
    * ascending within each.
    */
  private def trainIvfPqCodebooksOn(base: DataFrame, nCentroids: Int,
      nSub: Int, kSub: Int, iters: Int, trainPred: Column)
      : (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    import graft.functions.VecCodec.{round4, toFix12}
    def round6(x: Double): Double = JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue

    val maxK = math.max(nCentroids, kSub)
    val initRows = base.filter(col("vec_id") < maxK).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val dim = initRows.head._2.length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val subDim = dim / nSub
    // group g: (offset, length) into the embedding; g=0 coarse full-dim
    val offs = Array(0) ++ (0 until nSub).map(_ * subDim)
    val lens = Array(dim) ++ Array.fill(nSub)(subDim)
    val ks = Array(nCentroids) ++ Array.fill(nSub)(kSub)
    val nGroups = 1 + nSub
    var books: Array[Array[(Long, Array[Double])]] = Array.tabulate(nGroups) { g =>
      initRows.take(ks(g)).map { case (cid, v) =>
        (cid, v.slice(offs(g), offs(g) + lens(g)))
      }
    }
    val sc = base.sparkSession.sparkContext
    val trainRdd = base.filter(trainPred).select("embedding").rdd

    for (_ <- 0 until iters) {
      val bc = sc.broadcast(books.map(_.map { case (cid, ce) =>
        (cid, ce, math.sqrt(graft.functions.VecCodec.dotDecConst(ce, ce)))
      }))
      val zero = (Array.tabulate(nGroups)(g => new Array[Long](ks(g))),
        Array.tabulate(nGroups)(g => Array.fill(ks(g))(new Array[Long](lens(g)))),
        Array.tabulate(nGroups)(g => Array.fill(ks(g))(new Array[Long](lens(g)))))
      val (counts, his, los) = trainRdd.treeAggregate(zero)(
        seqOp = { case (acc, row) =>
          val e = row.getSeq[Float](0)
          var g = 0
          while (g < nGroups) {
            val off = offs(g); val len = lens(g)
            // slice norm: exact fixed-12 sum of squares → double →
            // sqrt, the normDec/normSql chain
            var snFix = 0L
            var d = 0
            while (d < len) {
              val x = e(off + d).toDouble
              snFix = Math.addExact(snFix, toFix12(x * x)); d += 1
            }
            val sn = math.sqrt(JBD.valueOf(snFix, 12).doubleValue())
            val cs = bc.value(g)
            var bestIdx = -1; var bestCs = Double.NegativeInfinity
            var ci = 0
            while (ci < cs.length) {
              val (_, ce, cn) = cs(ci)
              var dotFix = 0L
              d = 0
              while (d < len) {
                dotFix = Math.addExact(dotFix, toFix12(e(off + d).toDouble * ce(d))); d += 1
              }
              val denom = cn * sn
              val sim = if (denom == 0.0) Double.NaN
                else round4(JBD.valueOf(dotFix, 12).doubleValue() / denom)
              if (sim > bestCs) { bestCs = sim; bestIdx = ci } // ties keep smaller cid
              ci += 1
            }
            if (bestIdx < 0) bestIdx = 0 // zero-norm slice: cell 0, see trainCodebookOn
            acc._1(g)(bestIdx) += 1
            val hi = acc._2(g)(bestIdx); val lo = acc._3(g)(bestIdx)
            d = 0
            while (d < len) {
              graft.functions.Limbs.addValue(hi, lo, d, toFix12(e(off + d).toDouble))
              d += 1
            }
            g += 1
          }
          acc
        },
        combOp = { case ((c1, h1, l1), (c2, h2, l2)) =>
          var g = 0
          while (g < nGroups) {
            var i = 0
            while (i < ks(g)) {
              c1(g)(i) += c2(g)(i)
              var d = 0
              while (d < lens(g)) {
                graft.functions.Limbs.addPair(h1(g)(i), l1(g)(i), d, h2(g)(i)(d), l2(g)(i)(d))
                d += 1
              }
              i += 1
            }
            g += 1
          }
          (c1, h1, l1)
        })
      bc.destroy()
      books = Array.tabulate(nGroups) { g =>
        books(g).zipWithIndex.map { case ((cid, old), i) =>
          if (counts(g)(i) == 0) (cid, old)
          else (cid, Array.tabulate(lens(g)) { d =>
            val sum = JBD.valueOf(his(g)(i)(d)).scaleByPowerOfTen(18)
              .add(JBD.valueOf(los(g)(i)(d))).scaleByPowerOfTen(-12)
            round6(sum.doubleValue() / counts(g)(i))
          })
        }
      }
    }
    (books(0).toSeq, books.drop(1).map(_.toSeq).toSeq)
  }

  /** IVF-PQ with asymmetric-distance (ADC) candidate scoring — the
    * memory-bound serving shape of a billion-vector ANN index (Jégou
    * et al. 2011, "Product Quantization for Nearest Neighbor Search"):
    *
    *  1. coarse quantizer: the [[ivfTopK]] codebook and cell
    *     assignment (nProbe best cells per query);
    *  2. product quantizer: [[trainSubCodebooksOn]] sub-codebooks; the
    *     corpus side carries ONE small code per subspace (nSub codes ≈
    *     nSub bytes at kSub ≤ 256) instead of the dim×4-byte vector —
    *     the candidate stage reads codes + the stored norm only, a
    *     ~dim·4/nSub compression of the scan that dominates at scale;
    *  3. ADC: each query precomputes one lookup table per subspace
    *     (exact-decimal dot of its subvector against every
    *     sub-centroid — nSub × kSub doubles of per-query model state);
    *     a candidate's approximate cosine is the table-sum over its
    *     codes divided by the TRUE stored norms, rounded to 4 dp for a
    *     bit-stable top-`rerank` cut (ties → neighbor_id; a zero norm
    *     scores -2, below any cosine — the mrl convention);
    *  4. only the surviving rerank list pays the exact fp32 cosine;
    *     final top-k ranks by (sim, neighbor_id) like every search
    *     path.
    *
    * Output: (query_id, neighbor_id, sim, rank). With `rerank` ≥ the
    * probed-candidate count this equals [[ivfTopK]] exactly (same
    * cells, exact rescore) — SimilaritySpec locks that and the recall
    * under a tight budget. `cacheKey`: opt-in codebook memo —
    * immutable-corpus contract on [[clearCodebookMemo]].
    */
  def ivfPqTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int = 8, nProbe: Int = 2, kmeansIters: Int = 2,
      trainPred: Column = expr("vec_id % 2 = 0"),
      nSub: Int = 16, kSub: Int = 8, rerank: Int = 1200,
      cacheKey: Option[String] = None): DataFrame = {
    guardBook(s"ivfpq:nsub=$nSub,ksub=$kSub,rerank=$rerank,nprobe=$nProbe")
    val base = withNorm(embeddings)
      .transform(persistTracked)
    val (cents, books) = memoized(cacheKey,
        s"pq|$nCentroids|$nSub|$kSub|$kmeansIters|$trainPred") {
      trainIvfPqCodebooksOn(base, nCentroids, nSub, kSub, kmeansIters, trainPred)
    }
    val subDim = books.head.head._2.length

    // corpus side: coarse cell + per-subspace codes, computed in one
    // narrow scan by the fused native kernel (graft.functions.PqKernel
    // — optimization r16): pqa = [cell, code_0..code_{nSub-1}]. The
    // previous composed-builtin form (16 slices + 16 sliced norms + 16
    // argmax-of-8-literal-struct chains) computed the same values out
    // of ~7,000 expression nodes, and every DataFrame transformation
    // below re-analyzed that tree — measured 1.5-1.9 s of driver-side
    // plan construction per sf0.1 run (PqPhaseProfile; guide §1.2/
    // §7.3). Values are bit-identical (same VecCodec chain, same
    // greatest/tie semantics — see PqKernel's doc and SimilaritySpec).
    val coded = base.select(col("vec_id"), col("embedding"), col("nrm"),
      graft.functions.PqKernel.codes(col("embedding"), cents, books).as("pqa"))

    // query side: probe cells + the per-subspace ADC tables (exact-
    // decimal dots against the sub-centroids, cid order), both from
    // one-node kernels over the same embedding column
    val qBase = base.filter(queryPred)
    val probes = qBase.select(col("vec_id").as("query_id"),
      col("nrm").as("qn"),
      graft.functions.PqKernel.adcTables(col("embedding"), books).as("adcs"),
      explode(graft.functions.PqKernel.probeCells(col("embedding"), cents,
        nProbe)).as("pcell"))

    // table-sum in fixed subspace order — the oracle adds left-to-right
    // in the same order, so the double sum is bit-identical
    val adcSum = (0 until nSub).map(m =>
      element_at(element_at(col("adcs"), m + 1),
        element_at(col("c.pqa"), m + 2).cast("int") + 1)).reduceLeft(_ + _)
    val scored = broadcast(probes)
      .join(coded.as("c"), element_at(col("c.pqa"), 1) === col("pcell") &&
        col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        coalesce(round(adcSum / nullif(col("qn") * col("c.nrm"), lit(0.0)), 4),
          lit(-2.0)).as("score"))

    val cand = scored.withColumn("crank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("crank") <= rerank)
      .select("query_id", "neighbor_id")

    // exact pass on the rerank list only (the mrlTopK shape): tiny
    // candidate list broadcasts into the persisted corpus
    val queriesFull = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    base
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(queriesFull), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine("qe", "embedding", col("qn"), col("nrm")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Embedding near-duplicate pairs within label blocks: all same-label
    * pairs with rounded cosine >= threshold. A frequent label is a
    * quadratic bomb at corpus scale — this variant is the small-scale
    * verification baseline; [[embeddingDupPairsLsh]] is the 100 TB
    * path. Output: (vec_a, vec_b, sim). */
  def embeddingDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val base = embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", normDec("embedding"))
    base.as("a").join(base.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine("a.embedding", "b.embedding",
          col("a.nrm"), col("b.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Symmetric int8 floor-quantization summary — the 4x storage/IO cut
    * a 100 TB embedding corpus takes before ANN serving. Per-vector
    * scale = max|x| (zero-point 0); q_i = floor(x_i * 127 / scale),
    * chosen over round-to-nearest because floor is bit-identical in
    * every engine while round-half drifts (the determinism rules'
    * float-round hazard) — the cost is half an LSB of bias.
    *
    * Computed via posexplode + two grouped aggregations (all codegen'd
    * builtins — no interpreted lambdas, the dot_dec lesson). Output is
    * a per-vector summary in exact integer/fixed-point columns: scale
    * and total reconstruction error in millionths (floored fixed-point
    * — DECIMAL sums are exact, and floor survives engine boundaries
    * where round does not), q min/max/sum as BIGINT.
    */
  def quantizeSummary(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xd", col("x").cast("double"))
    val m = e.groupBy("vec_id").agg(max(abs(col("xd"))).as("maxabs"))
    e.join(m, "vec_id")
      .withColumn("qv",
        when(col("maxabs") === 0, lit(0L))
          .otherwise(floor(col("xd") * 127 / col("maxabs"))))
      .withColumn("err",
        when(col("maxabs") === 0, lit(0.0))
          .otherwise(abs(col("xd") - col("qv") * col("maxabs") / 127)))
      .groupBy("vec_id")
      .agg(
        // raw floor here (0 for max|x| < 1e-6): this scale6 REPORTS the
        // quantization scale; the q8 SCORING path (Q8Codec.pack) clamps
        // its copy to >= 1 because there it multiplies candidate scores
        floor(max(col("maxabs")) * 1000000).cast("long").as("scale6"),
        min("qv").cast("long").as("q_min"),
        max("qv").cast("long").as("q_max"),
        sum("qv").cast("long").as("q_sum"),
        floor(sum(col("err").cast("decimal(30,12)")) * 1000000)
          .cast("long").as("err6"))
  }

  /** Embedding near-duplicate pairs blocked on the sign-LSH bucket id —
    * the scale path: bucket population is data-independent (2^nPlanes
    * uniform-ish buckets from random hyperplanes), so the within-block
    * quadratic term stays bounded no matter how skewed labels are, and
    * near-identical vectors land in the same bucket with high
    * probability (they agree on every hyperplane sign unless one sits
    * within the angular gap). Candidate generation is an equality join
    * on the bucket id. Output: (vec_a, vec_b, sim). */
  def embeddingDupPairsLsh(embeddings: DataFrame, threshold: Double,
      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val ps = planes(nPlanes, dim)
    val base = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normDec("embedding"))
      .withColumn("bucket", bucketId("embedding", ps))
    base.as("a").join(base.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine("a.embedding", "b.embedding",
          col("a.nrm"), col("b.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023):
    * k-means-cluster the corpus, then compare pairs ONLY within a
    * cluster and drop every vector whose rounded cosine to a
    * smaller-id cluster-mate reaches `threshold` (min-id survivor —
    * the same deterministic authority rule as
    * [[graft.ops.Dedup.incrementalSuppress]]; the paper keeps the
    * point farthest from the centroid, any deterministic
    * representative is equivalent for dedup purposes).
    *
    * Shape at scale — this is the published answer to embedding dedup
    * over billions of vectors: the quadratic term is confined to one
    * cell, and nCentroids grows with the corpus so cell size stays
    * CONSTANT (n/k); candidate generation is a single equality
    * self-join on the cell id (one shuffle by cell), the codebook
    * trains on a bounded sample with broadcast centroids
    * ([[trainCodebook]]'s one-narrow-job Lloyd rounds), and the
    * assignment pass is a map against centroid literals — no
    * all-pairs stage anywhere. Skew bound: k-means cells track data
    * density, so a pathological cell degrades toward
    * [[embeddingDupPairs]]' label block, never past it.
    *
    * Output, one row per vector: (vec_id, cell, dup_of = smallest
    * matched cluster-mate or NULL, kept verdict). `cacheKey`: opt-in
    * codebook memo — immutable-corpus contract on [[clearCodebookMemo]].
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
      nCentroids: Int = 8, kmeansIters: Int = 2,
      trainPred: Column = expr("vec_id % 2 = 0"),
      cacheKey: Option[String] = None): DataFrame = {
    // one normed corpus materialization feeds training, assignment and
    // both sides of the intra-cell join (the ivfTopK convention; the
    // caller releases the cache after materializing, clearCache
    // contract as on Decontam.overlap)
    val base = withNorm(embeddings)
      .transform(persistTracked)
    val cents = memoized(cacheKey, s"coarse|$nCentroids|$kmeansIters|$trainPred") {
      trainCodebookOn(base, nCentroids, kmeansIters, trainPred)
    }
    // materialized ONCE: the relation is referenced three times (both
    // pair-join sides + the final labeling), and without the persist
    // each reference would re-run the corpus x codebook assignment
    // pass (same caller-owned release contract as `base`)
    val assigned = assignCellsByJoin(base, cents)
      .transform(persistTracked)
    // materialize EAGERLY: the self-join's two sides are INDEPENDENT
    // scan stages — a lazy first touch lets both compute the
    // unpopulated assignment partitions concurrently (the
    // Funnels.funnel rule; memoized training above only materialized
    // `base`, not this)
    assigned.count()
    val side = assigned.select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
    val dupOf = side.as("x").join(side.as("y"),
        col("x.cell") === col("y.cell") && col("y.vec_id") < col("x.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("other"),
        cosine("x.embedding", "y.embedding", col("x.nrm"), col("y.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy("vec_id").agg(min("other").as("dup_of"))
    assigned.select("vec_id", "cell").join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.cast("long").as("kept"))
  }

  /** IVF index-health diagnostics: per-cell population and share in
    * basis points — the cell-balance check a production ANN
    * deployment monitors before trusting an index (a skewed codebook
    * turns nprobe retrieval into a hot-cell full scan; rebalance =
    * retrain with more iterations or centroids). Training and
    * assignment are [[ivfTopK]]'s own, so the diagnostic measures the
    * exact index the sim gates search. One aggregation over the
    * corpus; everything after is codebook-sized.
    * Output: (cell, n_vecs, share_bp, n_total). `cacheKey`: opt-in
    * codebook memo — immutable-corpus contract on [[clearCodebookMemo]]. */
  def ivfCellStats(embeddings: DataFrame, nCentroids: Int = 8,
      kmeansIters: Int = 2,
      trainPred: Column = expr("vec_id % 2 = 0"),
      cacheKey: Option[String] = None): DataFrame = {
    val base = withNorm(embeddings)
      .transform(persistTracked)
    val cents = memoized(cacheKey, s"coarse|$nCentroids|$kmeansIters|$trainPred") {
      trainCodebookOn(base, nCentroids, kmeansIters, trainPred)
    }
    val centStructs = centroidStructs(cents)
    val assigned = base.withColumn("cell",
      -greatest(cents.indices.map(i => centStructs.getItem(i)): _*)
        .getField("ncid"))
    val per = assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val tot = per.agg(sum("n_vecs").as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        expr("n_vecs * 10000 div n_total").as("share_bp"), col("n_total"))
  }

  /** Deterministic bounded query sample for recall evaluation: the
    * smallest `maxQueries` vec_ids satisfying `queryPred`, returned as
    * a predicate selecting exactly those rows. The collect is bounded
    * by maxQueries — model-scale driver state, the k-centroids
    * discipline — and the smallest-id rule makes the sample
    * reproducible in any engine (the oracle mirrors it as
    * `ORDER BY vec_id LIMIT maxQueries`). */
  def boundedQueryPred(embeddings: DataFrame, queryPred: Column,
      maxQueries: Int): Column = {
    require(maxQueries >= 1, s"maxQueries must be >= 1, got $maxQueries")
    val ids = embeddings.filter(queryPred).select("vec_id")
      .orderBy(col("vec_id")).limit(maxQueries).collect().map(_.getLong(0))
    col("vec_id").isin(ids.toSeq: _*)
  }

  /** recall@K evaluator shared by every index variant: per sampled
    * query, |approx ∩ brute| out of K, in basis points.
    *
    * The exact brute-force referent costs O(queries × corpus) — the
    * one intentionally-quadratic stage in the family — so the
    * evaluator is BOUNDED BY CONSTRUCTION: it never runs more than
    * `maxQueries` queries, sampled deterministically by
    * [[boundedQueryPred]], no matter how wide `queryPred` is. That is
    * the corpus-scale contract: recall evaluation at 100 TB is a
    * sampled measurement (a few hundred queries estimate recall to a
    * tight interval), never brute force per corpus vector. `approxOf`
    * receives the bounded predicate and must return the standard
    * ranked frame (query_id, neighbor_id, ...) — pass the gated
    * operator itself so evaluator and evaluated cannot drift.
    * Output: (query_id, n_hits, recall_bp). */
  def recallAtK(embeddings: DataFrame, queryPred: Column, k: Int,
      maxQueries: Int, approxOf: Column => DataFrame): DataFrame = {
    val qp = boundedQueryPred(embeddings, queryPred, maxQueries)
    val brute = bruteForceTopK(embeddings, qp, k)
      .select("query_id", "neighbor_id")
    val approx = approxOf(qp)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    // the approx frame is ≤ maxQueries·k rows BY CONSTRUCTION (both
    // sides run under the bounded sample), so broadcast it: the
    // planner's size estimate picked a sort-merge join here — two
    // exchanges + sorts of model-scale frames (guide §3.1; optimization
    // r16). Values unchanged (same left join).
    brute.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"))
      .withColumn("recall_bp", expr(s"n_hits * 10000 div $k"))
  }

  /** The staleness measurement of [[ivfTopKStale]] vs [[ivfTopK]] as
    * ONE shared-harness pair (r15): composing two independent
    * [[recallAtK]] arms made the placed-vs-rebuilt key pay every fixed
    * cost twice — its own bounded-sample collect, its own exact
    * brute-force referent, its own normed-corpus materialization —
    * which at sf0.1 was most of the key's 4.24x ratio (the referent
    * composes the arms as CTEs over shared scans and paid the fixed
    * costs once). The pair shares ONE bounded query sample, ONE
    * persisted normed population — searched by both arms, training
    * the rebuilt book, and scanned by the referent — and ONE persisted
    * brute-force referent; only the codebooks differ: the stale book
    * trains on the `corpusPred` rows alone (the last rebuild — the
    * arrivals never influence its centroids, exactly
    * [[ivfTopKStale]]'s contract), the fresh book on the full
    * population. Output: [[recallAtK]]'s schema + `variant`
    * ('placed' | 'rebuilt') — value-identical to the two-arm
    * composition, so the gate oracle is unchanged. */
  def recallStalenessPair(embeddings: DataFrame, corpusPred: Column,
      queryPred: Column, k: Int, maxQueries: Int,
      nCentroids: Int = 8, nProbe: Int = 2, kmeansIters: Int = 2,
      trainPred: Column = expr("vec_id % 2 = 0"),
      corpusCacheKey: Option[String] = None,
      fullCacheKey: Option[String] = None): DataFrame = {
    val base = withNorm(embeddings).transform(persistTracked)
    val qp = boundedQueryPred(base, queryPred, maxQueries)
    val tag = s"coarse|$nCentroids|$kmeansIters|$trainPred"
    // both books in ONE fused pass (one init collect + iters
    // treeAggregate jobs for the pair — optimization r16); lazy so two
    // memo hits skip training entirely, and a single miss computes the
    // fused pass once and serves both lookups. Each book is
    // bit-identical to its separate trainCodebookOn (spec-locked).
    lazy val fused = trainCodebookPairOn(base, corpusPred, nCentroids,
      kmeansIters, trainPred)
    val staleCents = memoized(corpusCacheKey, tag) { fused._1 }
    val freshCents = memoized(fullCacheKey, tag) { fused._2 }
    require(nProbe <= staleCents.size && nProbe <= freshCents.size,
      s"nProbe ($nProbe) exceeds a codebook's cells " +
        s"(${staleCents.size} stale, ${freshCents.size} fresh)")
    // ONE scored frame serves the brute referent AND both search arms
    // (optimization r17, guide §1.2/§2.4): the brute referent already
    // scores every (sampled query, corpus vector) cosine, and each
    // arm's IVF candidates are a SUBSET of those pairs (rows whose
    // stale/fresh cell falls in the query's probed cells). Composing
    // brute + two ivfSearch passes + two broadcast recall joins paid
    // the query-broadcast corpus pass three times and collected two
    // extra broadcasts (18 jobs); here the pass runs ONCE, carrying
    // each side's cell under BOTH books, and the three rankings are
    // row_number windows over the same frame — candidates sort before
    // non-candidates, so a candidate's rank among its cohort is
    // identical to ivfSearch's rank over the joined candidates. The
    // recall count |approx∩brute| becomes a per-pair flag conjunction
    // — no join at all. Assignment/probe/cosine expressions are
    // verbatim ivfSearch/bruteTopKOn (bit-parity; SimilaritySpec locks
    // the pair against the two-arm composition).
    val sStale = centroidStructs(staleCents)
    val sFresh = centroidStructs(freshCents)
    def cellOf(structs: Column, cents: Seq[(Long, Array[Double])]): Column =
      -greatest(cents.indices.map(i => structs.getItem(i)): _*).getField("ncid")
    def probesOf(structs: Column): Column = {
      val sorted = sort_array(structs, asc = false)
      array((0 until nProbe).map(i =>
        -sorted.getItem(i).getField("ncid")): _*)
    }
    val queries = base.filter(qp).select(
      col("vec_id").as("query_id"), col("embedding").as("qe"),
      col("nrm").as("qn"),
      probesOf(sStale).as("pc_s"), probesOf(sFresh).as("pc_f"))
    val scored = base
      .select(col("vec_id"), col("embedding"), col("nrm"),
        cellOf(sStale, staleCents).as("cell_s"),
        cellOf(sFresh, freshCents).as("cell_f"))
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine("qe", "embedding", col("qn"), col("nrm")).as("sim"),
        array_contains(col("pc_s"), col("cell_s")).as("cand_s"),
        array_contains(col("pc_f"), col("cell_f")).as("cand_f"))
    def rankW(cand: Option[String]) = Window.partitionBy("query_id")
      .orderBy(cand.map(c => col(c).desc).toSeq ++
        Seq(col("sim").desc, col("neighbor_id").asc): _*)
    val per = scored
      .withColumn("brank", row_number().over(rankW(None)))
      .withColumn("srank", row_number().over(rankW(Some("cand_s"))))
      .withColumn("frank", row_number().over(rankW(Some("cand_f"))))
      .groupBy("query_id")
      .agg(
        count(when(col("brank") <= k && col("cand_s") && col("srank") <= k,
          1L)).as("h_s"),
        count(when(col("brank") <= k && col("cand_f") && col("frank") <= k,
          1L)).as("h_f"))
    per.select(col("query_id"), explode(array(
        struct(col("h_s").as("n_hits"), lit("placed").as("variant")),
        struct(col("h_f").as("n_hits"), lit("rebuilt").as("variant")))).as("r"))
      .select(col("query_id"), col("r.n_hits").as("n_hits"),
        expr(s"r.n_hits * 10000 div $k").as("recall_bp"),
        col("r.variant").as("variant"))
  }

  /** Contrastive-training triplet mining over ANY ranked top-k frame
    * (brute/LSH/IVF/PQ — backend-pluggable): the self-supervised
    * convention of dense-retrieval pipelines (DPR/ANCE class), with
    * the nearest neighbor as the positive and every remaining ranked
    * neighbor as a HARD negative (top-ranked non-positives are the
    * negatives that actually move a contrastive loss; random
    * negatives are trivially separable). The margin (pos_sim −
    * neg_sim) ships as basis points so the gate stays integral.
    *
    * Input must carry (query_id, neighbor_id, sim, rank) — the shared
    * output contract of every sim_topk_* operator. A per-query
    * self-join on the already-k-bounded frame: ≤ k−1 rows per query,
    * equality join on query_id, nothing data-sized.
    * Output: (query_id, pos_id, neg_id, neg_rank, margin_bp).
    */
  def hardNegatives(topk: DataFrame): DataFrame = {
    // attach the rank-1 row via a window over the ALREADY-RANKED frame
    // instead of a positives⋈negatives self-join (optimization r17):
    // the self-join planned the whole upstream search subtree TWICE
    // (Catalyst does no cross-branch CSE), so the IVF candidate scan
    // and its cell-probe broadcast both ran twice per action. The
    // window partitions by query_id — the key the frame is already
    // grouped on, ≤ k rows per partition — and first_value over
    // (rank asc) is exactly the rank-1 row; rows with rank ≥ 2 then
    // emit the same (pos, neg) pairs as the join did. Values
    // identical: every query has a rank-1 row by construction
    // (row_number from 1), so the inner join never dropped a query
    // that had negatives.
    val w = Window.partitionBy("query_id").orderBy(col("rank").asc)
    topk
      .withColumn("pos_id", first(col("neighbor_id")).over(w))
      .withColumn("pos_sim", first(col("sim")).over(w))
      .filter(col("rank") >= 2)
      .select(col("query_id"), col("pos_id"),
        col("neighbor_id").as("neg_id"), col("rank").as("neg_rank"),
        round((col("pos_sim") - col("sim")) * 10000).cast("long")
          .as("margin_bp"))
  }
}
