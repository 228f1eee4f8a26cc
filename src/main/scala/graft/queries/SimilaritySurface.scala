package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Similarity

/** Similarity-search surface over the `embeddings` table
  * (array<float>, 64-dim): exact brute-force top-k, sign-LSH
  * bucketed top-k (the 100 TB path), and embedding near-dup pairs.
  * Dot products accumulate as exact DECIMAL in both engines, so
  * similarity values are bit-identical.
  */
object SimilaritySurface {

  private val K = 10
  private val NPLANES = 6
  private val DIM = 64
  private val DUP_THRESHOLD = 0.35

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(emb(s, dir), expr(QPRED), K)),
    "sim_topk_lsh" -> ((s, dir) =>
      Similarity.lshBucketTopK(emb(s, dir), expr(QPRED), K, NPLANES, DIM,
        NTABLES)),
    // the IVF family passes the sf dir as the codebook-memo key: one
    // training per corpus serves all seven index consumers (the
    // train-once/serve-many production shape; values are identical to
    // a fresh train, so every oracle CTE chain still hash-matches)
    "sim_topk_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), expr(QPRED), K, NCENTROIDS, NPROBE,
        KMEANS_ITERS, expr(TRAIN_SQL), cacheKey = Some(s"$dir#embeddings"))),
    "sim_topk_ivf_q8" -> ((s, dir) =>
      Similarity.ivfTopKQ8(emb(s, dir), expr(QPRED), K, NCENTROIDS, NPROBE,
        KMEANS_ITERS, expr(TRAIN_SQL), RERANK, cacheKey = Some(s"$dir#embeddings"))),
    "sim_topk_mrl" -> ((s, dir) =>
      Similarity.mrlTopK(emb(s, dir), expr(QPRED), K, COARSE_DIMS, RERANK)),
    "sim_topk_ivf_pq" -> ((s, dir) =>
      Similarity.ivfPqTopK(emb(s, dir), expr(QPRED), K, NCENTROIDS, NPROBE,
        KMEANS_ITERS, expr(TRAIN_SQL), NSUB, KSUB, PQ_RERANK, cacheKey = Some(s"$dir#embeddings"))),
    "dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingDupPairs(emb(s, dir), DUP_THRESHOLD)),
    "dedup_embedding_lsh" -> ((s, dir) =>
      Similarity.embeddingDupPairsLsh(emb(s, dir), DUP_THRESHOLD, NPLANES, DIM)),
    // SemDeDup: k-means cells confine the pairwise stage; min-id
    // survivor per cell — the oracle replays the same Lloyd rounds as
    // the ivf gates, then the intra-cell pair join
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(emb(s, dir), DUP_THRESHOLD, SEM_CENTROIDS,
        KMEANS_ITERS, expr(TRAIN_SQL), cacheKey = Some(s"$dir#embeddings"))),
    "emb_quantize" -> ((s, dir) =>
      Similarity.quantizeSummary(emb(s, dir))),
    // verified PCA (graft.ops.Pca): one treeAggregate pass → d×d model
    // state → driver Jacobi eigensolve → broadcast-projection
    // reconstruction check; exact fixed-point mean/energy columns
    // hash-gate, the eigen side reduces to integer verdicts
    "emb_pca" -> ((s, dir) => graft.ops.Pca.pcaVerified(emb(s, dir), 8)),
    // ANN index-quality evaluation: per-query recall@K of the IVF
    // index against exact brute force — the measurement loop every
    // production ANN deployment runs before trusting an index. Both
    // sides are THE gated operators themselves; the oracle composes
    // their oracle SQL verbatim, so evaluator and evaluated cannot
    // drift. Basis-point integers (rule 3: no float round).
    // IVF index-health diagnostics (Similarity.ivfCellStats): cell
    // population balance of the exact index the sim gates search
    "sim_index_stats" -> ((s, dir) =>
      Similarity.ivfCellStats(emb(s, dir), NCENTROIDS, KMEANS_ITERS,
        expr(TRAIN_SQL), cacheKey = Some(s"$dir#embeddings"))),
    // contrastive triplet mining (Similarity.hardNegatives) over the
    // IVF index — the scale path; positives/negatives come from the
    // SAME gated ranking, so miner and index cannot drift
    "sim_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(
        Similarity.ivfTopK(emb(s, dir), expr(QPRED), K, NCENTROIDS,
          NPROBE, KMEANS_ITERS, expr(TRAIN_SQL), cacheKey = Some(s"$dir#embeddings")))),
    // every recall gate runs through Similarity.recallAtK with the
    // MAXQ sampled-query bound ACTIVE (4 of the 5 matching queries) —
    // the corpus-scale evaluator contract: brute force is paid for a
    // bounded deterministic sample, never per matching query
    "sim_recall_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.recallAtK(e, expr(QPRED), K, MAXQ,
        qp => Similarity.ivfTopK(e, qp, K, NCENTROIDS, NPROBE,
          KMEANS_ITERS, expr(TRAIN_SQL), cacheKey = Some(s"$dir#embeddings")))
    }),
    // recall@K of the COMPRESSED index (IVF-PQ under its shipping
    // rerank budget) against exact brute force — the measurement that
    // decides whether a PQ deployment's ADC budget is losing real
    // neighbors, beside sim_recall_ivf's uncompressed-index recall.
    // Both sides are the gated operators; the oracle composes their
    // SQL verbatim, so evaluator and evaluated cannot drift.
    "sim_recall_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.recallAtK(e, expr(QPRED), K, MAXQ,
        qp => Similarity.ivfPqTopK(e, qp, K, NCENTROIDS, NPROBE,
          KMEANS_ITERS, expr(TRAIN_SQL), NSUB, KSUB, PQ_RERANK,
          cacheKey = Some(s"$dir#embeddings")))
    }),
    // ...and the q8 / sign-LSH variants: EVERY index the engine ships
    // now ships with its evaluator (recall@K vs brute), so an operator
    // choice at deployment is a measured trade, never a guess
    "sim_recall_q8" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.recallAtK(e, expr(QPRED), K, MAXQ,
        qp => Similarity.ivfTopKQ8(e, qp, K, NCENTROIDS, NPROBE,
          KMEANS_ITERS, expr(TRAIN_SQL), RERANK,
          cacheKey = Some(s"$dir#embeddings")))
    }),
    // index-serving ingestion: vectors arriving AFTER the index build
    // (vec_id % 10 >= 8) are placed into the codebook trained on the
    // indexed corpus only — the between-rebuilds path of a production
    // ANN deployment; arrivals never influence the centroids
    "sim_assign_incremental" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.assignIncremental(
        e.filter(expr("vec_id % 10 < 8")), e.filter(expr("vec_id % 10 >= 8")),
        NCENTROIDS, KMEANS_ITERS, expr(TRAIN_SQL),
        cacheKey = Some(s"$dir#embeddings%10lt8"))
    }),
    "sim_recall_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.recallAtK(e, expr(QPRED), K, MAXQ,
        qp => Similarity.lshBucketTopK(e, qp, K, NPLANES, DIM, NTABLES))
    }),
    // staleness of the incrementally-maintained index as a measured
    // pair: search recall with arrivals PLACED into the stale
    // (corpus-trained) cells vs a fresh full REBUILD — the number that
    // decides how far a production deployment can stretch its rebuild
    // cadence before placement costs real neighbors
    // r15 (verdict #4): the two arms run on ONE shared harness — one
    // bounded query sample, one persisted normed population, one
    // persisted brute referent — instead of two independent recallAtK
    // compositions that paid every fixed cost twice (the 4.24x sf0.1
    // decomposition). Output and oracle unchanged; only the books
    // differ between the arms, exactly as before (same memo keys).
    "sim_recall_incremental" -> ((s, dir) =>
      Similarity.recallStalenessPair(emb(s, dir),
        expr("vec_id % 10 < 8"), expr(QPRED), K, MAXQ,
        NCENTROIDS, NPROBE, KMEANS_ITERS, expr(TRAIN_SQL),
        corpusCacheKey = Some(s"$dir#embeddings%10lt8"),
        fullCacheKey = Some(s"$dir#embeddings"))),
  )

  private val NCENTROIDS = 8
  /** Sampled-query bound for the recall evaluators — deliberately
    * BINDING at gate scale (4 of the 5 vec_id < 5 queries survive the
    * smallest-id sample) so the bound itself is oracle-verified, not
    * dormant. At corpus scale this is the knob that keeps the exact
    * brute-force referent a sampled measurement. Both the Spark plan
    * and the oracle SQL derive from this constant (and [[QPRED]]), so
    * the two sides stay paired. */
  private val MAXQ = 4
  /** SemDeDup cell count. Deliberately much larger than the IVF search
    * book: the intra-cell pair stage is quadratic PER CELL and the
    * cell id is the join key, so k bounds both the candidate volume
    * (~n²/k pairs) and the shuffle parallelism (k distinct keys). At
    * 8 cells the 60k-vector 30x corpus meant ~225M pairs on 8-way
    * parallelism (r10 measurement: 160 s); 64 cells cut candidates 8x
    * and spread them over every core. The SemDeDup convention scales k
    * with corpus size; 64 covers the gate scales while staying far
    * under the first-k-vectors init's reach on the smallest fixture. */
  private val SEM_CENTROIDS = 64
  /** Probed cells per query for every IVF-family book. Gate default 4
    * (r15, raised from 2 on the measured sweep — recall_maxq50_r15):
    * at nprobe=2 the rerank curve had flattened into the 56.4%
    * two-cell coverage ceiling (rerank 1200 → 2000 bought only
    * 39.4% → 45.4%); doubling the probe budget moves the ceiling
    * itself — IVF/q8 56.4% → 82.0% mean recall@10, PQ@1200
    * 39.4% → 46.2% — for 2x the candidate work, where nprobe=8 on
    * this 8-cell book IS brute force (100%) and buys PQ only +1.8pts
    * more (rerank-bound again). On a production book the cell count
    * is thousands, so nprobe=4 is sub-1% corpus coverage — the gate
    * book's 50% is an artifact of its deliberately tiny NCENTROIDS.
    * BOTH the Spark plan and the oracle SQL derive from this constant,
    * so the two sides stay paired. */
  private val NPROBE = 4
  private val KMEANS_ITERS = 2
  private val TRAIN_SQL = "vec_id % 2 = 0"
  private val RERANK = 50
  /** Shared query predicate of the sim_topk_* / sim_recall_* family. */
  private val QPRED = "vec_id < 5"
  /** SQL mirror of Similarity.boundedQueryPred: the smallest MAXQ
    * vec_ids satisfying QPRED. Applied inside BOTH composed sides of
    * every recall oracle, so the oracle pays exactly the sampled work
    * the Spark evaluator pays — paired ratios measure engines, not a
    * query-count mismatch. */
  private val SAMPLED_QPRED =
    s"$QPRED AND vec_id IN (SELECT vec_id FROM embeddings WHERE $QPRED " +
      s"ORDER BY vec_id LIMIT $MAXQ)"
  private val COARSE_DIMS = 16
  /** r14 measured PQ book (r13 verdict #3): the 4x4 book's pinned
    * recall was 1.2% mean recall@10 at 60k — near-noise, now refused
    * at construction (Similarity.guardBook). 8 subspaces x 8
    * sub-centroids is the gate book; the rerank default moved 600 →
    * 1200 late in r14 on the measured curve (see [[PQ_RERANK]]):
    * 39.4% mean recall@10 (recall_maxq50_r14b.json), past rerank-100's
    * 12.6%, -300's 23.4%, -600's 32.0%. 16 subspaces measured better
    * still (41.6% at rerank 300) but its 16 chained k-means CTE
    * replays blow the DuckDB oracle's execution budget — an operator
    * default the oracle can't affordably replay loses its
    * cross-engine verification, so 16x8 stays a pinned non-gate
    * option (Similarity.pinnedRecall). */
  /** PQ subspace count. BOTH the Spark plan and the oracle SQL derive
    * from this constant, so the two sides stay paired. Must divide DIM
    * (the subspaces are equal slices).
    *
    * 16 since r16 (raised from 8): the 16-subspace
    * book's r14 veto ("the oracle's 16 chained k-means CTE replays
    * blow the gate budget") became obsolete when the chains gained
    * AS MATERIALIZED hints (~2x the 8-sub oracle, not exponential),
    * and the measured recall gap is decisive — the finer quantizer
    * converts nprobe=4's cell coverage into 73.0% mean recall@10 at
    * the shipped rerank (recall_maxq50_r16.json, 60k corpus,
    * hash-green at every swept point) against 8x8's 46.2%, for ~2x
    * PQ-stage cost on BOTH engines (sf0.1 same-window: Spark
    * 2.96/4.15 s → 5.62/6.25 s, DuckDB 1.06/1.11 s → 2.54/2.53 s on
    * topk/recall). A 46%-recall default is not deployable; 73% is
    * within 9 pts of the nprobe-4 coverage ceiling (82.0%). */
  private val NSUB = 16
  private val KSUB = 8
  /** Gate default 1200 (late r14, raised from 600): the measured
    * rerank-recall curve on the 60k reference corpus at the then-8x8
    * book was 600→32.0%, 900→37.0%, 1200→39.4%, 2000→45.4% mean
    * recall@10 against the nprobe-2 cell-coverage ceiling (rerank can
    * never exceed [[sim_recall_ivf]]'s number); on the r16 16x8 gate
    * book the same axis reads 600→65.8%, 1200→73.0% at nprobe=4
    * (recall_maxq50_r16.json) — 1200 still takes the last cheap
    * points. Rerank is a per-query CONSTANT: its cost fraction
    * shrinks as the corpus grows, so raising it is free at scale —
    * 1200 takes the last cheap +7.4 pts. BOTH the Spark plan and the
    * oracle SQL derive from this constant, so the two sides stay
    * paired. */
  private val PQ_RERANK = 1200
  /** r14 measured LSH book: 8 independent 6-bit tables (the pinned
    * single-table book recalled 7.6% — vetoed at construction). */
  private val NTABLES = 8

  // ---- DuckDB oracles ----

  /** Exact decimal dot product of two list<float> expressions. */
  private def dotSql(a: String, b: String): String =
    s"""CAST(list_aggregate(list_transform(list_zip($a, $b),
       |  x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(30,12))), 'sum') AS DOUBLE)""".stripMargin

  private def normSql(a: String): String =
    s"sqrt(${dotSql(a, a)})"

  /** Literal SQL for the deterministic LSH bucket id (planes inlined
    * from the same h60-derived constants the Spark plan uses). */
  /** Sign-LSH bucket of table `t` — table t uses plane rows
    * [t*NPLANES, (t+1)*NPLANES) of the shared deterministic sequence,
    * mirroring Similarity.lshBucketTopK's slicing; bit p of a table's
    * bucket comes from the table's p-th plane (the Spark side's
    * bucketId numbers bits within the slice). Table 0 IS the legacy
    * single-table bucket (dedup_embedding_lsh's oracle). */
  private def bucketSqlTable(t: Int): String = {
    val planes = Similarity.planes(NPLANES * NTABLES, DIM)
      .slice(t * NPLANES, (t + 1) * NPLANES)
    planes.zipWithIndex.map { case (plane, p) =>
      val planeLit = plane.mkString("[", ", ", "]")
      val dot =
        s"""CAST(list_aggregate(list_transform(list_zip(embedding, $planeLit),
           |  x -> CAST(CAST(x[1] AS DOUBLE) * x[2] AS DECIMAL(30,12))), 'sum') AS DOUBLE)""".stripMargin
      s"(CASE WHEN $dot >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  private val bucketSql: String = bucketSqlTable(0)

  private val baseCte =
    s"""base AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings)"""

  /** k-means CTE chain mirroring Similarity.trainCodebook exactly:
    * init = first NCENTROIDS vectors (floats cast to double); per
    * iteration, assignment by rounded cosine (ties → smallest cid)
    * then per-dimension exact-DECIMAL means rounded to 6 decimals;
    * empty cells keep the old centroid. Ends in
    * cents{KMEANS_ITERS}(cid, ce, cn). */
  private def kmeansCtes(nc: Int = NCENTROIDS): String = {
    val meanCols = (1 to DIM).map(d =>
      s"round(CAST(sum(CAST(CAST(embedding[$d] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) AS m$d")
      .mkString(", ")
    val meanList = (1 to DIM).map(d => s"m.m$d").mkString(", ")
    val init =
      s"""train AS (SELECT * FROM base WHERE $TRAIN_SQL),
         |cents0 AS (SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce, nrm AS cn
         |  FROM base WHERE vec_id < $nc)""".stripMargin
    val iters = (0 until KMEANS_ITERS).map { i =>
      s"""tsims$i AS (SELECT t.vec_id, t.embedding, c.cid,
         |    round(${dotSql("t.embedding", "c.ce")} / (t.nrm * c.cn), 4) AS cs
         |  FROM train t, cents$i c),
         |asg$i AS (SELECT vec_id, embedding, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn FROM tsims$i),
         |mean$i AS (SELECT cid, $meanCols FROM asg$i WHERE rn = 1 GROUP BY cid),
         |cents${i + 1} AS (SELECT cid, ce, ${normSql("ce")} AS cn FROM (
         |  SELECT o.cid, CASE WHEN m.cid IS NULL THEN o.ce ELSE [$meanList] END AS ce
         |  FROM cents$i o LEFT JOIN mean$i m ON m.cid = o.cid))""".stripMargin
    }
    (Seq(init) ++ iters).mkString(",\n")
  }

  /** Per-subspace PQ codebook training chain, mirroring the fused
    * Lloyd rounds of Similarity.trainSubCodebooksOn for subspace `m`:
    * the same k-means CTE pattern as [[kmeansCtes]], over the 1-based
    * inclusive slice of the embedding, KSUB centroids initialized from
    * the first KSUB vectors' slices. Ends in pq{m}c{KMEANS_ITERS}. */
  private def pqKmeansCtes(m: Int): String = {
    val subDim = DIM / NSUB
    val lo = m * subDim + 1
    val sl = s"embedding[$lo:${m * subDim + subDim}]"
    val meanCols = (1 to subDim).map(d =>
      s"round(CAST(sum(CAST(CAST(se[$d] AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) AS m$d")
      .mkString(", ")
    val meanList = (1 to subDim).map(d => s"x.m$d").mkString(", ")
    val init =
      s"""pq${m}b AS (SELECT vec_id, $sl AS se, ${normSql(sl)} AS sn FROM base),
         |pq${m}t AS (SELECT * FROM pq${m}b WHERE $TRAIN_SQL),
         |pq${m}c0 AS (SELECT vec_id AS cid, list_transform(se, x -> CAST(x AS DOUBLE)) AS ce, sn AS cn
         |  FROM pq${m}b WHERE vec_id < $KSUB)""".stripMargin
    val iters = (0 until KMEANS_ITERS).map { i =>
      s"""pq${m}s$i AS (SELECT t.vec_id, t.se, c.cid,
         |    round(${dotSql("t.se", "c.ce")} / (t.sn * c.cn), 4) AS cs
         |  FROM pq${m}t t, pq${m}c$i c),
         |pq${m}a$i AS (SELECT vec_id, se, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn FROM pq${m}s$i),
         |pq${m}m$i AS (SELECT cid, $meanCols FROM pq${m}a$i WHERE rn = 1 GROUP BY cid),
         |pq${m}c${i + 1} AS (SELECT cid, ce, ${normSql("ce")} AS cn FROM (
         |  SELECT o.cid, CASE WHEN x.cid IS NULL THEN o.ce ELSE [$meanList] END AS ce
         |  FROM pq${m}c$i o LEFT JOIN pq${m}m$i x ON x.cid = o.cid))""".stripMargin
    }
    (Seq(init) ++ iters).mkString(",\n")
  }

  /** Code assignment (max rounded cosine to the trained sub-centroids,
    * ties → smallest cid) and the per-query ADC table (exact-decimal
    * dot of the query slice against every sub-centroid) for subspace
    * `m`. */
  private def pqCodeAdcCtes(m: Int, qp: String): String =
    s"""pq${m}sims AS (SELECT b.vec_id, c.cid,
       |    round(${dotSql("b.se", "c.ce")} / (b.sn * c.cn), 4) AS cs
       |  FROM pq${m}b b, pq${m}c$KMEANS_ITERS c),
       |pq${m}code AS (SELECT vec_id, cid AS code FROM (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
       |  FROM pq${m}sims) WHERE rn = 1),
       |pq${m}adc AS (SELECT b.vec_id AS query_id, c.cid AS code,
       |    ${dotSql("b.se", "c.ce")} AS av
       |  FROM pq${m}b b, pq${m}c$KMEANS_ITERS c WHERE $qp)""".stripMargin

  // ---- topk oracle builders, parameterized on the query predicate
  // (unqualified vec_id references) so the recall oracles can compose
  // them under the sampled-query bound ----

  private def bruteTopkSql(qp: String): String =
    s"""WITH $baseCte,
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM base WHERE $qp),
       |pairs AS (SELECT q.query_id, b.vec_id AS neighbor_id,
       |    round(${dotSql("q.qe", "b.embedding")} / (q.qn * b.nrm), 4) AS sim
       |  FROM base b, q WHERE b.vec_id != q.query_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM pairs)
       |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= $K""".stripMargin

  /** Mirrors the MULTI-TABLE Similarity.lshBucketTopK: per-table
    * buckets b0..b{T-1}, candidates = DISTINCT pairs colliding in ANY
    * table, then the exact cosine + rank on the candidate set (the
    * same result set as the Spark side's equi-join-per-table union). */
  private def lshTopkSql(qp: String): String = {
    val bucketCols = (0 until NTABLES)
      .map(t => s"${bucketSqlTable(t)} AS b$t").mkString(",\n")
    val anyTable = (0 until NTABLES)
      .map(t => s"b.b$t = q.qb$t").mkString(" OR ")
    val qCols = (0 until NTABLES).map(t => s"b$t AS qb$t").mkString(", ")
    s"""WITH $baseCte,
       |bb AS (SELECT vec_id, embedding, nrm,
       |$bucketCols
       |  FROM base),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, $qCols FROM bb WHERE $qp),
       |cand AS (SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
       |  FROM bb b, q WHERE ($anyTable) AND b.vec_id != q.query_id),
       |pairs AS (SELECT c.query_id, c.neighbor_id,
       |    round(${dotSql("q2.qe", "b2.embedding")} / (q2.qn * b2.nrm), 4) AS sim
       |  FROM cand c JOIN q q2 ON q2.query_id = c.query_id
       |  JOIN bb b2 ON b2.vec_id = c.neighbor_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM pairs)
       |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= $K""".stripMargin
  }

  /** Shared IVF cell CTEs: corpus assignment + the probe set under the
    * given query predicate. References `base` and cents$KMEANS_ITERS. */
  private def ivfCellCtes(qp: String): String =
    s"""sims AS (SELECT b.vec_id, c.cid,
       |    round(${dotSql("b.embedding", "c.ce")} / (b.nrm * c.cn), 4) AS cs
       |  FROM base b, cents$KMEANS_ITERS c),
       |ranked_cells AS (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
       |  FROM sims),
       |assign AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cid AS cell FROM ranked_cells
       |  WHERE rn <= $NPROBE AND $qp)""".stripMargin

  private def ivfTopkSql(qp: String): String =
    s"""WITH $baseCte,
       |${kmeansCtes()},
       |${ivfCellCtes(qp)},
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id),
       |pairs AS (SELECT c.query_id, c.neighbor_id,
       |    round(${dotSql("q.embedding", "b.embedding")} / (q.nrm * b.nrm), 4) AS sim
       |  FROM cand c JOIN base q ON q.vec_id = c.query_id JOIN base b ON b.vec_id = c.neighbor_id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM pairs)
       |SELECT query_id, neighbor_id, sim, rank FROM rr WHERE rank <= $K""".stripMargin

  /** Mirrors Similarity.ivfTopKQ8: the shared IVF cell CTEs, then an
    * ALL-INTEGER candidate score (int8 dot * scale6 * scale6 — floor
    * quantization per emb_quantize) whose top-RERANK cut is bit-stable
    * in any engine, then the exact decimal cosine on the rerank list. */
  private def ivfQ8TopkSql(qp: String): String =
    s"""WITH $baseCte,
       |${kmeansCtes()},
       |${ivfCellCtes(qp)},
       |q8 AS (SELECT vec_id,
       |    CAST(greatest(floor(maxabs * 1000000), 1) AS BIGINT) AS scale6,
       |    list_transform(embedding, x -> CASE WHEN maxabs = 0 THEN 0
       |      ELSE CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs) AS BIGINT) END) AS q
       |  FROM (SELECT vec_id, embedding,
       |      list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
       |    FROM embeddings)),
       |scored AS (SELECT c.query_id, c.neighbor_id,
       |    list_aggregate(list_transform(list_zip(qa.q, qb.q), x -> x[1] * x[2]), 'sum')
       |      * qa.scale6 * qb.scale6 AS score
       |  FROM (SELECT p.query_id, a.vec_id AS neighbor_id
       |        FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id) c
       |  JOIN q8 qa ON qa.vec_id = c.query_id
       |  JOIN q8 qb ON qb.vec_id = c.neighbor_id),
       |topr AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS crank
       |  FROM scored),
       |pairs AS (SELECT t.query_id, t.neighbor_id,
       |    round(${dotSql("q.embedding", "b.embedding")} / (q.nrm * b.nrm), 4) AS sim
       |  FROM topr t JOIN base q ON q.vec_id = t.query_id
       |  JOIN base b ON b.vec_id = t.neighbor_id WHERE t.crank <= $RERANK),
       |rr2 AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM pairs)
       |SELECT query_id, neighbor_id, sim, rank FROM rr2 WHERE rank <= $K""".stripMargin

  /** Mirrors Similarity.ivfTopKStale: codebook trained on the corpus
    * slice only (base := indexed slice feeds the kmeans CTEs), then
    * the full population — corpus plus arrivals placed into the stale
    * cells — is assigned and searched. */
  private def staleIvfTopkSql(qp: String): String =
    s"""WITH base AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
       |  FROM embeddings WHERE vec_id % 10 < 8),
       |${kmeansCtes()},
       |allv AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |sims AS (SELECT b.vec_id, c.cid,
       |    round(${dotSql("b.embedding", "c.ce")} / (b.nrm * c.cn), 4) AS cs
       |  FROM allv b, cents$KMEANS_ITERS c),
       |ranked_cells AS (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
       |  FROM sims),
       |assign AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cid AS cell FROM ranked_cells
       |  WHERE rn <= $NPROBE AND $qp),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id),
       |pairs AS (SELECT c.query_id, c.neighbor_id,
       |    round(${dotSql("q.embedding", "b.embedding")} / (q.nrm * b.nrm), 4) AS sim
       |  FROM cand c JOIN allv q ON q.vec_id = c.query_id JOIN allv b ON b.vec_id = c.neighbor_id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM pairs)
       |SELECT query_id, neighbor_id, sim, rank FROM rr WHERE rank <= $K""".stripMargin

  private def ivfPqTopkSql(qp: String): String =
    s"""WITH $baseCte,
       |${kmeansCtes()},
       |${(0 until NSUB).map(pqKmeansCtes).mkString(",\n")},
       |${(0 until NSUB).map(m => pqCodeAdcCtes(m, qp)).mkString(",\n")},
       |${ivfCellCtes(qp)},
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id),
       |scored AS (SELECT c.query_id, c.neighbor_id,
       |    coalesce(round((${(0 until NSUB).map(m => s"a$m.av").mkString(" + ")})
       |      / nullif(q.nrm * b.nrm, 0), 4), -2) AS score
       |  FROM cand c
       |${(0 until NSUB).map(m => s"  JOIN pq${m}code k$m ON k$m.vec_id = c.neighbor_id").mkString("\n")}
       |${(0 until NSUB).map(m => s"  JOIN pq${m}adc a$m ON a$m.query_id = c.query_id AND a$m.code = k$m.code").mkString("\n")}
       |  JOIN base q ON q.vec_id = c.query_id
       |  JOIN base b ON b.vec_id = c.neighbor_id),
       |topr AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS crank
       |  FROM scored),
       |pairs AS (SELECT t.query_id, t.neighbor_id,
       |    round(${dotSql("q.embedding", "b.embedding")} / (q.nrm * b.nrm), 4) AS sim
       |  FROM topr t JOIN base q ON q.vec_id = t.query_id
       |  JOIN base b ON b.vec_id = t.neighbor_id WHERE t.crank <= $PQ_RERANK),
       |rr3 AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM pairs)
       |SELECT query_id, neighbor_id, sim, rank FROM rr3 WHERE rank <= $K""".stripMargin

  private val oracleSqlBase: Map[String, String] = Map(
    "sim_topk_brute" -> bruteTopkSql(QPRED),
    // coarse pass on the first COARSE_DIMS dims (list slice), exact
    // rerank of the top-RERANK candidates; zero-norm prefixes coarse
    // at -2 on both engines (no NULL-ordering hazard)
    "sim_topk_mrl" ->
      s"""WITH $baseCte,
         |pb AS (SELECT vec_id, embedding, nrm,
         |    embedding[1:$COARSE_DIMS] AS pe,
         |    ${normSql(s"embedding[1:$COARSE_DIMS]")} AS pnrm
         |  FROM base),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
         |    pe AS pqe, pnrm AS pqn FROM pb WHERE $QPRED),
         |coarse AS (SELECT q.query_id, b.vec_id AS neighbor_id,
         |    b.embedding, b.nrm, q.qe, q.qn,
         |    coalesce(round(${dotSql("q.pqe", "b.pe")} / nullif(q.pqn * b.pnrm, 0), 4), -2) AS cs
         |  FROM pb b, q WHERE b.vec_id != q.query_id),
         |cand AS (SELECT * FROM (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS crank
         |  FROM coarse) WHERE crank <= $RERANK),
         |rer AS (SELECT query_id, neighbor_id,
         |    round(${dotSql("qe", "embedding")} / (qn * nrm), 4) AS sim FROM cand),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rank FROM rer)
         |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= $K""".stripMargin,
    "sim_topk_lsh" -> lshTopkSql(QPRED),
    "sim_topk_ivf" -> ivfTopkSql(QPRED),
    // mirrors Similarity.ivfTopKQ8: same codebook/assignment CTEs as
    // sim_topk_ivf, then an ALL-INTEGER candidate score
    // (int8 dot * scale6 * scale6 — floor quantization per emb_quantize)
    // whose top-RERANK cut is bit-stable in any engine, then the exact
    // decimal cosine only on the rerank list
    "sim_topk_ivf_q8" -> ivfQ8TopkSql(QPRED),
    // mirrors Similarity.ivfPqTopK: coarse IVF cells/probes exactly as
    // sim_topk_ivf; per-subspace PQ codebooks re-derived by the pq CTE
    // chains; candidates scored by the ADC table-sum (subspace order,
    // left-to-right double adds) over TRUE stored norms, rounded to 4
    // for a bit-stable top-RERANK cut; exact cosine on the rerank list
    "sim_topk_ivf_pq" -> ivfPqTopkSql(QPRED),
    "dedup_semantic" ->
      s"""WITH $baseCte,
         |${kmeansCtes(SEM_CENTROIDS)},
         |sims AS (SELECT b.vec_id, c.cid,
         |    round(${dotSql("b.embedding", "c.ce")} / (b.nrm * c.cn), 4) AS cs
         |  FROM base b, cents$KMEANS_ITERS c),
         |assign AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
         |  FROM sims) WHERE rn = 1),
         |av AS (SELECT a.vec_id, a.cell, b.embedding, b.nrm
         |  FROM assign a JOIN base b USING (vec_id)),
         |pairs AS (SELECT x.vec_id, y.vec_id AS other
         |  FROM av x JOIN av y ON x.cell = y.cell AND y.vec_id < x.vec_id
         |  WHERE round(${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 4) >= $DUP_THRESHOLD),
         |d AS (SELECT vec_id, min(other) AS dup_of FROM pairs GROUP BY 1)
         |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, d.dup_of,
         |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM assign a LEFT JOIN d USING (vec_id)""".stripMargin,
    // corpus-only training (base restricted to the indexed slice),
    // then assignment of the arrivals by the shared row_number rule
    "sim_assign_incremental" ->
      s"""WITH base AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
         |  FROM embeddings WHERE vec_id % 10 < 8),
         |${kmeansCtes()},
         |arr AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
         |  FROM embeddings WHERE vec_id % 10 >= 8),
         |sims AS (SELECT a.vec_id, c.cid,
         |    round(${dotSql("a.embedding", "c.ce")} / (a.nrm * c.cn), 4) AS cs
         |  FROM arr a, cents$KMEANS_ITERS c),
         |asg AS (SELECT vec_id, cid, cs,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
         |  FROM sims)
         |SELECT vec_id, CAST(cid AS BIGINT) AS cell, cs FROM asg WHERE rn = 1""".stripMargin,
    "dedup_embedding" ->
      s"""WITH base AS (SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS sim
         |FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) >= $DUP_THRESHOLD""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH $baseCte,
         |bb AS (SELECT vec_id, embedding, nrm, $bucketSql AS bucket FROM base)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS sim
         |FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) >= $DUP_THRESHOLD""".stripMargin,
    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS xd FROM embeddings),
        |m AS (SELECT vec_id, max(abs(xd)) AS maxabs FROM e GROUP BY 1),
        |q AS (SELECT e.vec_id, e.xd, m.maxabs,
        |        CASE WHEN m.maxabs = 0 THEN 0
        |             ELSE CAST(floor(e.xd * 127 / m.maxabs) AS BIGINT) END AS qv
        |      FROM e JOIN m USING (vec_id)),
        |qe AS (SELECT vec_id, maxabs, qv,
        |        CASE WHEN maxabs = 0 THEN 0.0 ELSE abs(xd - qv * maxabs / 127) END AS err
        |       FROM q)
        |SELECT vec_id,
        |  CAST(floor(maxabs * 1000000) AS BIGINT) AS scale6,
        |  CAST(min(qv) AS BIGINT) AS q_min,
        |  CAST(max(qv) AS BIGINT) AS q_max,
        |  CAST(sum(qv) AS BIGINT) AS q_sum,
        |  CAST(floor(sum(CAST(err AS DECIMAL(30,12))) * 1000000) AS BIGINT) AS err6
        |FROM qe GROUP BY vec_id, maxabs""".stripMargin,
    // exact per-dim mean fingerprint + total energy replayed from the
    // same DECIMAL(30,12) sums (the toFix12 contract); eigen verdicts
    // gate as constants (the *Verified convention)
    "emb_pca" ->
      """WITH e AS (SELECT embedding FROM embeddings),
        |x AS (SELECT unnest(list_zip(embedding, range(len(embedding)))) AS z FROM e),
        |c AS (SELECT CAST(z[1] AS DOUBLE) AS xv, CAST(z[2] AS BIGINT) AS d FROM x),
        |s AS (SELECT d, sum(CAST(xv AS DECIMAL(30,12))) AS sd FROM c GROUP BY 1),
        |m AS (SELECT d, CAST(round(CAST(sd AS DOUBLE)
        |    / (SELECT count(*) FROM e) * 1000000) AS BIGINT) AS mu6 FROM s),
        |q AS (SELECT sum(CAST(xv * xv AS DECIMAL(30,12))) AS ssq FROM c)
        |SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n,
        |  CAST((SELECT max(len(embedding)) FROM e) AS BIGINT) AS dim,
        |  CAST(8 AS BIGINT) AS k,
        |  (SELECT md5(array_to_string(list(mu6 ORDER BY d), ',')) FROM m) AS mu_fp,
        |  (SELECT round(CAST(ssq AS DOUBLE), 6) FROM q) AS ssq6,
        |  CAST(1 AS BIGINT) AS orth_ok, CAST(1 AS BIGINT) AS eig_ok,
        |  CAST(1 AS BIGINT) AS recon_ok""".stripMargin,
  )

  /** Each recall oracle COMPOSES the same builders the sim_topk_*
    * gates use — under the SAMPLED_QPRED query bound on BOTH sides —
    * so evaluator and evaluated can never drift apart: per sampled
    * query, recall@K = |approx ∩ brute| · 10⁴ div K. */
  private def recallSql(approxSql: String,
      variant: Option[String] = None): String = {
    val vcol = variant.map(v => s",\n  '$v' AS variant").getOrElse("")
    s"""SELECT b.query_id,
       |  CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(count(i.neighbor_id) * 10000 // $K AS BIGINT) AS recall_bp$vcol
       |FROM (${bruteTopkSql(SAMPLED_QPRED)}) b
       |LEFT JOIN ($approxSql) i
       |  USING (query_id, neighbor_id)
       |GROUP BY 1""".stripMargin
  }

  /** DuckDB CTE-materialization hint for the referent (r16, verdict
    * #3): the k-means / LSH training chains reference each CTE level
    * several times (cents$i feeds s$i AND both branches of
    * cents$i+1), and DuckDB 1.0 inlines non-hinted CTEs per
    * reference, re-running the chain prefix multiplicatively —
    * `AS MATERIALIZED` evaluates each level once (the text_bpe_train
    * precedent). Values are hint-invariant (verified equal at sf0.1
    * and 600k); runtime measured per key at sf0.1, 3-rep best, and
    * the hint is applied ONLY where the referent gets FASTER — the
    * referent always runs its best formulation, our paired ratios can
    * only get worse from this change: recall_pq 6.86→2.05 s,
    * topk_ivf_pq 11.95→2.44, recall_q8 2.42→0.61, recall_incremental
    * 2.64→0.99, recall_ivf 1.28→0.55, index_stats 0.84→0.33,
    * hard_negatives 1.48→0.55, semantic 2.85→1.82 (same window;
    * at 600k vectors recall_pq is 198→81 s). Kept PLAIN (hint
    * measured neutral-to-slower): sim_topk_brute, sim_topk_mrl,
    * sim_assign_incremental, dedup_embedding. */
  private def matCtes(sql: String): String =
    sql.replace("AS (SELECT", "AS MATERIALIZED (SELECT")
  private val MAT_KEYS = Set(
    "sim_recall_ivf", "sim_recall_pq", "sim_recall_q8", "sim_recall_lsh",
    "sim_recall_incremental", "sim_topk_ivf", "sim_topk_ivf_q8",
    "sim_topk_ivf_pq", "sim_topk_lsh", "sim_index_stats",
    "sim_hard_negatives", "dedup_semantic", "dedup_embedding_lsh")

  val oracleSql: Map[String, String] = (oracleSqlRaw.map { case (k, v) =>
    k -> (if (MAT_KEYS(k)) matCtes(v) else v)
  })

  // lazy: referenced by oracleSql above its textual position — a
  // plain val would still be null at oracleSql's initialization
  private lazy val oracleSqlRaw: Map[String, String] = oracleSqlBase +
    ("sim_recall_ivf" -> recallSql(ivfTopkSql(SAMPLED_QPRED))) +
    // placed-vs-rebuilt staleness pair, each side composing the same
    // builders as its gated twin under the sampled-query bound
    ("sim_recall_incremental" ->
      s"""${recallSql(staleIvfTopkSql(SAMPLED_QPRED), Some("placed"))}
         |UNION ALL
         |${recallSql(ivfTopkSql(SAMPLED_QPRED), Some("rebuilt"))}""".stripMargin) +
    ("sim_recall_pq" -> recallSql(ivfPqTopkSql(SAMPLED_QPRED))) +
    ("sim_recall_q8" -> recallSql(ivfQ8TopkSql(SAMPLED_QPRED))) +
    ("sim_recall_lsh" -> recallSql(lshTopkSql(SAMPLED_QPRED))) +
    // composes the IVF oracle verbatim twice (positive row + negative
    // rows), mirroring Similarity.hardNegatives over the same index
    ("sim_index_stats" ->
      s"""WITH $baseCte,
         |${kmeansCtes()},
         |sims AS (SELECT b.vec_id, c.cid,
         |    round(${dotSql("b.embedding", "c.ce")} / (b.nrm * c.cn), 4) AS cs
         |  FROM base b, cents$KMEANS_ITERS c),
         |assign AS (SELECT vec_id, cid AS cell FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
         |  FROM sims) WHERE rn = 1),
         |per AS (SELECT cell, count(*) AS n_vecs FROM assign GROUP BY 1),
         |t AS (SELECT sum(n_vecs) AS n_total FROM per)
         |SELECT CAST(cell AS BIGINT) AS cell, CAST(n_vecs AS BIGINT) AS n_vecs,
         |  CAST(n_vecs * 10000 // n_total AS BIGINT) AS share_bp,
         |  CAST(n_total AS BIGINT) AS n_total
         |FROM per CROSS JOIN t""".stripMargin) +
    ("sim_hard_negatives" ->
      s"""SELECT p.query_id, p.neighbor_id AS pos_id, n.neighbor_id AS neg_id,
         |  n.rank AS neg_rank,
         |  CAST(round((p.sim - n.sim) * 10000) AS BIGINT) AS margin_bp
         |FROM (${oracleSqlBase("sim_topk_ivf")}) p
         |JOIN (${oracleSqlBase("sim_topk_ivf")}) n ON n.query_id = p.query_id
         |WHERE p.rank = 1 AND n.rank >= 2""".stripMargin)
}
