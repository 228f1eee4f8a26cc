package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Similarity search: brute-force correctness on a planted fixture and
  * LSH recall against the brute-force baseline. */
class SimilaritySpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  // 30 deterministic vectors; vec 1 is an exact copy of vec 0.
  private lazy val emb = {
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 30).map { i =>
      val v = Array.fill(16)(rnd.nextFloat() * 2 - 1)
      (i.toLong, v, i % 3)
    }
    val fixed = vecs.updated(1, (1L, vecs(0)._2.clone(), 1))
    fixed.toDF("vec_id", "embedding", "label")
  }

  test("brute-force top-k: the planted duplicate is rank 1 with sim 1.0") {
    val top = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 5)
      .orderBy("rank").collect()
    assert(top.length == 5)
    assert(top(0).getLong(1) == 1L)     // neighbor_id
    assert(top(0).getDouble(2) == 1.0)  // sim
    // ranks are 1..5, sims non-increasing
    assert(top.map(_.getLong(3)).toSeq == (1L to 5L))
    val sims = top.map(_.getDouble(2)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("brute-force matches a hand-computed cosine") {
    val rows = emb.filter(col("vec_id").isin(3, 7)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val (a, b) = (rows(3L), rows(7L))
    def dot(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
    val expect = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val got = Similarity.bruteForceTopK(emb, col("vec_id") === 3, 29)
      .filter(col("neighbor_id") === 7).collect()(0).getDouble(2)
    assert(math.abs(got - expect) < 1e-3) // rounded to 4 decimals
  }

  test("LSH: identical vectors always share a bucket; results subset brute-force order") {
    val lsh = Similarity.lshBucketTopK(emb, col("vec_id") === 0, 5,
      nPlanes = 4, dim = 16).orderBy("rank").collect()
    // vec 1 (exact copy) has the same bucket by construction → found
    assert(lsh.nonEmpty)
    assert(lsh(0).getLong(1) == 1L && lsh(0).getDouble(2) == 1.0)
  }

  test("LSH recall vs brute force is reasonable on the fixture") {
    val queries = col("vec_id") < 10
    val brute = Similarity.bruteForceTopK(emb, queries, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshBucketTopK(emb, queries, 3, nPlanes = 2, dim = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2 planes → 4 buckets over 30 vectors: each query sees ~1/4 of the
    // corpus, so recall can't be perfect but must be well above zero.
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.2, s"recall $recall")
  }

  test("IVF: planted duplicate shares its twin's cell and is found at rank 1") {
    // vec 1 is an exact copy of vec 0 → same cell assignment, cosine 1.0
    val top = Similarity.ivfTopK(emb, col("vec_id") === 0, 5,
      nCentroids = 4, nProbe = 2).orderBy("rank").collect()
    assert(top.nonEmpty)
    assert(top(0).getLong(1) == 1L && top(0).getDouble(2) == 1.0)
    // every result's rank is consistent and sims non-increasing
    assert(top.map(_.getLong(3)).toSeq == (1L to top.length))
    val sims = top.map(_.getDouble(2)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("IVF survives a zero-norm vector in the training slice") {
    // a zero vector makes every cosine NaN in the Lloyd seqOp — the
    // guard assigns it to cell 0 deterministically instead of crashing
    // with bestIdx = -1 (ADVICE r3); the DataFrame assignment path
    // already tolerated NaN (Spark orders NaN largest)
    val withZero = emb.union(
      Seq((99L, Array.fill(16)(0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val top = Similarity.ivfTopK(withZero, col("vec_id") === 0, 5,
      nCentroids = 4, nProbe = 2,
      trainPred = col("vec_id") % 2 === 0 || col("vec_id") === 99)
      .orderBy("rank").collect()
    assert(top.nonEmpty)
    assert(top(0).getLong(1) == 1L && top(0).getDouble(2) == 1.0)
  }

  test("IVF recall vs brute force is reasonable with 2 probes of 4 cells") {
    val queries = col("vec_id") < 10
    val brute = Similarity.bruteForceTopK(emb, queries, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 3, nCentroids = 4, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"recall $recall")
  }

  test("k-means codebook training moves centroids and converges deterministically") {
    val init = Similarity.trainCodebook(emb, 4, 0, expr("vec_id % 2 = 0"))
    val trained = Similarity.trainCodebook(emb, 4, 2, expr("vec_id % 2 = 0"))
    assert(init.map(_._1) == trained.map(_._1)) // same cids
    // at least one centroid moved away from its init vector
    assert(init.zip(trained).exists { case ((_, a), (_, b)) => !a.sameElements(b) })
    // deterministic: same call → identical centroids
    val again = Similarity.trainCodebook(emb, 4, 2, expr("vec_id % 2 = 0"))
    assert(trained.zip(again).forall { case ((_, a), (_, b)) => a.sameElements(b) })
  }

  test("q8-quantized IVF matches plain IVF given a full rerank budget, and recall holds") {
    val queries = col("vec_id") < 10
    val ivf = Similarity.ivfTopK(emb, queries, 3, nCentroids = 4, nProbe = 2,
        kmeansIters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // rerank >= corpus: the int8 stage only pre-orders candidates, so
    // the fp32 rerank must reproduce plain IVF exactly
    val q8Full = Similarity.ivfTopKQ8(emb, queries, 3, nCentroids = 4, nProbe = 2,
        kmeansIters = 2, rerank = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(q8Full == ivf, s"q8 with full rerank diverged: ${q8Full diff ivf}")
    // tight rerank: the int8 ordering is approximate but must keep
    // recall close to plain IVF on the fixture
    val q8Tight = Similarity.ivfTopKQ8(emb, queries, 3, nCentroids = 4, nProbe = 2,
        kmeansIters = 2, rerank = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect q8Tight).size.toDouble / ivf.size
    assert(recall > 0.6, s"q8 tight-rerank recall vs ivf: $recall")
  }

  test("IVF-PQ matches plain IVF given a full rerank budget") {
    val queries = col("vec_id") < 10
    // rerank >= corpus: ADC only pre-orders candidates within the same
    // probed cells, so the exact rerank must reproduce plain IVF
    // bit-for-bit (sim and rank included)
    val ivf = Similarity.ivfTopK(emb, queries, 3, nCentroids = 4, nProbe = 2,
        kmeansIters = 2)
      .select("query_id", "neighbor_id", "sim", "rank")
      .collect().map(_.toSeq).toSet
    val pqFull = Similarity.ivfPqTopK(emb, queries, 3, nCentroids = 4, nProbe = 2,
        kmeansIters = 2, nSub = 4, kSub = 4, rerank = 64)
      .select("query_id", "neighbor_id", "sim", "rank")
      .collect().map(_.toSeq).toSet
    assert(pqFull == ivf, s"PQ with full rerank diverged: ${pqFull diff ivf}")
  }

  test("IVF-PQ tight rerank: planted duplicate survives the ADC cut; recall holds") {
    // vec 1 copies vec 0: identical subvectors → identical codes, so
    // its ADC score ties the query's own self-similarity class and it
    // survives any rerank >= 1, then exact-reranks to the top
    val top = Similarity.ivfPqTopK(emb, col("vec_id") === 0, 3,
        nCentroids = 4, nProbe = 2, kmeansIters = 2,
        nSub = 4, kSub = 4, rerank = 3).orderBy("rank").collect()
    assert(top.nonEmpty)
    assert(top(0).getLong(1) == 1L && top(0).getDouble(2) == 1.0)
    val queries = col("vec_id") < 10
    val ivf = Similarity.ivfTopK(emb, queries, 3, nCentroids = 4, nProbe = 2,
        kmeansIters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqTight = Similarity.ivfPqTopK(emb, queries, 3, nCentroids = 4, nProbe = 2,
        kmeansIters = 2, nSub = 4, kSub = 4, rerank = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect pqTight).size.toDouble / ivf.size
    assert(recall > 0.5, s"PQ tight-rerank recall vs ivf: $recall")
  }

  test("IVF-PQ is deterministic across invocations") {
    def run() = Similarity.ivfPqTopK(emb, col("vec_id") < 5, 3,
        nCentroids = 4, nProbe = 2, kmeansIters = 2,
        nSub = 4, kSub = 4, rerank = 8)
      .select("query_id", "neighbor_id", "sim", "rank")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(run() == run())
  }

  test("MRL coarse-to-fine equals brute force under a full rerank budget") {
    // rerank >= corpus size → the coarse cut discards nothing and the
    // exact rerank must reproduce brute force bit-for-bit
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 3, 5)
      .select("query_id", "neighbor_id", "sim", "rank")
      .collect().map(_.toSeq).toSet
    val mrl = Similarity.mrlTopK(emb, col("vec_id") < 3, 5,
        coarseDims = 8, rerank = 30)
      .select("query_id", "neighbor_id", "sim", "rank")
      .collect().map(_.toSeq).toSet
    assert(mrl == brute)
  }

  test("MRL recall under a tight rerank budget: planted duplicate still rank 1") {
    val r = Similarity.mrlTopK(emb, col("vec_id") === 1, 3,
        coarseDims = 8, rerank = 5).collect()
    // vec 0 is an exact copy of the query — its 8-dim prefix cosine is
    // 1.0, so it survives any coarse cut and reranks to the top
    val top = r.find(_.getLong(3) == 1L).get
    assert(top.getLong(1) == 0L && top.getDouble(2) == 1.0)
    // tight budget returns at most rerank candidates
    assert(r.length <= 3)
  }

  test("trained-codebook IVF recall vs brute force on all queries") {
    val queries = col("vec_id") < 30 // every vector queries
    val brute = Similarity.bruteForceTopK(emb, queries, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 3, nCentroids = 4, nProbe = 2,
        kmeansIters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // 2 probes of 4 trained cells: each query scans ~half the corpus
    assert(recall > 0.4, s"recall $recall")
  }

  test("LSH-blocked embedding dedup finds duplicates across label blocks") {
    // vec 1 is an exact copy of vec 0 but carries a different label, so
    // label blocking misses the pair; identical vectors share every
    // hyperplane sign, so bucket blocking must find it.
    val labelBlocked = Similarity.embeddingDupPairs(emb, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!labelBlocked.contains((0L, 1L)))
    val lshBlocked = Similarity.embeddingDupPairsLsh(emb, 0.99,
        nPlanes = 4, dim = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lshBlocked.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
  }

  test("int8 quantization: q range bounded, per-element error under one LSB") {
    val rows = Similarity.quantizeSummary(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)))
    assert(rows.length == 30)
    for ((id, scale6, qMin, qMax, err6) <- rows) {
      assert(qMin >= -127 && qMax <= 127, s"vec $id q out of int8 range")
      // floor error < 1 LSB per element; 16 dims; scale = scale6/1e6 (floored)
      // → total error strictly under 16 * (scale6 + 1) / 127 (in millionths)
      assert(err6 <= 16L * (scale6 + 1) / 127 + 16, s"vec $id err $err6 vs scale $scale6")
      assert(err6 >= 0)
    }
    // deterministic across runs
    val again = Similarity.quantizeSummary(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)))
    assert(rows.toSeq == again.toSeq)
  }

  test("semanticDedup: planted duplicate suppressed by its min-id twin, cells consistent") {
    val out = Similarity.semanticDedup(emb, 0.99, nCentroids = 4,
      kmeansIters = 2, trainPred = col("vec_id") % 2 === 0).collect()
    assert(out.length == 30) // one verdict row per vector
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toMap
    // the exact copy (vec 1 == vec 0) shares vec 0's cell and drops to it
    assert(byId(1L)._1 == byId(0L)._1)
    assert(byId(1L)._2.contains(0L) && byId(1L)._3 == 0L)
    // vec 0 has no smaller-id match: kept
    assert(byId(0L)._2.isEmpty && byId(0L)._3 == 1L)
    // dup_of is always a smaller id; kept verdict consistent with dup_of
    out.foreach { r =>
      if (!r.isNullAt(2)) assert(r.getLong(2) < r.getLong(0) && r.getLong(3) == 0L)
      else assert(r.getLong(3) == 1L)
    }
    // at threshold 1.01 (unreachable) everything is kept
    val none = Similarity.semanticDedup(emb, 1.01, nCentroids = 4)
    assert(none.filter(col("kept") === 0).count() == 0)
    spark.catalog.clearCache()
  }

  test("embedding dup pairs: the planted duplicate pair is found at threshold 0.99") {
    val pairs = Similarity.embeddingDupPairs(emb, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // label blocking: vec 0 has label 0, its copy vec 1 has label 1 →
    // blocked apart! Build an unblocked check via same-label copy instead.
    assert(!pairs.exists(p => p._1 == 0L && p._2 == 1L))
    val emb2 = emb.union(Seq((100L,
      emb.filter(col("vec_id") === 3).collect()(0).getSeq[Float](1).toArray, 0)).toDF)
    val pairs2 = Similarity.embeddingDupPairs(emb2, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs2.exists(p => p._1 == 3L && p._2 == 100L && p._3 == 1.0))
  }

  test("ivfCellStats: every vector lands in one cell; shares are basis-point exact") {
    val got = Similarity.ivfCellStats(emb, 4, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).sum == 30L)          // partition of the corpus
    assert(got.forall(_._4 == 30L))           // shared total rides along
    got.foreach { case (_, n, bp, tot) => assert(bp == n * 10000 / tot) }
    assert(got.map(_._1).distinct.length == got.length) // one row per cell
  }

  test("codebook memo: keyed reuse returns identical results; keys do not collide") {
    Similarity.clearCodebookMemo()
    try {
      val fresh = Similarity.ivfTopK(emb, col("vec_id") < 3, 5, 4, 2, 2)
        .orderBy("query_id", "rank").collect().toSeq
      val memo1 = Similarity.ivfTopK(emb, col("vec_id") < 3, 5, 4, 2, 2,
        cacheKey = Some("specA")).orderBy("query_id", "rank").collect().toSeq
      val memo2 = Similarity.ivfTopK(emb, col("vec_id") < 3, 5, 4, 2, 2,
        cacheKey = Some("specA")).orderBy("query_id", "rank").collect().toSeq
      assert(memo1 == fresh)   // first keyed call trains the same book
      assert(memo2 == fresh)   // second serves from the memo, same result
      // a DIFFERENT corpus under a DIFFERENT key must not see specA's book:
      // train params identical, corpus disjoint — results must reflect ITS data
      val other = emb.withColumn("embedding",
        expr("transform(embedding, x -> CAST(-x AS FLOAT))"))
      val otherFresh = Similarity.ivfTopK(other, col("vec_id") < 3, 5, 4, 2, 2)
        .orderBy("query_id", "rank").collect().toSeq
      val otherMemo = Similarity.ivfTopK(other, col("vec_id") < 3, 5, 4, 2, 2,
        cacheKey = Some("specB")).orderBy("query_id", "rank").collect().toSeq
      assert(otherMemo == otherFresh)
      // params are part of the tag: same key, different k-means rounds retrain
      val moreIters = Similarity.ivfTopK(emb, col("vec_id") < 3, 5, 4, 2, 4,
        cacheKey = Some("specA")).orderBy("query_id", "rank").collect().toSeq
      val moreFresh = Similarity.ivfTopK(emb, col("vec_id") < 3, 5, 4, 2, 4)
        .orderBy("query_id", "rank").collect().toSeq
      assert(moreIters == moreFresh)
    } finally Similarity.clearCodebookMemo()
  }

  test("incremental assignment: arrivals land in the corpus-trained cells") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 20)
    // arrival 100 is an exact copy of corpus vec 0; arrival 101 copies vec 7
    val src = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val arrivals = Seq((100L, src(0L), 0), (101L, src(7L), 0))
      .toDF("vec_id", "embedding", "label")
    val placed = Similarity.assignIncremental(corpus, arrivals, 4, 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(placed.keySet == Set(100L, 101L))
    // arrivals land inside the corpus-trained book (ivfCellStats reads
    // the exact index the corpus occupies)
    val cells = Similarity.ivfCellStats(corpus, 4, 2).collect().map(_.getLong(0)).toSet
    assert(placed.values.forall { case (cell, _) => cells.contains(cell) })
    // determinism: same result across partitionings
    val again = Similarity.assignIncremental(corpus.repartition(3),
      arrivals.repartition(2), 4, 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(again == placed)
  }

  test("hardNegatives: rank 1 is the positive, ranks 2+ become margined negatives") {
    import spark.implicits._
    val topk = Seq(
      (0L, 10L, 0.9, 1L), (0L, 11L, 0.7, 2L), (0L, 12L, 0.4, 3L),
      (1L, 20L, 0.8, 1L), (1L, 21L, 0.8, 2L) // zero-margin tie survives
    ).toDF("query_id", "neighbor_id", "sim", "rank")
    val got = Similarity.hardNegatives(topk).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(
      (0L, 10L, 11L, 2L, 2000L),
      (0L, 10L, 12L, 3L, 5000L),
      (1L, 20L, 21L, 2L, 0L)))
  }

  test("ivfTopKStale: arrivals searchable through the stale book; empty batch equals fresh IVF") {
    val corpus = emb.filter(col("vec_id") < 25)
    val arrivals = emb.filter(col("vec_id") >= 25)
    // probe every cell: the candidate set is the full union population,
    // so all 29 other vectors — arrivals included — must rank
    val stale = Similarity.ivfTopKStale(corpus, arrivals, col("vec_id") === 0,
      k = 29, nCentroids = 4, nProbe = 4).collect()
    assert(stale.length == 29)
    assert(stale.minBy(_.getLong(3)).getLong(1) == 1L) // planted dup leads
    assert((25L until 30L).forall(a => stale.exists(_.getLong(1) == a)))
    // an empty arrival batch makes the stale path plain ivfTopK
    val none = arrivals.filter(col("vec_id") < 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val a = Similarity.ivfTopKStale(corpus, none, col("vec_id") === 0,
      k = 5, nCentroids = 4, nProbe = 2).collect().map(key).toSet
    val b = Similarity.ivfTopK(corpus, col("vec_id") === 0,
      k = 5, nCentroids = 4, nProbe = 2).collect().map(key).toSet
    assert(a == b)
    // escaped-cache hygiene: the searches above persisted bases that
    // the returned plans still reference; the release hook must
    // unpersist every one of them (long-lived-server contract,
    // ADVICE r11 — ivfTopKStale's union base used to leak)
    // (no drained-to-zero assert: the queue is process-global and
    // other suites may register concurrently)
    assert(Similarity.releaseEscapedCaches() >= 3)
  }

  test("recallStalenessPair (fused dual-book training) ≡ the two-arm recallAtK composition") {
    // the r16 fused trainer must leave the pair value-identical to two
    // independent arms built from the PUBLIC operators: placed =
    // recall of ivfTopKStale (book trained on corpusPred rows only),
    // rebuilt = recall of ivfTopK (fresh full-population book)
    val corpusPred = col("vec_id") < 25
    val qp = col("vec_id") < 5
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val pair = Similarity.recallStalenessPair(emb, corpusPred, qp,
        k = 5, maxQueries = 3, nCentroids = 4, nProbe = 2)
      .collect().map(key).toSet
    val placed = Similarity.recallAtK(emb, qp, 5, 3,
        p => Similarity.ivfTopKStale(emb.filter(corpusPred),
          emb.filter(!corpusPred), p, 5, nCentroids = 4, nProbe = 2))
      .withColumn("variant", org.apache.spark.sql.functions.lit("placed"))
      .collect().map(key).toSet
    val rebuilt = Similarity.recallAtK(emb, qp, 5, 3,
        p => Similarity.ivfTopK(emb, p, 5, nCentroids = 4, nProbe = 2))
      .withColumn("variant", org.apache.spark.sql.functions.lit("rebuilt"))
      .collect().map(key).toSet
    assert(pair == (placed ++ rebuilt))
    Similarity.releaseEscapedCaches()
  }

  test("placeIntoBook: stateless placement equals the relational incremental assignment") {
    val corpus = emb.filter(col("vec_id") % 10 < 8)
    val arrivals = emb.filter(col("vec_id") % 10 >= 8)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    val relational = Similarity.assignIncremental(corpus, arrivals, 4, 2)
      .collect().map(key).toSet
    val cents = Similarity.trainCodebook(corpus, 4, 2, expr("vec_id % 2 = 0"))
    val placed = Similarity.placeIntoBook(arrivals, cents).collect().map(key).toSet
    assert(placed == relational)
    // zero-norm arrival: cell 0, NULL confidence (the shared tie rule)
    import spark.implicits._
    val zero = Seq((999L, Array.fill(16)(0f))).toDF("vec_id", "embedding")
    val z = Similarity.placeIntoBook(zero, cents).collect()(0)
    assert(z.getLong(1) == cents.head._1 && z.isNullAt(2))
  }

  test("recallAtK: maxQueries bounds the sampled query set deterministically") {
    // pred matches 10 queries; the bound keeps the smallest 4 vec_ids
    val pred = col("vec_id") < 10
    val bounded = Similarity.recallAtK(emb, pred, 5, maxQueries = 4,
      qp => Similarity.bruteForceTopK(emb, qp, 5)).collect()
    assert(bounded.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    // approx == brute on the same bounded set → perfect recall
    assert(bounded.forall(_.getLong(2) == 10000L))
    // a non-binding bound evaluates every matching query
    val full = Similarity.recallAtK(emb, pred, 5, maxQueries = 100,
      qp => Similarity.lshBucketTopK(emb, qp, 5, nPlanes = 4, dim = 16))
    assert(full.count() == 10)
    // bounded evaluation equals the full evaluation restricted to the
    // sampled queries — sampling changes cost, never per-query values
    val fullOnSample = full.filter(col("query_id") < 4).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val boundedLsh = Similarity.recallAtK(emb, pred, 5, maxQueries = 4,
      qp => Similarity.lshBucketTopK(emb, qp, 5, nPlanes = 4, dim = 16))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(boundedLsh == fullOnSample)
  }

  test("bad-book guard: pinned low-recall books refuse construction") {
    // the two r13-vetoed books (recall_maxq50_r13.json: 7.6% / 1.2%
    // mean recall@10) — until r14 the veto lived only in a COVERAGE.md
    // sentence; now construction itself refuses them
    val e1 = intercept[IllegalArgumentException] {
      Similarity.lshBucketTopK(emb, col("vec_id") === 0, 5,
        nPlanes = 6, dim = 16, nTables = 1)
    }
    assert(e1.getMessage.contains("recall") &&
      e1.getMessage.contains("lsh:tables=1,planes=6"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, col("vec_id") === 0, 3, nCentroids = 4,
        nProbe = 2, kmeansIters = 2, nSub = 4, kSub = 4, rerank = 50)
    }
    assert(e2.getMessage.contains("recall") &&
      e2.getMessage.contains("ivfpq:nsub=4,ksub=4,rerank=50"))
  }

  test("IVF search refuses an nProbe past the codebook's cells") {
    // a fifth probe of a 4-cell book would be a NULL cell id that no
    // vector matches, silently searching fewer cells than asked
    try {
      val e1 = intercept[IllegalArgumentException] {
        Similarity.ivfTopK(emb, col("vec_id") === 0, 3, nCentroids = 4, nProbe = 5)
      }
      assert(e1.getMessage.contains("nProbe (5)"), e1.getMessage)
      val eq8 = intercept[IllegalArgumentException] {
        Similarity.ivfTopKQ8(emb, col("vec_id") === 0, 3, nCentroids = 4, nProbe = 5)
      }
      assert(eq8.getMessage.contains("nProbe (5)"), eq8.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        Similarity.recallStalenessPair(emb, col("vec_id") < 25, col("vec_id") < 5,
          k = 5, maxQueries = 3, nCentroids = 4, nProbe = 5)
      }
      assert(e2.getMessage.contains("nProbe (5)"), e2.getMessage)
    } finally Similarity.releaseEscapedCaches()
  }
}
