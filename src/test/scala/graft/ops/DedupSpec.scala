package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Dedup operators on a fixture with planted duplicates. */
class DedupSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  // doc 0/1: exact dups (modulo case/punctuation); doc 2: near-dup of 0
  // (one token changed); doc 3/4: unrelated
  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "The quick brown fox jumps over the lazy dog, again and again today!"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "completely different content about spark query engines and shuffles here"),
    (4L, "yet another unrelated document mentioning parquet row groups and stats")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/punctuation-normalized duplicates") {
    val groups = Dedup.exact(docs).collect()
    assert(groups.length == 4) // 0+1 merged
    val dup = groups.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 0L) // keeper = min doc_id
  }

  test("ngram Jaccard finds the planted near-dup pair with high similarity") {
    val pairs = Dedup.ngramJaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // exact dups: jaccard 1.0
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    // near-dup (one token of 13 changed): high but < 1
    assert(pairs.exists(p => p._1 == 0L && p._2 == 2L && p._3 > 0.5 && p._3 < 1.0))
    // unrelated docs never pair
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH finds the same high-similarity pairs as the exact path") {
    val exact = Dedup.ngramJaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banded LSH with j>=0.5 and r=2: collision prob >= 1-(1-0.25)^4 ≈ 0.68
    // per pair; on this fixture all three true pairs collide.
    assert(lsh == exact)
  }

  test("simhash: identical texts get identical signatures; near-dups are close") {
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // docs 0 and 2 share 12 of 13 raw tokens → close signatures
    assert(ham(sig(0L), sig(2L)) <= 6)
    // unrelated docs are farther apart than the near-dups
    assert(ham(sig(0L), sig(3L)) > ham(sig(0L), sig(2L)))
    assert(sig.values.forall(s => s >= 0 && s <= 0xffffffffL))
  }

  test("dropNearDuplicates keeps one representative per duplicate cluster") {
    val kept = Dedup.dropNearDuplicates(docs, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // pairs at >=0.5: (0,1), (0,2), (1,2) → 1 and 2 dropped, 0 kept
    assert(kept == Set(0L, 3L, 4L))
  }

  test("simhashPairs blocks on maxHamming+1 chunks and returns hamming distances") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((0L, 2L)))
    assert(pairs((0L, 2L)) <= 8)
  }

  test("duplicateClusters labels chained components exactly (transitive closure)") {
    import spark.implicits._
    // chain 1-2-3 (no 1-3 edge), pair 7-9, isolated edge 4-5
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      4L -> 4L, 5L -> 4L))
    // a longer path exercises multiple propagation rounds
    val path = (0 until 9).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(0L) && labels.size == 10)
  }

  test("duplicateClusters small-graph fast path agrees with the distributed loop") {
    import spark.implicits._
    // a component mixing chain + cycle + cross-edge, plus two pairs
    val pairs = Seq((5L, 9L), (9L, 2L), (2L, 5L), (9L, 11L), (20L, 21L),
      (30L, 31L), (31L, 30L)).toDF("doc_a", "doc_b")
    def run(threshold: Int) = Dedup.duplicateClusters(pairs, smallGraphEdges = threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = run(1000000)
    val dist = run(0) // threshold 0 disables the fast path entirely
    assert(fast == dist)
    assert(fast == Map(5L -> 2L, 9L -> 2L, 2L -> 2L, 11L -> 2L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
    // string keys: min label under UTF8-binary ordering
    val sp = Seq(("b", "a"), ("c", "b"), ("z", "y")).toDF("doc_a", "doc_b")
    val sGot = Dedup.duplicateClusters(sp).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sGot == Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "y", "y" -> "y"))
  }

  test("suppressBlocklist rejects sizing past the bloom clamp confs (loud, not silent)") {
    val corpus = Seq((0L, "x", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val bl = Seq((1L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.suppressBlocklist(corpus, bl, estItems = 1L << 40, numBits = 1L << 23)
    }
    assert(e.getMessage.contains("maxNumItems"))
  }

  test("duplicateClusters with a reliable checkpoint dir converges identically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (4L, 5L)).toDF("doc_a", "doc_b")
      val got = Dedup.duplicateClusters(pairs, checkpointDir = Some(dir)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
        4L -> 4L, 5L -> 4L))
      // the durable round state actually hit the checkpoint dir
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, s"no checkpoint data under $dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("editDistancePairs: exact distances on planted edits; prefix-block miss documented") {
    val fixture = Seq(
      (0L, "shared sixteen ch prefix region alpha beta gamma delta"),
      (1L, "shared sixteen ch prefix region alpha beta gamma delt"),  // 1 deletion
      (2L, "shared sixteen ch prefix region alpha beta gamma DELTA!"), // norm-equal to 0
      (3L, "Xhared sixteen ch prefix region alpha beta gamma delta"),  // edit INSIDE block → missed
      (4L, "completely unrelated words that share no prefix at all ok")
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(fixture, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) == 1L)  // one deleted char
    assert(pairs((0L, 2L)) == 0L)  // normalization equalizes case/punct
    assert(pairs((1L, 2L)) == 1L)
    // doc 3 differs only in the first block char: blocking misses it —
    // the documented sorted-neighborhood tradeoff
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("incrementalSuppress: existing authority, batch-internal keep-first, min attribution") {
    // existing corpus: docs 0 and 3; incoming batch: 10 (dup of 0),
    // 11 (unique), 12 and 13 (near-dups of each other, not of existing),
    // 14 (dup of BOTH existing 0 and incoming 10 → min authority = 0)
    val existing = docs.filter($"doc_id" isin (0L, 3L))
    val incoming = Seq(
      (10L, "The quick brown fox jumps over the lazy dog, again and again today!"),
      (11L, "entirely novel words never seen before in any accepted document batch"),
      (12L, "repeated boilerplate paragraph from a crawler loop detected here often"),
      (13L, "repeated boilerplate paragraph from a crawler loop detected here often!"),
      (14L, "the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalSuppress(existing, incoming, 0.8)
      .collect().map(x => x.getLong(0) ->
        ((Option(x.get(1)).map(_.asInstanceOf[Long]), x.getLong(2)))).toMap
    assert(r(10L) == ((Some(0L), 0L)))   // suppressed by existing doc 0
    assert(r(11L) == ((None, 1L)))       // kept
    assert(r(12L) == ((None, 1L)))       // first of the intra-batch pair
    assert(r(13L) == ((Some(12L), 0L)))  // suppressed by earlier incoming
    assert(r(14L) == ((Some(0L), 0L)))   // min over {existing 0, incoming 10}
    assert(r.size == 5)
  }

  test("incrementalSuppress with empty existing corpus equals dropNearDuplicates") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = Dedup.incrementalSuppress(
        corpus.filter(org.apache.spark.sql.functions.lit(false)), corpus, 0.8)
      .filter($"kept" === 1L).select("doc_id").as[Long].collect().toSet
    val expected = Dedup.dropNearDuplicates(corpus, 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expected)
  }

  test("duplicateBlockStats: cross-doc shared blocks counted, within-doc repeats distinct, short docs zero") {
    val d = Seq(
      (0L, "a b c d e f"),          // blocks(3): [a b c][d e f]
      (1L, "a b c x y z"),          // shares [a b c] with doc 0
      (2L, "p q"),                  // no complete block
      (3L, "a b c a b c a b c")     // one DISTINCT block, shared cross-doc
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateBlockStats(d, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((2L, 1L, 5000L)))
    assert(out(1L) == ((2L, 1L, 5000L)))
    assert(out(2L) == ((0L, 0L, 0L)))
    assert(out(3L) == ((1L, 1L, 10000L)))
  }

  test("applySpanDedup trims exactly the union of duplicated span windows") {
    // n=3 grams: docs 0/1 share [c d e] (positions 2 and 0) — doc 0
    // loses tokens 2-4, doc 1 loses 0-2; doc 2 shares nothing; doc 3
    // repeats a gram only WITHIN itself (not cross-doc → untouched)
    val d = Seq(
      (0L, "a b c d e f g"),
      (1L, "c d e x y"),
      (2L, "p q r s"),
      (3L, "m n o m n o m n o")
    ).toDF("doc_id", "text")
    val out = Dedup.applySpanDedup(d, 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0L) == ((7L, 4L, fp("a b f g"), 7L)))
    assert(out(1L) == ((5L, 2L, fp("x y"), 3L)))
    assert(out(2L) == ((4L, 4L, fp("p q r s"), 7L)))
    assert(out(3L) == ((9L, 9L, fp("m n o m n o m n o"), 17L)))
    spark.catalog.clearCache()
  }

  test("suppressBlocklist: exact under any bloom sizing, normalization-aware") {
    val corpus = Seq(
      (0L, "the quick brown fox", "en", "s0", 19L),
      (1L, "The QUICK brown fox!", "en", "s1", 20L), // normalizes to blocked
      (2L, "totally fine document", "en", "s2", 21L),
      (3L, "another clean one here", "en", "s3", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val blocklist = Seq((100L, "the quick brown fox"))
      .toDF("doc_id", "text")
    def keptIds(estItems: Long, numBits: Long): Set[Long] =
      Dedup.suppressBlocklist(corpus, blocklist, estItems, numBits)
        .collect().map(_.getLong(0)).toSet
    // both normalized matches drop (no false negatives), clean docs stay
    assert(keptIds(1L << 10, 1L << 13) == Set(2L, 3L))
    // a deliberately SATURATED sketch (8 bits for the whole list → all
    // corpus rows become candidates) changes the path, not the answer:
    // false positives are re-verified by the exact join
    assert(keptIds(1L, 8L) == Set(2L, 3L))
    // empty blocklist keeps everything
    assert(Dedup.suppressBlocklist(corpus, blocklist.filter("doc_id < 0"))
      .count() == 4)
    spark.catalog.clearCache()
  }

  test("simhashPairs recall is exact at the pigeonhole bound") {
    // every pair within the threshold of the brute-force 60-bit
    // signature distance must be produced by the blocked join
    val sig = Dedup.simhash60(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sig.keys.toSeq.sorted
    for (max <- Seq(3, 8)) {
      val brute = (for {
        a <- ids; b <- ids if a < b
        if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= max
      } yield (a, b)).toSet
      val blocked = Dedup.simhashPairs(docs, maxHamming = max)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == brute, s"maxHamming=$max")
    }
  }

  test("containment flags a snippet embedded in a longer page that Jaccard misses") {
    // doc 10: 40-token page; doc 11: its first 12 tokens verbatim —
    // every snippet shingle is in the page, so containment = 1.0 while
    // Jaccard = 10/38 stays under any dedup threshold
    val page = (0 until 40).map(i => s"w$i").mkString(" ")
    val snippet = (0 until 12).map(i => s"w$i").mkString(" ")
    val d = docs.union(Seq((10L, page), (11L, snippet)).toDF("doc_id", "text"))
    val cont = Dedup.containmentPairs(d, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cont.exists(p => p._1 == 10L && p._2 == 11L && p._3 == 1.0))
    assert(!Dedup.ngramJaccardPairs(d, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet.contains((10L, 11L)))
    // exact dups 0/1 remain containment pairs (containment >= jaccard)
    assert(cont.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    spark.catalog.clearCache()
  }

  test("containment recall ceiling: overlap only above maxDf is declared out of scope") {
    // 40 copies of one text -> every shingle has df 40 > ceiling 32
    val many = (100L until 140L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(many, 0.5, maxDf = 32).count() == 0)
    assert(Dedup.containmentPairs(many, 0.5, maxDf = 64).count() == 40L * 39 / 2)
    spark.catalog.clearCache()
  }
}
