package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval over the document corpus — the search-engine
  * face of the text family (the reference is a query engine; keyword
  * retrieval is the first thing its users layer on a text column, and
  * BM25 is the standard scoring function).
  *
  * Cross-engine exactness, by construction:
  *  - idf is the WHOLE-BIT integer surrogate (the LM-surprisal trick):
  *    idf = len(bin((N + 1) div (df + 1))) − 1 = floor(log₂((N+1)/(df+1)))
  *    — integer arithmetic, no transcendental ln whose low bits differ
  *    across engines.
  *  - the tf saturation term runs in DOUBLE with the identical
  *    operation order as the oracle text (k1 = 1.2, b = 0.75 literal),
  *    and each TERM contribution is floored to 1e-6 micros BEFORE the
  *    per-document sum — so the sum is an integer sum, order- and
  *    partitioning-independent (a raw double sum would hash-diverge on
  *    accumulation order).
  *  - ranks tie-break by doc_id ascending: total order, engine-free.
  *
  * Shape at scale: queries are a literal relation (broadcast); only
  * documents CONTAINING a query term enter the join (posting-list
  * selectivity); corpus constants (N, total length) attach as a 1-row
  * broadcast. One grouped sum + one per-query top-k window — the
  * window partitions by query, never globally.
  */
object Search {

  /** The deterministic query workload — ONE definition feeds the Spark
    * plan AND the oracle's VALUES list (the MIX_TARGETS convention). */
  val QUERY_SET: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join", "fast"),
    2L -> Seq("hash", "table", "scan"),
    3L -> Seq("window", "sort", "stream"),
    4L -> Seq("vector", "merge", "dup"),
    5L -> Seq("the", "slow", "query"))

  /** (doc_id, term, tf) via the fused normalize+tokenize+count walk —
    * the Terms.termFreq derivation (normText tokens, exact
    * multiplicities, no token-level explode). */
  private def termFreq(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        explode(call_function("norm_ngram_counts", col("text"), lit(1))))
      .select(col("doc_id"), col("key").as("term"), col("value").as("tf"))
  }

  /** Top-k BM25 results per query over `docs`.
    * Output: (query_id, doc_id, score6, rank). */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, Seq[String])] = QUERY_SET,
      k: Int = 10): DataFrame = {
    require(k >= 1 && queries.nonEmpty, s"need k >= 1 and queries, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    // Posting-list shape (optimization r17, guide §2.3 "shuffle fewer
    // bytes" / §5): the old plan materialized the FULL (doc, term, tf)
    // relation — vocabulary × corpus rows — into a MEMORY_AND_DISK
    // cache and aggregated it three times (dl, df, consts) before the
    // query-term filter ever ran. Only postings of the ~15 query
    // terms score anything, and dl / n_docs / total are per-doc or
    // global facts that never need the exploded relation:
    //  - dl  = sum of the doc's norm_ngram_counts map values, computed
    //    in-row on the SAME scan that explodes the map (identical to
    //    the old sum(tf) group — the map IS the per-doc tf relation);
    //  - df of a query term over the filtered postings ≡ its full-
    //    corpus df (filtering by term keeps every doc containing it) —
    //    a window count over the tiny filtered relation;
    //  - n_docs / total from one map-only aggregation pass (a doc
    //    enters the old dl relation iff its token map is non-empty).
    // Two stateless corpus scans replace scan + vocab-scale cache +
    // three passes; nothing data-scale is exchanged or persisted.
    val qset = queries.flatMap(_._2).distinct
    def counted(d: DataFrame) = d.select(col("doc_id"),
      call_function("norm_ngram_counts", col("text"), lit(1)).as("m"))
    val spread = graft.ops.Dedup.spreadDocs(docs)
    val dlOf = expr("aggregate(map_values(m), CAST(0 AS BIGINT), (a, x) -> a + x)")
    val consts = counted(spread).agg(
      count(when(size(col("m")) > 0, lit(1))).as("n_docs"),
      sum(dlOf).as("total"))
    val postings = counted(spread)
      .select(col("doc_id"), dlOf.as("dl"), explode(col("m")).as(Seq("term", "tf")))
      .filter(col("term").isin(qset: _*))
    val qterms = queries.flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("query_id", "term")
    val scored = postings
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(broadcast(qterms), "term")
      .join(broadcast(consts))
      .withColumn("idf",
        (length(bin(expr("(n_docs + 1) div (df + 1)"))) - 1).cast("long"))
      .withColumn("avgdl", col("total").cast("double") / col("n_docs"))
      .withColumn("sc6", floor(
        col("idf").cast("double") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))) *
          lit(1000000)).cast("long"))
    val perDoc = scored.groupBy("query_id", "doc_id")
      .agg(sum("sc6").as("score6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score6").desc, col("doc_id").asc)
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "score6", "rank")
  }

  /** The oracle-side VALUES list rendered from [[QUERY_SET]]. */
  def querySetSql: String =
    QUERY_SET.flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")

  /** The deterministic phrase workload — includes a repeated-term
    * phrase (5) so the alignment logic is exercised, not just
    * distinct-term joins. */
  val PHRASE_SET: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("fast", "table"),
    2L -> Seq("scan", "query"),
    3L -> Seq("window", "stream", "sort"),
    4L -> Seq("the", "slow", "query"),
    5L -> Seq("value", "value"))

  /** Exact phrase search via a POSITIONAL inverted index — the query
    * shape BM25's bag-of-words scoring cannot express. The classic
    * alignment trick makes it ONE equality join + one grouped count:
    * every posting (doc, pos, term) matching phrase term i votes for
    * candidate start `pos − i`; a start with `len` votes is a match
    * (postings are unique per (doc, pos), so vote count ≡ matched
    * offsets even with repeated phrase terms).
    *
    * Shape at scale: the phrase vocabulary is a broadcast literal, so
    * only postings of queried terms survive the join (posting-list
    * selectivity) — the corpus-sized tokenize never shuffles; the
    * grouped count runs on the candidate votes only.
    * Output: (phrase_id, doc_id, n_matches, first_pos). */
  def phraseSearch(docs: DataFrame,
      phrases: Seq[(Long, Seq[String])] = PHRASE_SET): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty), "phrases required")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("doc_id"),
      posexplode(expr("regexp_extract_all(text, '\\\\S+', 0)")).as(Seq("pos", "tok")))
    val q = phrases.flatMap { case (pid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (pid, i, t) }
    }.toDF("phrase_id", "idx", "term")
    val plen = phrases.map { case (pid, ts) => (pid, ts.size) }
      .toDF("phrase_id", "len")
    toks.join(broadcast(q), col("tok") === col("term"))
      .select(col("phrase_id"), col("doc_id"),
        (col("pos") - col("idx")).cast("long").as("start"))
      .groupBy("phrase_id", "doc_id", "start")
      .agg(count(lit(1)).as("c"))
      .join(broadcast(plen), "phrase_id")
      .filter(col("c") === col("len"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_matches"), min("start").as("first_pos"))
  }

  /** Oracle twin of [[phraseSearch]]: same vote-and-count alignment
    * over 0-based positions from the same `\S+` tokenizer. */
  def phraseOracleSql(phrases: Seq[(Long, Seq[String])] = PHRASE_SET): String = {
    val vals = phrases.flatMap { case (pid, ts) =>
      ts.zipWithIndex.map { case (t, i) => s"($pid, $i, '$t')" }
    }.mkString(", ")
    s"""WITH a AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS arr
       |  FROM documents),
       |p AS (SELECT doc_id, arr, unnest(range(len(arr))) AS pos FROM a),
       |t AS (SELECT doc_id, pos, arr[pos + 1] AS tok FROM p),
       |q AS (SELECT * FROM (VALUES $vals) AS q(phrase_id, idx, term)),
       |pl AS (SELECT phrase_id, count(*) AS plen FROM q GROUP BY 1),
       |m AS (SELECT q.phrase_id, t.doc_id, t.pos - q.idx AS start
       |  FROM t JOIN q ON t.tok = q.term),
       |g AS (SELECT phrase_id, doc_id, start, count(*) AS c
       |  FROM m GROUP BY 1, 2, 3)
       |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
       |  count(*) AS n_matches, CAST(min(start) AS BIGINT) AS first_pos
       |FROM g JOIN pl USING (phrase_id) WHERE c = plen
       |GROUP BY 1, 2""".stripMargin
  }

  /** The deterministic misspelled-query workload: one deletion, one
    * substitution-shaped miss, one insertion, one exact hit, one
    * no-match — the edit classes a distance-1 lookup must cover. */
  val FUZZY_QUERIES: Seq[(Long, String)] = Seq(
    1L -> "sprk",   // deletion of 'spark'
    2L -> "windw",  // deletion of 'window'
    3L -> "joinn",  // insertion on 'join'
    4L -> "scan",   // exact
    5L -> "qzx")    // no vocabulary term within distance 1

  /** Typo-tolerant term lookup via a DELETION-NEIGHBORHOOD index (the
    * SymSpell construction): every vocabulary term emits itself plus
    * its |t| single-deletion variants; a query does the same; an
    * equality join on variants yields every pair within deletion
    * distance 1 per side — a superset of levenshtein ≤ 1 (covers
    * substitution = same-position deletions, insertion, deletion,
    * exact) — and an exact `levenshtein` verify prunes the distance-2
    * residue. Candidate generation is therefore an equality join on
    * bounded keys, never an all-pairs distance scan (the dedup_editdist
    * discipline applied to search).
    *
    * Shape at scale: the vocabulary index is |vocab| · (len+1) rows —
    * the classic SymSpell space-for-time trade, grouped/joined on
    * hashable strings; the query side is a broadcast literal. Output:
    * (query_id, q, term, dist, df) for every vocabulary term within
    * `maxDist`. */
  def fuzzyLookup(docs: DataFrame,
      queries: Seq[(Long, String)] = FUZZY_QUERIES,
      maxDist: Int = 1): DataFrame = {
    require(queries.nonEmpty && maxDist == 1,
      s"distance-1 neighborhood index, got maxDist=$maxDist")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = docs.select(col("doc_id"),
        explode(call_function("norm_ngram_counts", col("text"), lit(1))))
      .select(col("doc_id"), col("key").as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    def withVariants(df: DataFrame, c: String): DataFrame = df
      .withColumn("i", explode(sequence(lit(0), length(col(c)))))
      .withColumn("variant", when(col("i") === 0, col(c))
        .otherwise(expr(s"concat(substring($c, 1, i - 1), substring($c, i + 1))")))
    val vIdx = withVariants(vocab, "term").select("term", "df", "variant")
    val qIdx = withVariants(queries.toDF("query_id", "q"), "q")
      .select("query_id", "q", "variant")
    qIdx.join(vIdx, "variant")
      .select(col("query_id"), col("q"), col("term"), col("df"),
        levenshtein(col("q"), col("term")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Oracle twin of [[fuzzyLookup]] over the shared normalized-token
    * CTE chain (`normExpr` renders the corpus normalization). */
  def fuzzyOracleSql(normExpr: String,
      queries: Seq[(Long, String)] = FUZZY_QUERIES): String = {
    val vals = queries.map { case (id, q) => s"($id, '$q')" }.mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split($normExpr, ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term FROM tok WHERE term <> '' GROUP BY 1, 2),
       |vocab AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |vidx AS (
       |  SELECT term, df, term AS variant FROM vocab
       |  UNION ALL
       |  SELECT term, df, substr(term, 1, i - 1) || substr(term, i + 1) AS variant
       |  FROM vocab, unnest(range(1, length(term) + 1)) AS u(i)),
       |q AS (SELECT * FROM (VALUES $vals) AS q(query_id, q)),
       |qidx AS (
       |  SELECT query_id, q, q AS variant FROM q
       |  UNION ALL
       |  SELECT query_id, q, substr(q, 1, i - 1) || substr(q, i + 1) AS variant
       |  FROM q, unnest(range(1, length(q) + 1)) AS u(i))
       |SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, q, term, df,
       |  CAST(levenshtein(q, term) AS BIGINT) AS dist
       |FROM qidx JOIN vidx USING (variant)
       |WHERE levenshtein(q, term) <= 1""".stripMargin
  }
}
