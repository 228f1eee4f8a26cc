package graft.functions

/** graft's native expressions, installed in every session by
  * [[GraftExtensions]].
  *
  * One wiring path: `GraftExtensions` is a
  * `SparkSessionExtensionsProvider` listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so `SparkSession.Builder` loads it for every session it builds (and
  * `newSession()` inherits it). Nothing registers functions on a live
  * session.
  */
object GraftFunctions {

  private type Builder =
    Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression

  /** Single source of truth: (name, expression class, builder) —
    * adding an expression here is the only step. */
  private val fns: Seq[(String, Class[_], Builder)] = Seq(
    ("shingles3", classOf[Shingles3], exprs => Shingles3(exprs.head)),
    ("shingle_hashes3", classOf[ShingleHashes3], exprs => ShingleHashes3(exprs.head)),
    ("dot_dec", classOf[DotDec], exprs => DotDec(exprs(0), exprs(1))),
    ("text_stats_scan", classOf[TextStats], exprs => TextStats(exprs.head)),
    ("q8_pack", classOf[Q8Pack], exprs => Q8Pack(exprs.head)),
    ("dot_int", classOf[DotInt], exprs => DotInt(exprs(0), exprs(1))),
    ("bpe_count", classOf[BpeCount], exprs => BpeCount(exprs.head)),
    ("lang_scan", classOf[LangScan], exprs => LangScan(exprs.head)),
    ("quality_scan", classOf[QualityScan], exprs => QualityScan(exprs.head)),
    ("word_ngrams", classOf[WordNgrams], exprs => {
      // n is model shape, not data: require a plan-time constant
      require(exprs.length == 2 && exprs(1).foldable,
        "word_ngrams(text, n) requires a literal n")
      val n = exprs(1).eval()
      require(n != null, "word_ngrams(text, n) requires a non-null literal n")
      WordNgrams(exprs.head, n.asInstanceOf[Number].intValue())
    }),
    ("word_ngrams_all", classOf[WordNgramsAll], exprs => {
      // n is model shape, not data: require a plan-time constant
      require(exprs.length == 2 && exprs(1).foldable,
        "word_ngrams_all(text, n) requires a literal n")
      val n = exprs(1).eval()
      require(n != null, "word_ngrams_all(text, n) requires a non-null literal n")
      WordNgramsAll(exprs.head, n.asInstanceOf[Number].intValue())
    }),
    ("word_blocks", classOf[WordBlocks], exprs => {
      // n is model shape, not data: require a plan-time constant
      require(exprs.length == 2 && exprs(1).foldable,
        "word_blocks(text, n) requires a literal n")
      val n = exprs(1).eval()
      require(n != null, "word_blocks(text, n) requires a non-null literal n")
      WordBlocks(exprs.head, n.asInstanceOf[Number].intValue())
    }),
    // Spark's own bloom sketch pair (catalyst aggregate + predicate,
    // the machinery behind runtime row-level join filters), surfaced
    // for explicit blocklist prefiltering: the internal registry hides
    // them from SQL, so they get temp-function entries like ours.
    // The TypedImperativeAggregate buffer here is ONE fixed-size
    // global sketch (numBits caps it), not a per-group value buffer —
    // the bounded-memory objection that bars percentile() from the
    // exact tier does not apply.
    ("bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      exprs => {
        require(exprs.length == 3 && exprs(1).foldable && exprs(2).foldable,
          "bloom_agg(hash, estItems, numBits) requires literal sizes")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2))
      }),
    ("bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1))),
    ("token_counts", classOf[TokenCounts], exprs => TokenCounts(exprs.head)),
    ("norm_ngram_counts", classOf[NormNgramCounts], exprs => {
      // n is model shape, not data: require a plan-time constant
      require(exprs.length == 2 && exprs(1).foldable,
        "norm_ngram_counts(text, n) requires a literal n")
      val n = exprs(1).eval()
      require(n != null, "norm_ngram_counts(text, n) requires a non-null literal n")
      NormNgramCounts(exprs.head, n.asInstanceOf[Number].intValue())
    }),
    ("ngram_counts", classOf[NgramCounts], exprs => {
      // n is model shape, not data: require a plan-time constant
      require(exprs.length == 2 && exprs(1).foldable,
        "ngram_counts(text, n) requires a literal n")
      val n = exprs(1).eval()
      require(n != null, "ngram_counts(text, n) requires a non-null literal n")
      NgramCounts(exprs.head, n.asInstanceOf[Number].intValue())
    }),
    ("sum_micro", classOf[SumMicro], exprs => SumMicro(exprs.head)),
    ("capped_collect", classOf[CappedCollect], exprs => {
      // the cap is a state bound, not data: require a plan-time constant
      require(exprs.length == 2 && exprs(1).foldable,
        "capped_collect(col, cap) requires a literal cap")
      val cap = exprs(1).eval()
      require(cap != null, "capped_collect(col, cap) requires a non-null literal cap")
      CappedCollect(exprs.head, cap.asInstanceOf[Number].intValue())
    }),
    ("bitmap_ndv", classOf[BitmapNdv], exprs => BitmapNdv(exprs.head)),
    ("bitmap_merge_ndv", classOf[BitmapMergeNdv],
      exprs => BitmapMergeNdv(exprs.head)),
    ("hi_limb", classOf[HiLimb], exprs => HiLimb(exprs.head)),
    ("lo_limb", classOf[LoLimb], exprs => LoLimb(exprs.head)),
    ("h60_long", classOf[H60Long], exprs => H60Long(exprs.head)),
    ("micros6", classOf[Micros6], exprs => Micros6(exprs.head)),
    ("json_long", classOf[JsonLong], exprs => JsonLong(exprs(0), exprs(1))),
    ("lttb_pick", classOf[LttbPick],
      exprs => LttbPick(exprs(0), exprs(1), exprs(2))),
    ("topk_records", classOf[TopKRecords], exprs => {
      // k is model shape, not data: require a plan-time constant
      require(exprs.length == 3 && exprs(2).foldable,
        "topk_records(value, ts, k) requires a literal k")
      val k = exprs(2).eval()
      require(k != null, "topk_records(value, ts, k) requires a non-null literal k")
      TopKRecords(exprs(0), exprs(1), k.asInstanceOf[Number].intValue())
    }),
    ("minhash_sig", classOf[MinHashSig], exprs => {
      // k is model shape, not data: require a plan-time constant
      require(exprs.length == 2 && exprs(1).foldable,
        "minhash_sig(shingles, k) requires a literal k")
      val k = exprs(1).eval()
      require(k != null, "minhash_sig(shingles, k) requires a non-null literal k")
      MinHashSig(exprs.head, k.asInstanceOf[Number].intValue())
    }))

  /** The function set as injectFunction tuples (for
    * [[GraftExtensions]]). */
  private[functions] def injections = fns.map { case (name, cls, builder) =>
    (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
      builder)
  }
}

/** The session extension that installs graft's functions and its
  * optimizer rule ([[graft.plans.SampleWindowPrune]]). Spark's
  * `SparkSession.Builder` finds it through `ServiceLoader` (the service
  * file under `META-INF/services`) and applies it to every session it
  * builds, so it must not also be listed in `spark.sql.extensions`:
  * that would inject every function twice and run the rule twice. */
class GraftExtensions extends org.apache.spark.sql.SparkSessionExtensionsProvider {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.injections.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.SampleWindowPrune)
  }
}
