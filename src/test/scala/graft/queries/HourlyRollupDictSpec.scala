package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The dictionary-declared hourly rollup (one-pass bitmap-NDV over
  * integer category codes — the r12 floor decomposition's shape) must
  * reproduce the generic two-phase form EXACTLY, including the micro-
  * fixed-point sums, on fuzz data with ties, hour-boundary timestamps
  * and value shapes the sf fixtures don't pin; out-of-dictionary
  * categories surface as the documented NULL-category quarantine row. */
class HourlyRollupDictSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dict = Seq("signup", "purchase", "view", "click", "error")

  test("dictionary form equals the generic two-phase rollup on fuzz data") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val hourUs = 3600000000L
    val rows = (0 until 4000).map { i =>
      val u = 1L + rnd.nextInt(40)
      // timestamps crowd hour boundaries (exactly on, +-1us) and dup;
      // hours include PRE-1970 (negative) ones — the kernel's packed
      // key claims sign-safe floor/pack/unpack (pmod-based), which a
      // trunc-division slip would break exactly here
      val t = ((rnd.nextInt(6) - 3).toLong * hourUs) + (rnd.nextInt(4) match {
        case 0 => 0L
        case 1 => 1L
        case 2 => hourUs - 1
        case _ => rnd.nextInt(1000000).toLong
      })
      // values exercise the micro fixed-point path: negatives, 6-dp
      val v = math.round((rnd.nextDouble() * 200 - 50) * 1e6) / 1e6
      (i.toLong, t * 1000L, u, dict(rnd.nextInt(dict.size)), v, "{}")
    }
    val dir = Files.createTempDirectory("graft-hrd").toFile
    dir.deleteOnExit()
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")

    def rowsOf(key: String) =
      AnalyticsSurface.queries(key)(spark, dir.getAbsolutePath)
        .orderBy("hour_ts", "event_type").collect().toSeq
    val g = rowsOf("agg_hourly_rollup")
    val d = rowsOf("agg_hourly_rollup_dict")
    assert(g == d, s"generic vs dictionary diverged:\n${g.zip(d).filter(p => p._1 != p._2).take(5)}")

    // the r14 fold/incremental kernel twins on the SAME fuzz corpus
    // (pre-1970 hours exercise the trunc-hour pack the generic
    // Incremental.hourTs shape pins — a floor/trunc slip breaks here)
    val gf = rowsOf("agg_rollup_fold")
    val df = rowsOf("agg_rollup_fold_dict")
    assert(gf == df, s"generic vs dictionary FOLD diverged:\n${gf.zip(df).filter(p => p._1 != p._2).take(5)}")
    val gi = rowsOf("agg_incremental_rollup")
    val di = rowsOf("agg_incremental_rollup_dict")
    assert(gi == di, s"generic vs dictionary INCREMENTAL diverged:\n${gi.zip(di).filter(p => p._1 != p._2).take(5)}")
    // split-invariance (the merge-equals-rescan identity, kernelized):
    // folding the split states back together must reproduce the
    // unsplit fold bit-identically — limb sums are associative
    assert(df == di, s"dict incremental != dict fold (split variance):\n${df.zip(di).filter(p => p._1 != p._2).take(5)}")

    // the COLUMNAR kernels (r14): same fuzz corpus, read back through
    // the vectorized scan (this fixture generation is LongType nanos —
    // the /1000 trunc decode path); each must equal its row twin
    assert(rowsOf("agg_hourly_rollup_dict_col") == d,
      "columnar hourly kernel diverged from the row kernel")
    assert(rowsOf("agg_rollup_fold_dict_col") == df,
      "columnar fold kernel diverged from the row kernel")
    assert(rowsOf("agg_incremental_rollup_dict_col") == di,
      "columnar incremental kernel diverged from the row kernel")
    // split-function invariance (r15): the kernels' default
    // multiply-mix split and the generic gate's xxhash64 chain are
    // DIFFERENT partitions of the corpus, and the merged rollup must
    // be bit-identical under both — the "split is a harness choice"
    // claim, asserted rather than stated
    spark.conf.set("spark.graft.rollup.splitHash", "xxh64")
    try assert(rowsOf("agg_incremental_rollup_dict_col") == di,
      "merged rollup changed under the xxh64 split (split-invariance broken)")
    finally spark.conf.unset("spark.graft.rollup.splitHash")
  }

  test("hourlyRollupAuto picks the columnar kernel on a bare scan, the row kernel on a composed input") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hrda").toFile
    dir.deleteOnExit()
    val rows = (0 until 200).map { i =>
      (i.toLong, (i % 7).toLong * 600000000L * 1000L, 1L + i % 9,
        dict(i % dict.size), i * 0.25, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    val raw = graft.core.Tables.load(spark, dir.getAbsolutePath, "events")
    // bare scan -> columnar branch; composed input (a filter forces a
    // non-bare plan... a filter still collapses into the scan, so use
    // a derived column) -> row-kernel branch; both equal the generic
    val auto = graft.ops.DictRollup.hourlyRollupAuto(raw, dict)
      .orderBy("hour_ts", "event_type").collect().toSeq
    // row-preserving FILTER: it lands in the scan's dataFilters, which
    // the columnar guard rejects, so the auto must fall back to the
    // row kernel — same values either way. (A ts + 0 projection would
    // NOT exercise the fallback: the optimizer folds it back to a
    // bare scan, which the kernel then legitimately accepts.)
    val composed = graft.ops.DictRollup.hourlyRollupAuto(
      raw.filter(col("event_id") >= 0L),
      dict).orderBy("hour_ts", "event_type").collect().toSeq
    val colK = AnalyticsSurface.queries("agg_hourly_rollup_dict_col")(
      spark, dir.getAbsolutePath).orderBy("hour_ts", "event_type").collect().toSeq
    assert(auto == colK, "auto on a bare scan diverged from the columnar kernel")
    assert(composed == colK, "auto on a composed input diverged in VALUES")
  }

  test("fold/incremental/sketch auto selectors: kernel on a bare scan, threshold-ruled fallback on composed inputs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hrdauto").toFile
    dir.deleteOnExit()
    val rows = (0 until 200).map { i =>
      (i.toLong, (i % 7).toLong * 600000000L * 1000L, 1L + i % 9,
        dict(i % dict.size), i * 0.25, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    val raw = graft.core.Tables.load(spark, dir.getAbsolutePath, "events")
    // a row-preserving FILTER lands in the scan's dataFilters, which
    // the columnar guard rejects (a ts+0 projection would NOT do: the
    // optimizer folds it back to a bare scan, which the kernel then
    // legitimately accepts) — so the auto must take the fallback
    // branch, with the same VALUES either way
    def composedOf(r: org.apache.spark.sql.DataFrame) =
      r.filter(col("event_id") >= 0L)
    // a kernel form's partials enter the plan as a LogicalRDD leaf;
    // the generic HashAggregate fold reads the parquet relation direct
    def viaKernel(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    def sorted(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.orderBy(cols.head, cols.tail: _*).collect().toSeq

    val foldRef = sorted(AnalyticsSurface.queries("agg_rollup_fold")(
      spark, dir.getAbsolutePath), "hour_ts", "event_type")
    val foldBare = graft.ops.DictRollup.foldRollupAuto(raw, dict)
    assert(viaKernel(foldBare), "fold auto must take the columnar kernel on a bare scan")
    assert(sorted(foldBare, "hour_ts", "event_type") == foldRef)
    val foldComposed = graft.ops.DictRollup.foldRollupAuto(composedOf(raw), dict)
    assert(!viaKernel(foldComposed),
      "fold auto must take the GENERIC form on a composed input under the 3e8 threshold")
    assert(sorted(foldComposed, "hour_ts", "event_type") == foldRef)
    spark.conf.set("spark.graft.rollup.dictThresholdRows", "1")
    try {
      val foldRowKernel = graft.ops.DictRollup.foldRollupAuto(composedOf(raw), dict)
      assert(viaKernel(foldRowKernel),
        "fold auto must take the ROW kernel on a composed input past the threshold")
      assert(sorted(foldRowKernel, "hour_ts", "event_type") == foldRef)
    } finally spark.conf.unset("spark.graft.rollup.dictThresholdRows")

    // ADVICE r14: the fold family had branch-SHAPE assertions but the
    // incremental/sketch autos were value-checked only — a selection
    // regression (always-generic) would have passed. Mirror them.
    val incrRef = sorted(AnalyticsSurface.queries("agg_incremental_rollup")(
      spark, dir.getAbsolutePath), "hour_ts", "event_type")
    val incrBare = graft.ops.DictRollup.incrementalRollupAuto(raw, dict)
    assert(viaKernel(incrBare),
      "incremental auto must take the columnar kernel on a bare scan")
    assert(sorted(incrBare, "hour_ts", "event_type") == incrRef)
    val incrComposed = graft.ops.DictRollup.incrementalRollupAuto(composedOf(raw), dict)
    assert(!viaKernel(incrComposed),
      "incremental auto must take the GENERIC form on a composed input under the 3e8 threshold")
    assert(sorted(incrComposed, "hour_ts", "event_type") == incrRef)
    spark.conf.set("spark.graft.rollup.dictThresholdRows", "1")
    try {
      val incrRowKernel = graft.ops.DictRollup.incrementalRollupAuto(composedOf(raw), dict)
      assert(viaKernel(incrRowKernel),
        "incremental auto must take the ROW kernel on a composed input past the threshold")
      assert(sorted(incrRowKernel, "hour_ts", "event_type") == incrRef)
    } finally spark.conf.unset("spark.graft.rollup.dictThresholdRows")

    val sketchRef = sorted(AnalyticsSurface.queries("agg_sketch_rollup")(
      spark, dir.getAbsolutePath), "event_type")
    val sketchBare = graft.ops.DictRollup.sketchRollupAuto(raw, dict)
    assert(viaKernel(sketchBare), "sketch auto must take the columnar kernel on a bare scan")
    assert(sorted(sketchBare, "event_type") == sketchRef)
    val sketchComposed = graft.ops.DictRollup.sketchRollupAuto(composedOf(raw), dict)
    assert(!viaKernel(sketchComposed),
      "sketch auto must take the composable row form on a composed input")
    assert(sorted(sketchComposed, "event_type") == sketchRef)
  }

  test("INFERRED kernels equal the GENERIC forms on an undeclared fuzz corpus (rogue + NULL categories, pre-1970 hours)") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val hourUs = 3600000000L
    // categories NO dictionary declares: the r14 verdict's
    // "out-of-inferred-set fixture", which for inline inference means
    // rogue values must keep their OWN groups (generic semantics) —
    // plus NULL event_type, which the inferred kernels keep as its own
    // group (code 0) where the DECLARED kernels would quarantine it
    val cats = Seq("signup", "purchase", "rogue_a", "rogue_b", "zz_unseen")
    val rows = (0 until 4000).map { i =>
      val t = ((rnd.nextInt(6) - 3).toLong * hourUs) + (rnd.nextInt(4) match {
        case 0 => 0L
        case 1 => 1L
        case 2 => hourUs - 1
        case _ => rnd.nextInt(1000000).toLong
      })
      val v = math.round((rnd.nextDouble() * 200 - 50) * 1e6) / 1e6
      val ty = if (rnd.nextInt(10) == 0) None else Some(cats(rnd.nextInt(cats.size)))
      (i.toLong, t * 1000L, 1L + rnd.nextInt(40), ty, v, "{}")
    }
    val dir = Files.createTempDirectory("graft-hrdinf").toFile
    dir.deleteOnExit()
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    def rowsOf(key: String) =
      AnalyticsSurface.queries(key)(spark, dir.getAbsolutePath)
        .orderBy("hour_ts", "event_type").collect().toSeq
    val gf = rowsOf("agg_rollup_fold")
    val inf = rowsOf("agg_rollup_fold_inferred")
    assert(gf == inf, s"generic vs INFERRED fold diverged:\n${gf.zip(inf).filter(p => p._1 != p._2).take(5)}")
    val gi = rowsOf("agg_incremental_rollup")
    val ii = rowsOf("agg_incremental_rollup_inferred")
    assert(gi == ii, s"generic vs INFERRED incremental diverged:\n${gi.zip(ii).filter(p => p._1 != p._2).take(5)}")
    // split invariance again: the inferred incremental's merged state
    // must equal the inferred fold bit-identically
    assert(inf == ii, s"inferred incremental != inferred fold (split variance)")
    // and NULL event_type really is its own group here, not quarantined
    assert(inf.exists(_.isNullAt(0)), "expected a NULL-category group")

    // r16 (composed tier): a raw-ts RANGE filter over this same fuzz
    // corpus (pre-1970 rows on both sides of the cut, NULL categories,
    // NaN-free but negative values) runs ON the kernel and must equal
    // the generic filtered fold exactly
    val rawFz = graft.core.Tables.load(spark, dir.getAbsolutePath, "events")
    val filteredKernel = graft.ops.DictRollup.foldRollupInferred(
      rawFz.filter(graft.core.Tables.tsRawAtLeast(rawFz, -2 * hourUs) &&
        graft.core.Tables.tsRawBelow(rawFz, 2 * hourUs)))
      .orderBy("hour_ts", "event_type").collect().toSeq
    val filteredGeneric = graft.ops.Incremental.merge(
      graft.ops.Incremental.hourlyPartials(
        graft.core.Tables.eventSeries(spark, dir.getAbsolutePath)
          .filter(col("timestamp") >= -2 * hourUs &&
            col("timestamp") < 2 * hourUs)))
      .orderBy("hour_ts", "event_type").collect().toSeq
    assert(filteredKernel == filteredGeneric,
      "filtered inferred fold diverged from the filtered generic fold")
    assert(filteredKernel.nonEmpty && filteredKernel.size < inf.size,
      "the fuzz range filter must be selective on both ends")

    // the INFERRED sketch twin (r15): must equal the composable row
    // twin (distinct-first + hll_sketch_agg) EXACTLY on this
    // undeclared corpus — HLL register construction is
    // duplicate-insensitive, and rogue/NULL categories keep their own
    // groups on both sides (where the DECLARED sketch kernel would
    // quarantine them)
    def sketchRows(key: String) =
      AnalyticsSurface.queries(key)(spark, dir.getAbsolutePath)
        .orderBy("event_type").collect().toSeq
    val gs = sketchRows("agg_sketch_rollup")
    val is = sketchRows("agg_sketch_rollup_inferred")
    assert(gs == is, s"row twin vs INFERRED sketch diverged:\n${gs.zip(is).filter(p => p._1 != p._2).take(5)}")
    assert(is.exists(_.isNullAt(0)), "expected a NULL-category sketch group")
    // no-dict auto: inferred kernel on the bare scan, row form on a
    // composed input — same values either way
    val raw = graft.core.Tables.load(spark, dir.getAbsolutePath, "events")
    def viaKernelDf(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val sAutoBare = graft.ops.DictRollup.sketchRollupAuto(raw)
    assert(viaKernelDf(sAutoBare), "no-dict sketch auto must take the inferred kernel on a bare scan")
    assert(sAutoBare.orderBy("event_type").collect().toSeq == is)
    // r16: a FILTER-ONLY composed input now runs ON the kernel (the
    // FilterExec residual re-evaluates inside the scan loop)
    val sAutoFiltered = graft.ops.DictRollup.sketchRollupAuto(
      raw.filter(col("event_id") >= 0L))
    assert(viaKernelDf(sAutoFiltered),
      "no-dict sketch auto must take the kernel on a filter-only composed input")
    assert(sAutoFiltered.orderBy("event_type").collect().toSeq == is)
    // an UNSUPPORTED predicate shape (OR) still routes to the row form
    val sAutoComposed = graft.ops.DictRollup.sketchRollupAuto(
      raw.filter(col("event_id") >= 0L || col("user_id") >= 0L))
    assert(!viaKernelDf(sAutoComposed),
      "no-dict sketch auto must take the row form on an unsupported composed input")
    assert(sAutoComposed.orderBy("event_type").collect().toSeq == is)
  }

  test("inferred kernel auto selectors (no declared dictionary): kernel on a bare scan, generic on composed inputs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hrdinfa").toFile
    dir.deleteOnExit()
    val rows = (0 until 200).map { i =>
      (i.toLong, (i % 7).toLong * 600000000L * 1000L, 1L + i % 9,
        s"undeclared_${i % 11}", i * 0.25, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    val raw = graft.core.Tables.load(spark, dir.getAbsolutePath, "events")
    def viaKernel(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("hour_ts", "event_type").collect().toSeq
    val foldRef = sorted(AnalyticsSurface.queries("agg_rollup_fold")(
      spark, dir.getAbsolutePath))
    val bare = graft.ops.DictRollup.foldRollupAuto(raw)
    assert(viaKernel(bare), "no-dict fold auto must take the inferred kernel on a bare scan")
    assert(sorted(bare) == foldRef)
    // r16: filter-only composed inputs run ON the kernel (FilterExec
    // residual re-evaluated in the scan loop); an unsupported
    // predicate shape (OR / computed expression) still routes generic
    val filtered = graft.ops.DictRollup.foldRollupAuto(
      raw.filter(col("event_id") >= 0L))
    assert(viaKernel(filtered),
      "no-dict fold auto must take the kernel on a filter-only composed input")
    assert(sorted(filtered) == foldRef)
    val composed = graft.ops.DictRollup.foldRollupAuto(
      raw.filter(col("event_id") % 2L >= 0L))
    assert(!viaKernel(composed),
      "no-dict fold auto must take the GENERIC form on an unsupported composed input")
    assert(sorted(composed) == foldRef)
    val incrRef = sorted(AnalyticsSurface.queries("agg_incremental_rollup")(
      spark, dir.getAbsolutePath))
    val incrBare = graft.ops.DictRollup.incrementalRollupAuto(raw)
    assert(viaKernel(incrBare), "no-dict incremental auto must take the inferred kernel on a bare scan")
    assert(sorted(incrBare) == incrRef)
    val incrFiltered = graft.ops.DictRollup.incrementalRollupAuto(
      raw.filter(col("event_id") >= 0L))
    assert(viaKernel(incrFiltered),
      "no-dict incremental auto must take the kernel on a filter-only composed input")
    assert(sorted(incrFiltered) == incrRef)
    val incrComposed = graft.ops.DictRollup.incrementalRollupAuto(
      raw.filter(col("event_id") % 2L >= 0L))
    assert(!viaKernel(incrComposed),
      "no-dict incremental auto must take the GENERIC form on an unsupported composed input")
    assert(sorted(incrComposed) == incrRef)
    // a SELECTIVE supported filter agrees with the generic form on
    // values, not just membership: drop the hour-0 rows
    val cut = graft.ops.DictRollup.foldRollupAuto(raw.filter(col("ts") > 0L))
    assert(viaKernel(cut), "selective raw-ts filter must stay on the kernel")
    assert(sorted(cut) ==
      sorted(graft.ops.Incremental.merge(graft.ops.Incremental.hourlyPartials(
        graft.core.Tables.eventSeries(spark, dir.getAbsolutePath)
          .filter(col("timestamp") > 0L)))))
  }

  test("inferred kernel refuses loudly past openCatCap instead of paging silently") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hrdcap").toFile
    dir.deleteOnExit()
    val rows = (0 until 200).map { i =>
      (i.toLong, (i % 7).toLong * 3600000000L * 1000L, 1L + i % 9,
        s"cat_$i", i * 0.25, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1)
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    spark.conf.set("spark.graft.rollup.openCatCap", "8")
    try {
      val e = intercept[org.apache.spark.SparkException] {
        AnalyticsSurface.queries("agg_rollup_fold_inferred")(
          spark, dir.getAbsolutePath).collect()
      }
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("openCatCap"), s"expected the loud cap refusal: $msg")
    } finally spark.conf.unset("spark.graft.rollup.openCatCap")
  }

  test("inferred kernel guards the packed hour index for non-default hourUs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hrdhr").toFile
    dir.deleteOnExit()
    // at hourUs=1 the hour index IS the timestamp — far past 42 bits
    Seq((1L, (1L << 55) * 1000L, 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    val raw = graft.core.Tables.load(spark, dir.getAbsolutePath, "events")
    val e = intercept[org.apache.spark.SparkException] {
      graft.ops.DictRollup.foldRollupInferred(raw, hourUs = 1L).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("overflows"), s"expected the packed-key overflow guard: $msg")
  }

  test("the kernels' hashInt salt specialization equals the generic xxhash64 salt-bytes chain") {
    // the incremental kernels hash the 4-byte "incr" salt via
    // XXH64.hashInt of its LE word instead of the bounds-checked byte
    // walk; xxhash's 4-byte-tail path IS hashInt, but lock it against
    // drift over random seeds (a divergence would silently flip split
    // bits and break the merge-equals-rescan identity)
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val salt = org.apache.spark.unsafe.types.UTF8String.fromString("incr")
    val rnd = new scala.util.Random(7)
    (0 until 100000).foreach { _ =>
      val seed = rnd.nextLong()
      assert(XXH64.hashUnsafeBytes(salt.getBaseObject, salt.getBaseOffset,
          salt.numBytes, seed) ===
        XXH64.hashInt(graft.ops.DictRollup.SaltIncrLE, seed))
    }
  }

  test("columnar category codec survives parquet dictionary fallback (mixed-encoding column chunk)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hrdfb").toFile
    dir.deleteOnExit()
    // ~135k distinct ~20-byte event types blow parquet's 1 MB
    // dictionary-page bound mid-chunk, so the writer falls back to
    // plain encoding partway through the column chunk; Spark's
    // vectorized reader then surfaces batches WITHOUT dictionary ids
    // (it normalizes mixed-encoding batches) and the codec must take
    // the equality-walk path. Rogue types quarantine identically in
    // the row and columnar kernels, so the differential holds even on
    // this undeclared corpus.
    val n = 150000
    val rows = (0 until n).map { i =>
      val ty = if (i % 10 == 0) dict((i / 10) % dict.size)
        else f"rogue_type_padding_$i%012d"
      (i.toLong, (i % 50).toLong * 3600000000L * 1000L, 1L + i % 9,
        ty, i * 0.5, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1)
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    def rowsOf(key: String) =
      AnalyticsSurface.queries(key)(spark, dir.getAbsolutePath)
        .orderBy("hour_ts", "event_type").collect().toSeq
    val rowK = rowsOf("agg_rollup_fold_dict")
    val colK = rowsOf("agg_rollup_fold_dict_col")
    assert(rowK == colK,
      s"columnar fold diverged from the row kernel on the dictionary-fallback corpus")
    // sanity: the quarantine row absorbed all 135k rogue events
    val quarantine = colK.filter(_.isNullAt(0))
    assert(quarantine.map(_.getLong(2)).sum == (n - n / 10).toLong)
    // the INFERRED kernel on the same corpus must instead match the
    // GENERIC form exactly — every rogue type its own group, through
    // the same mixed-encoding (dictionary-fallback) batches; this also
    // exercises a ~135k-entry open dictionary under the default cap
    assert(rowsOf("agg_rollup_fold_inferred") == rowsOf("agg_rollup_fold"),
      "inferred fold diverged from the generic form on the dictionary-fallback corpus")
    // the other two open kernels through the same fallback batches:
    // the incremental twin adds the split path (event_id decode + dual
    // memo) and the sketch twin the per-slot HLL fold — both must
    // still match their generic/row referents when the codec is on
    // the equality-walk (no-dictionary-ids) path
    assert(rowsOf("agg_incremental_rollup_inferred") ==
        rowsOf("agg_incremental_rollup"),
      "inferred incremental diverged from the generic form on the dictionary-fallback corpus")
    def sketchRowsOf(key: String) =
      AnalyticsSurface.queries(key)(spark, dir.getAbsolutePath)
        .orderBy("event_type").collect().toSeq
    assert(sketchRowsOf("agg_sketch_rollup_inferred") ==
        sketchRowsOf("agg_sketch_rollup"),
      "inferred sketch diverged from the row twin on the dictionary-fallback corpus")
  }

  test("NaN/Infinity values: all four fold forms agree (counted in n, skipped in the sum)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hrdn").toFile
    dir.deleteOnExit()
    // micros6(NaN/Inf) is NULL (like the decimal cast), so sum skips
    // the row while count(*) keeps it — the kernels replicate that
    // with an explicit isNaN/isInfinite skip; a slip double-counts or
    // drops n
    val rows = Seq(
      (1L, 1000L, 1L, "signup", 1.5), (2L, 2000L, 2L, "signup", Double.NaN),
      (3L, 3000L, 3L, "signup", Double.PositiveInfinity),
      (4L, 4000L, 4L, "signup", 2.5), (5L, 5000L, 5L, "view", Double.NegativeInfinity),
      (6L, 6000L, 6L, "view", -0.75),
      // an ALL-NaN/Inf group: the generic sum over all-NULL micros6 is
      // NULL (not 0.0) — the kernels' nv guard must reproduce that
      // (r16: this edge was latent in every kernel; no fixture hit it)
      (7L, 7000L, 7L, "click", Double.NaN),
      (8L, 8000L, 8L, "click", Double.NegativeInfinity))
    rows.map { case (i, ts, u, t, v) => (i, ts * 1000L, u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    def rowsOf(key: String) =
      AnalyticsSurface.queries(key)(spark, dir.getAbsolutePath)
        .orderBy("hour_ts", "event_type").collect().toSeq
    val g = rowsOf("agg_rollup_fold")
    assert(g == rowsOf("agg_rollup_fold_dict"), "row kernel NaN/Inf divergence")
    assert(g == rowsOf("agg_rollup_fold_dict_col"), "columnar kernel NaN/Inf divergence")
    assert(g == rowsOf("agg_incremental_rollup_dict_col"), "incremental columnar NaN/Inf divergence")
    assert(g == rowsOf("agg_rollup_fold_inferred"), "inferred fold NaN/Inf divergence")
    assert(g == rowsOf("agg_incremental_rollup_inferred"), "inferred incremental NaN/Inf divergence")
    // and the counts really include the NaN/Inf rows
    val signup = g.find(_.getString(0) == "signup").get
    assert(signup.getLong(2) == 4L && math.abs(signup.getDouble(3) - 4.0) < 1e-9,
      s"signup must count 4 rows, sum only the finite 1.5+2.5: $signup")
    // the all-NaN/Inf group renders a NULL sum with the full count
    val click = g.find(_.getString(0) == "click").get
    assert(click.getLong(2) == 2L && click.isNullAt(3),
      s"click must count 2 rows with a NULL sum_value: $click")
  }

  test("columnar kernel fails loudly on a null timestamp read from parquet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hrdc").toFile
    dir.deleteOnExit()
    Seq((1L, Some(0L), 5L, "signup", 1.5, "{}"),
        (2L, None: Option[Long], 6L, "signup", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    val e = intercept[org.apache.spark.SparkException] {
      AnalyticsSurface.queries("agg_hourly_rollup_dict_col")(
        spark, dir.getAbsolutePath).collect()
    }
    assert(e.getMessage.contains("null timestamp") ||
      Option(e.getCause).exists(_.getMessage.contains("null timestamp")))
  }

  test("out-of-dictionary categories quarantine as a NULL-category row") {
    import spark.implicits._
    val ev = Seq(
      (1L, 0L, "signup", 1.5),
      (2L, 1L, "signup", 2.5),
      (3L, 2L, "rogue", 10.0),
      (4L, 3L, "rogue", 20.0)
    ).toDF("user_id", "timestamp", "event_type", "value")
    val out = AnalyticsSurface
      .hourlyRollupWithDict(ev, Seq("signup", "purchase"))
      .collect().toSeq
    val quarantine = out.filter(_.isNullAt(1))
    assert(quarantine.size == 1 && quarantine.head.getLong(2) == 2L,
      s"expected one NULL-category row covering both rogue events: $out")
    val declared = out.filter(!_.isNullAt(1))
    assert(declared.size == 1 && declared.head.getString(1) == "signup" &&
      declared.head.getLong(3) == 2L, s"declared rows wrong: $out")
  }

  // the r14 pinned null semantics (ADVICE r13: the fuzz never
  // generated nulls, so the divergences from the generic twin were
  // undocumented and untested)

  test("null timestamp fails loudly instead of silently dropping the row") {
    import spark.implicits._
    val ev = Seq(
      (1L, Some(0L), "signup", 1.5),
      (2L, Some(1L), "signup", 2.5),
      (3L, None: Option[Long], "signup", 9.0)
    ).toDF("user_id", "timestamp", "event_type", "value")
    val e = intercept[org.apache.spark.SparkException] {
      AnalyticsSurface.hourlyRollupWithDict(ev, Seq("signup")).collect()
    }
    assert(e.getMessage.contains("null timestamp") ||
      Option(e.getCause).exists(_.getMessage.contains("null timestamp")),
      s"expected the kernel's loud null-timestamp failure, got: ${e.getMessage}")
  }

  test("NULL event_type is out-of-dictionary: it merges into the quarantine row") {
    import spark.implicits._
    // 2 rogue strings + 2 NULL types in the same hour: the generic
    // form would keep (NULL, 'rogue') as SEPARATE groups; the
    // dictionary form's closed value set makes both out-of-dict, so
    // they merge into ONE NULL-category quarantine row — the
    // documented divergence
    val ev = Seq(
      (1L, Some("rogue"), 10.0), (2L, Some("rogue"), 20.0),
      (3L, None: Option[String], 1.0), (4L, None: Option[String], 2.0),
      (5L, Some("signup"), 5.0), (6L, Some("signup"), 6.0)
    ).map { case (u, t, v) => (u, u, t, v) }
      .toDF("user_id", "timestamp", "event_type", "value")
    val out = AnalyticsSurface
      .hourlyRollupWithDict(ev, Seq("signup", "purchase"))
      .collect().toSeq
    val quarantine = out.filter(_.isNullAt(1))
    assert(quarantine.size == 1 && quarantine.head.getLong(2) == 4L,
      s"expected one NULL-category row merging rogue + NULL types: $out")
    assert(math.abs(quarantine.head.getDouble(4) - 33.0) < 1e-9)
  }
}
