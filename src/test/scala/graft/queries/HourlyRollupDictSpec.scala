package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** The dictionary-declared hourly rollup (one-pass bitmap-NDV over
  * integer category codes — the r12 floor decomposition's shape) must
  * reproduce the generic two-phase form EXACTLY, including the micro-
  * fixed-point sums, on fuzz data with ties, hour-boundary timestamps
  * and value shapes the sf fixtures don't pin; out-of-dictionary
  * categories surface as the documented NULL-category quarantine row. */
class HourlyRollupDictSpec extends AnyFunSuite with GraftSpark {

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
    // split-function invariance (r15): the columnar kernel splits by
    // a multiply-mix of event_id, the row twin and the generic gate by
    // the xxhash64 chain — DIFFERENT partitions of the corpus — and the
    // merged rollup must be bit-identical under both
    assert(rowsOf("agg_incremental_rollup_dict_col") == di,
      "columnar incremental kernel diverged from the row kernel")
  }

  /** 200 events over 7 ten-minute steps, written twice: whole to
    * `full` and cut to event_id >= 50 to `cut`, so a kernel over a
    * filtered `full` has the keyed generic forms over `cut` as its
    * reference. */
  private def filteredCorpus(prefix: String, typeOf: Int => String) = {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      (i.toLong, (i % 7).toLong * 600000000L * 1000L, 1L + i % 9,
        typeOf(i), i * 0.25, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val full = Files.createTempDirectory(prefix).toFile
    val cut = Files.createTempDirectory(prefix + "cut").toFile
    full.deleteOnExit(); cut.deleteOnExit()
    rows.write.mode("overwrite").parquet(s"${full.getAbsolutePath}/events.parquet")
    rows.filter(col("event_id") >= 50L)
      .write.mode("overwrite").parquet(s"${cut.getAbsolutePath}/events.parquet")
    (full.getAbsolutePath, cut.getAbsolutePath)
  }

  private def sorted(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.orderBy(cols.head, cols.tail: _*).collect().toSeq

  /** A kernel form's partials enter the plan as a LogicalRDD leaf; the
    * generic forms read the parquet relation direct. */
  private def viaKernel(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  test("row kernels on a filtered input equal the generic forms on the pre-filtered corpus") {
    val (full, cut) = filteredCorpus("graft-hrdrow", i => dict(i % dict.size))
    val ev = graft.core.Tables.eventSeries(spark, full).filter(col("event_id") >= 50L)
    def ref(key: String) =
      sorted(AnalyticsSurface.queries(key)(spark, cut), "hour_ts", "event_type")
    val hourly = graft.ops.DictRollup.hourlyRollup(ev, dict)
    assert(viaKernel(hourly))
    assert(sorted(hourly, "hour_ts", "event_type") == ref("agg_hourly_rollup"))
    val fold = graft.ops.DictRollup.foldRollup(ev, dict)
    assert(viaKernel(fold))
    assert(sorted(fold, "hour_ts", "event_type") == ref("agg_rollup_fold"))
    val incr = graft.ops.DictRollup.incrementalRollup(ev, dict,
      pmod(xxhash64(col("event_id"), lit("incr")), lit(100L)) < 20)
    assert(viaKernel(incr))
    assert(sorted(incr, "hour_ts", "event_type") == ref("agg_incremental_rollup"))
  }

  test("inferred kernels on a filter-only input equal the generic forms on the pre-filtered corpus") {
    val (full, cut) = filteredCorpus("graft-hrdinff", i => s"undeclared_${i % 11}")
    val raw = graft.core.Tables.load(spark, full, "events")
    // a filter-only composed input runs ON the kernel (r16: the
    // FilterExec residual re-evaluates inside the scan loop)
    val filtered = raw.filter(col("event_id") >= 50L)
    def ref(key: String, cols: String*) =
      sorted(AnalyticsSurface.queries(key)(spark, cut), cols: _*)
    val fold = graft.ops.DictRollup.foldRollupInferred(filtered)
    assert(viaKernel(fold))
    assert(sorted(fold, "hour_ts", "event_type") ==
      ref("agg_rollup_fold", "hour_ts", "event_type"))
    val incr = graft.ops.DictRollup.incrementalRollupInferred(filtered)
    assert(viaKernel(incr))
    assert(sorted(incr, "hour_ts", "event_type") ==
      ref("agg_incremental_rollup", "hour_ts", "event_type"))
    val sketch = graft.ops.DictRollup.sketchRollupInferred(filtered)
    assert(viaKernel(sketch))
    assert(sorted(sketch, "event_type") == ref("agg_sketch_rollup", "event_type"))
    // the cut is selective, so the references differ from the whole corpus
    assert(ref("agg_rollup_fold", "hour_ts", "event_type") !=
      sorted(AnalyticsSurface.queries("agg_rollup_fold")(spark, full),
        "hour_ts", "event_type"))
  }

  test("columnar kernels refuse an input they cannot read as one scan with the columnar dict kernel error") {
    val (full, _) = filteredCorpus("graft-hrdrefuse", i => dict(i % dict.size))
    val raw = graft.core.Tables.load(spark, full, "events")
    def refused(build: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains("columnar dict kernel"), e.getMessage)
    }
    // an unsupported predicate shape refuses at construction, naming
    // the generic form, instead of evaluating part of the filter
    val computed = raw.filter(col("event_id") % 2L >= 0L)
    refused(graft.ops.DictRollup.foldRollupInferred(computed))
    refused(graft.ops.DictRollup.incrementalRollupInferred(computed))
    refused(graft.ops.DictRollup.sketchRollupInferred(computed))
    // the declared-dictionary columnar kernels take a bare scan only
    val filtered = raw.filter(col("event_id") >= 0L)
    refused(graft.ops.DictRollup.hourlyRollupColumnar(filtered, dict))
    refused(graft.ops.DictRollup.foldRollupColumnar(filtered, dict))
    refused(graft.ops.DictRollup.incrementalRollupColumnar(filtered, dict))
    refused(graft.ops.DictRollup.sketchRollupColumnar(filtered, dict))
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
    // the inferred sketch kernel also runs on a filter-only composed
    // input (r16) with the same values
    val raw = graft.core.Tables.load(spark, dir.getAbsolutePath, "events")
    val sFiltered = graft.ops.DictRollup.sketchRollupInferred(
      raw.filter(col("event_id") >= 0L))
    assert(viaKernel(sFiltered))
    assert(sFiltered.orderBy("event_type").collect().toSeq == is)
  }

  test("inferred kernel refuses loudly past openCatCap instead of paging silently") {
    // the kernels build their codecs with OpenMaxCat (2^20, the packed
    // key's category code width); a codec built with cap 8 shows the
    // refusal without writing a million categories
    def refusal(code: Int => Int): Unit = {
      (0 until 8).foreach(code) // eight categories fit
      val e = intercept[IllegalArgumentException](code(8))
      assert(e.getMessage.contains("distinct categories in one partition") &&
        e.getMessage.contains("generic form"), e.getMessage)
    }
    val row = new graft.ops.DictRollup.OpenRowCodec(8)
    refusal(i => row.code(s"cat_$i"))
    // the columnar codec, over a plain-encoded string vector
    val vec = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(
      9, org.apache.spark.sql.types.StringType)
    (0 until 9).foreach(i => vec.putByteArray(i, s"cat_$i".getBytes("UTF-8")))
    val columnar = new graft.ops.DictRollup.OpenCodec(8)
    columnar.reset(vec)
    try refusal(i => columnar.code(vec, i)) finally vec.close()
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
