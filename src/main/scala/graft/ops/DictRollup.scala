package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dictionary-declared hourly rollup — the scale path a caller's
  * declared category dictionary (the closed value set of the category
  * column) unlocks.
  *
  * The generic agg_hourly_rollup must treat the category as an opaque
  * string and count distinct users through a (hour, type, user) fine
  * aggregate — a 1B-row codegen'd hash phase that measured ~13 ns/row
  * at 1B events (BASELINE.md r12). The r12 floor analysis proposed a
  * one-pass bitmap-NDV aggregate instead, but the r13 measurement
  * falsified it at scale: a TypedImperativeAggregate runs under
  * ObjectHashAggregateExec with NO whole-stage codegen, and its
  * per-row interpreted update (~20 ns/row) erases the saved fine
  * phase past ~100M rows (EventAggProfile h_full_bitmap_* at
  * sf3000x). Neither built-in shape gets near DuckDB's ~5.5 ns/row.
  *
  * So this operator drops to a mapPartitions KERNEL — the documented
  * last resort, taken here because both Catalyst formulations are
  * measured at 3-4x the kernel's cost and the declared dictionary is
  * exactly what makes the kernel's state bounded and its key integer:
  *
  *  1. a codegen'd PROJECTION packs (hour, category) into ONE long —
  *     `(hour_start div hourUs) * (|dict|+1) + code` with the code a
  *     when-chain over the DECLARED values (out-of-dictionary rows
  *     take the reserved quarantine code |dict|) — and converts the
  *     value to exact micros (micros6, loud past |x| < 9.2e12);
  *  2. one imperative pass per partition folds rows into an
  *     open-addressed (packed key -> slot) map: n++, hi/lo micro-limb
  *     adds (the Incremental discipline — both sums stay in int64),
  *     and a per-slot [[graft.functions.NdvBitmap]] of user ids. A
  *     last-key memo makes the common case branch-free: time-series
  *     rows arrive time-clustered, so consecutive rows share an hour.
  *     Slots are bounded by hours-spanned x (|dict|+1) per task — the
  *     declaration, not the data, sizes the state;
  *  3. per-task partial rows (key, n, h6, l6, bitmap) — thousands,
  *     not data-scale — re-aggregate by key with integer sums and
  *     [[graft.functions.BitmapMergeNdv]], then decode the key and
  *     re-widen the limbs through the exact decimal recombination
  *     every gated sum uses.
  *
  * Exactness: limb sums and bitmap OR are associative integer ops, so
  * any partitioning merges to the identical total; the final
  * decimal->double round matches the generic form and the oracle
  * bit-for-bit (HourlyRollupDictSpec fuzz-locks the differential).
  *
  * 100 TB: one scan, one state-scale exchange (tasks x open slots),
  * no data-scale shuffle at all — vs the generic form's fine-relation
  * exchange. Skewed hours spread across input splits, not reducers.
  *
  * The object holds two kernel families and nothing else:
  *  - DECLARED: the hourly rollup only ([[hourlyRollup]] over any
  *    micros projection, [[hourlyRollupColumnar]] off the bare scan).
  *    No undeclared kernel matches their speed over the generic form.
  *  - INFERRED: the fold, incremental and sketch rollups
  *    ([[foldRollupInferred]], [[incrementalRollupInferred]],
  *    [[sketchRollupInferred]]) discover the category set inside the
  *    scan, so they need no declaration and equal the generic forms on
  *    any corpus; [[openSumPartialsRows]] / [[openSketchPartialsRows]]
  *    are their row forms for streaming micro-batches.
  */
object DictRollup {

  private val HourUs = 3600000000L

  private def micros6(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Micros6(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** Per-slot kernel state (one open (hour, code) group). */
  private final class Slot {
    var n = 0L
    var nv = 0L // finite values folded — 0 ⇒ the sum limbs render NULL
    var h6 = 0L
    var l6 = 0L
    val bm = new graft.functions.NdvBitmap
  }

  /** Per-slot state for the SUM-ONLY inferred kernels (fold/incremental
    * — no distinct-user bitmap, so the state is three longs). */
  private final class SumSlot {
    var n = 0L
    var nv = 0L // finite values folded — 0 ⇒ the sum limbs render NULL
    var h6 = 0L
    var l6 = 0L
  }

  // A slot that folded ZERO finite values must render sum_value NULL,
  // exactly as the generic form does (SQL sum over an all-NULL micros6
  // column is NULL, not 0 — NaN/Inf/null values all map to NULL). The
  // limbs emit as boxed nulls; the state-scale sum-merge skips NULL
  // partials, so a key is NULL iff EVERY partition's partial is
  // (r16 — the gate fixtures never produce an all-null group, so this
  // edge was latent in every kernel; StreamingSpec + the fuzz spec now
  // pin it).
  private def h6OrNull(nv: Long, h6: Long): Any =
    if (nv == 0L) null else h6
  private def l6OrNull(nv: Long, l6: Long): Any =
    if (nv == 0L) null else l6

  private def requireDict(dict: Seq[String]): Unit =
    require(dict.nonEmpty && dict.distinct.size == dict.size,
      s"dictionary must be non-empty and distinct: $dict")

  /** Integer category code over the DECLARED values; out-of-dictionary
    * (including NULL — the dictionary is a closed value set, see the
    * pinned null semantics on [[hourlyRollup]]) takes the reserved
    * quarantine code |dict|. */
  private def codeExpr(dict: Seq[String]) =
    dict.zipWithIndex.tail
      .foldLeft(when(col("event_type") === dict.head, 0)) {
        case (acc, (v, i)) => acc.when(col("event_type") === v, i)
      }.otherwise(lit(dict.size))

  /** `(hour_start div hourUs) * (|dict|+1) + code` as one long. The
    * hour start FLOORS (pmod) like the generic hourly rollup, so it is
    * an exact multiple of hourUs for any sign and the IntegralDivide
    * pack and the pmod-based decode round-trip pre-1970 hours too. */
  private def packedExpr(dict: Seq[String], hourUs: Long) = {
    val hourStart = col("timestamp") - pmod(col("timestamp"), lit(hourUs))
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(hourStart),
        org.apache.spark.sql.catalyst.expressions.Literal(hourUs))) *
      (dict.size + 1) + codeExpr(dict).cast("long")
  }

  /** Per-batch category decode for the columnar kernels. The
    * vectorized parquet reader usually hands the event_type column
    * over still DICTIONARY-encoded (parquet's own string dictionary) —
    * in that case each distinct parquet dictionary id maps to its
    * category code ONCE (lazily, decoded through the row's own
    * getUTF8String — only the public WritableColumnVector surface, no
    * reflection into the Dictionary itself) and every other row of
    * the batch is an int-array lookup instead of an up-to-|dict|
    * UTF8String byte-compare chain with a per-row UTF8String wrapper
    * allocation. Plain-encoded vectors fall back to the when-chain
    * equality walk. MUST be reset per batch: the parquet dictionary
    * is a column-chunk property and can change or disappear (encoding
    * fallback) at any batch boundary — by the time a batch surfaces,
    * Spark's reader has already normalized mixed-encoding batches to
    * hasDictionary=false, so ids are valid for every non-null row
    * whenever it reports true. Callers guarantee !v.isNullAt(i). */
  private final class CategoryCodec(dictU: Array[
      org.apache.spark.unsafe.types.UTF8String]) {
    private var ids: org.apache.spark.sql.execution.vectorized.WritableColumnVector = null
    private var idCodes: Array[Int] = new Array[Int](0)

    private def codeOf(s: org.apache.spark.unsafe.types.UTF8String): Int = {
      var c = 0
      while (c < dictU.length) {
        if (dictU(c).equals(s)) return c
        c += 1
      }
      dictU.length // quarantine (out-of-dictionary)
    }

    def reset(v: org.apache.spark.sql.vectorized.ColumnVector): Unit = {
      ids = v match {
        case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
            if w.hasDictionary => w.getDictionaryIds
        case _ => null
      }
      java.util.Arrays.fill(idCodes, -1)
    }

    def code(v: org.apache.spark.sql.vectorized.ColumnVector, i: Int): Int = {
      if (ids == null) return codeOf(v.getUTF8String(i))
      val id = ids.getDictId(i)
      if (id < 0 || id >= idCodes.length) {
        if (id < 0) return codeOf(v.getUTF8String(i)) // defensive: treat as plain
        val grown = new Array[Int](math.max(id + 1, 16))
        java.util.Arrays.fill(grown, -1)
        System.arraycopy(idCodes, 0, grown, 0, idCodes.length)
        idCodes = grown
      }
      var c = idCodes(id)
      if (c < 0) { c = codeOf(v.getUTF8String(i)); idCodes(id) = c }
      c
    }
  }

  /** Per-batch OPEN-dictionary category decode for the INFERRED
    * kernels (r15, verdict #1): same parquet-dictionary-id fast path
    * as [[CategoryCodec]], but the dictionary is DISCOVERED from the
    * data instead of declared — a first-seen value takes the next
    * local code (code 0 is reserved for the NULL category, which the
    * generic form keeps as its own group). Because inference happens
    * inside the scan itself, it is exact by construction: there is no
    * "out-of-inferred-set" value — a rogue category simply extends
    * the local dictionary and keeps its own group, exactly like the
    * generic HashAggregate. The price of openness is that the data,
    * not a declaration, sizes the state: `catCap` bounds the local
    * dictionary LOUDLY (a category column with data-scale cardinality
    * belongs on the generic, spillable form — the kernel refuses
    * rather than silently paging). */
  private[graft] final class OpenCodec(catCap: Int) {
    private val byValue = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Integer](64)
    private val names = new scala.collection.mutable.ArrayBuffer[String](16)
    names += null // code 0 = NULL category
    private var ids: org.apache.spark.sql.execution.vectorized.WritableColumnVector = null
    private var idCodes: Array[Int] = new Array[Int](0)

    def name(code: Int): String = names(code)

    private def codeOf(s: org.apache.spark.unsafe.types.UTF8String): Int = {
      val got = byValue.get(s)
      if (got != null) return got.intValue()
      if (names.size > catCap) throw new IllegalArgumentException(
        "inferred dictionary rollup: more than " + catCap +
          " distinct categories in one partition (the packed key's " +
          "category code is 20 bits wide) — declare a dictionary or " +
          "use the generic form, whose aggregate state can spill")
      val c = names.size
      // the vector's bytes are batch-reused — intern a stable copy
      val str = s.toString
      byValue.put(org.apache.spark.unsafe.types.UTF8String.fromString(str),
        Integer.valueOf(c))
      names += str
      c
    }

    def reset(v: org.apache.spark.sql.vectorized.ColumnVector): Unit = {
      ids = v match {
        case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
            if w.hasDictionary => w.getDictionaryIds
        case _ => null
      }
      java.util.Arrays.fill(idCodes, -1)
    }

    def code(v: org.apache.spark.sql.vectorized.ColumnVector, i: Int): Int = {
      if (ids == null) return codeOf(v.getUTF8String(i))
      val id = ids.getDictId(i)
      if (id < 0 || id >= idCodes.length) {
        if (id < 0) return codeOf(v.getUTF8String(i)) // defensive: treat as plain
        val grown = new Array[Int](math.max(id + 1, 16))
        java.util.Arrays.fill(grown, -1)
        System.arraycopy(idCodes, 0, grown, 0, idCodes.length)
        idCodes = grown
      }
      var c = idCodes(id)
      if (c < 0) { c = codeOf(v.getUTF8String(i)); idCodes(id) = c }
      c
    }
  }

  /** Input needs (timestamp micros long, event_type string, user_id
    * integral, value double); output (hour_ts, event_type, n,
    * n_users, sum_value) with rollup rows of n >= 2, out-of-dict
    * categories surfacing as one NULL-category quarantine row per
    * hour. */
  def hourlyRollup(ev: DataFrame, dict: Seq[String],
      hourUs: Long = HourUs): DataFrame = {
    requireDict(dict)
    val spark = ev.sparkSession
    val m = dict.size + 1 // + the reserved quarantine code
    val packed = packedExpr(dict, hourUs)
    // Null semantics, PINNED (r14 — they diverge from the generic twin
    // and the fuzz differential never generates nulls, so they must be
    // explicit): (a) a time-series point without a time is malformed —
    // the kernel FAILS LOUDLY on it (the catalog's ingest schema and
    // the sf fixtures are non-null; a silent drop would hide corrupt
    // feeds, and getLong on a null field would read garbage);
    // (b) a NULL event_type is out-of-dictionary BY DEFINITION (the
    // declared dictionary is a closed value set), so it takes the
    // quarantine code and MERGES with other out-of-dict rows into the
    // hour's NULL-category row — where the generic form would keep
    // NULL and each rogue string as separate groups. Both pinned by
    // HourlyRollupDictSpec.
    val proj = ev
      .select(packed.as("k"),
        col("user_id").cast("long").as("user_id"),
        micros6(col("value").cast("double")).as("m6"))

    val partialSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("h6", LongType, nullable = true),
      StructField("l6", LongType, nullable = true),
      StructField("bm", BinaryType, nullable = false)))
    // the kernel reads the projected UnsafeRows directly (no
    // per-row object decode); rows are reused by the scan, but only
    // field VALUES are read, never the row reference kept
    val partials = proj.queryExecution.toRdd.mapPartitions { it =>
      val slots = new scala.collection.mutable.LongMap[Slot](64)
      var lastK = Long.MinValue
      var lastSlot: Slot = null
      var empty = true
      while (it.hasNext) {
        val row = it.next()
        // k is null iff timestamp is null (the code when-chain always
        // yields a value) — the pinned loud-failure path
        if (row.isNullAt(0)) throw new IllegalArgumentException(
          "dictionary rollup: null timestamp in input (a time-series " +
            "point without a time is malformed; filter upstream if intended)")
        val k = row.getLong(0)
        var s = if (!empty && k == lastK) lastSlot else null
        if (s == null) {
          s = slots.getOrNull(k)
          if (s == null) { s = new Slot; slots.update(k, s) }
          lastK = k; lastSlot = s; empty = false
        }
        s.n += 1
        if (!row.isNullAt(2)) {
          val m6 = row.getLong(2)
          s.nv += 1
          s.h6 += m6 / 1000000L
          s.l6 += m6 % 1000000L
        }
        if (!row.isNullAt(1)) s.bm.add(row.getLong(1))
      }
      slots.iterator.map { case (k, s) =>
        Row(k, s.n, h6OrNull(s.nv, s.h6), l6OrNull(s.nv, s.l6),
          s.bm.serialize())
      }
    }
    finalizeHourly(spark.createDataFrame(partials, partialSchema), dict, hourUs)
  }

  /** State-scale merge + decode shared by the row and columnar hourly
    * kernels: integer sums + [[graft.functions.BitmapMergeNdv]] per
    * packed key, exact decimal recombination, quarantine decode,
    * rollup filter n >= 2. */
  private def finalizeHourly(partialsDf: DataFrame, dict: Seq[String],
      hourUs: Long): DataFrame = {
    val m = dict.size + 1
    val merged = partialsDf
      .groupBy("k")
      .agg(sum("n").cast("long").as("n"),
        sum("h6").as("h6"), sum("l6").as("l6"),
        expr("bitmap_merge_ndv(bm)").as("n_users"))
    val sv = (col("h6").cast("decimal(20,0)") *
      lit(new java.math.BigDecimal(1000000)).cast("decimal(7,0)") +
      col("l6").cast("decimal(20,0)")) *
      lit(new java.math.BigDecimal("0.000001"))
    val decode = array((dict.map(lit) :+ lit(null.asInstanceOf[String])): _*)
    merged.select(
        expr(s"((k - pmod(k, ${m}L)) div ${m}L) * ${hourUs}L").as("hour_ts"),
        element_at(decode, pmod(col("k"), lit(m.toLong)).cast("int") + 1)
          .as("event_type"),
        col("n"), col("n_users"),
        round(sv.cast("double"), 4).as("sum_value"))
      .filter(col("n") >= 2)
  }

  // ------------------------------------------------------------------
  // Columnar kernels (r14, the verdict-#5 falsification OUTCOME): the
  // r13 "input projection floor" (11.5-12.6 s/1B, claimed uncrossable
  // single-node) was measured THROUGH queryExecution.toRdd — i.e.
  // through ColumnarToRow plus a codegen'd projection that writes and
  // re-reads an UnsafeRow per input row. Folding the same slots
  // directly off the vectorized parquet reader's ColumnarBatch vectors
  // measures 5.8-6.0 s/1B for the FULL hourly rollup (EventAggProfile
  // d_kernel_columnar vs d_proj_only 11.6-11.8 s; the raw batch scan
  // is 2.8-2.9 s) — the floor was the row boundary, not the scan. The
  // pack, the micros6 conversion (the identical MicroSumOps.toMicros
  // call the codegen'd expression makes) and the dictionary when-chain
  // (UTF8String equality) run inside the kernel loop instead.
  //
  // Scope: the input must collapse to ONE vectorized parquet scan of
  // the catalog's events schema — these are scan-adjacent fast paths,
  // not general-plan operators (the hourly row kernel above and the
  // generic forms stay the composable ones). 100 TB: same exchange
  // story as the row kernel (tasks x slots partials, zero data-scale
  // shuffle), minus the per-row decode boundary.
  // ------------------------------------------------------------------

  /** A compiled residual row predicate over the scan's batches —
    * (batch, rowIdx) → keep. Null ⟺ no filters (the bare-scan hot
    * path pays nothing). */
  private type BatchPred =
    (org.apache.spark.sql.vectorized.ColumnarBatch, Int) => Boolean

  /** The columnar scan of `raw` restricted to `cols`, with output
    * indices and the ts encoding (both events fixture generations:
    * TIMESTAMP(NANOS) read as epoch-nanos Long via nanosAsLong, or
    * TIMESTAMP(MICROS) read as NTZ — micros either way after decode,
    * matching Tables.tsMicros' trunc `ts div 1000`). */
  private def columnarScanOf(raw: DataFrame, cols: Seq[String]):
      (org.apache.spark.sql.execution.FileSourceScanExec, Seq[Int], Boolean) = {
    val (scan, idx, tsNanos, pred) =
      columnarScanOfFiltered(raw, cols, allowFilter = false)
    assert(pred == null)
    (scan, idx, tsNanos)
  }

  private def columnarScanOfFiltered(raw: DataFrame, cols: Seq[String],
      allowFilter: Boolean):
      (org.apache.spark.sql.execution.FileSourceScanExec, Seq[Int], Boolean,
        BatchPred) = {
    val pruned = raw.select(cols.map(col): _*)
    // the kernel reads the SCAN's batches directly, so every plan node
    // above it would be silently skipped — require that nothing but
    // pass-through wrappers (column-pruning projects of bare
    // attributes, codegen adapters, the columnar-to-row boundary)
    // sits between the root and the scan. A computed projection
    // anywhere means the caller composed a plan — the hourly row
    // kernel and the generic forms are the composable ones. FILTERS (r16, verdict #4 — the
    // composed-input tier): when `allowFilter`, FilterExec residuals
    // above the scan are COLLECTED and re-evaluated row-by-row inside
    // the kernel via [[compileBatchPred]] — exact by construction
    // regardless of what parquet's pushed copies pruned, because
    // Spark itself keeps the FilterExec as the exact residual of
    // every pushed data filter. Unsupported predicate shapes refuse
    // loudly, naming the generic fallback.
    val conditions = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.catalyst.expressions.Expression]()
    def bareScanOf(p: org.apache.spark.sql.execution.SparkPlan):
        org.apache.spark.sql.execution.FileSourceScanExec = p match {
      case pr: org.apache.spark.sql.execution.ProjectExec =>
        require(pr.projectList.forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]),
          "columnar dict kernel needs a bare parquet relation " +
            s"(computed projection: ${pr.projectList})")
        bareScanOf(pr.child)
      case f: org.apache.spark.sql.execution.FilterExec if allowFilter =>
        def splitAnd(e: org.apache.spark.sql.catalyst.expressions.Expression):
            Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
          case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
            splitAnd(l) ++ splitAnd(r)
          case x => Seq(x)
        }
        conditions ++= splitAnd(f.condition)
        bareScanOf(f.child)
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        bareScanOf(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => bareScanOf(i.child)
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => bareScanOf(c.child)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        require(allowFilter ||
            (s.dataFilters.isEmpty && s.partitionFilters.isEmpty),
          "columnar dict kernel needs a bare parquet relation " +
            s"(scan carries filters: ${s.dataFilters ++ s.partitionFilters})")
        s
      case other => throw new IllegalArgumentException(
        "columnar dict kernel needs a bare parquet relation " +
          s"(unexpected plan node ${other.nodeName})")
    }
    val scan = bareScanOf(pruned.queryExecution.executedPlan)
    require(scan.supportsColumnar,
      "columnar dict kernel: scan does not support columnar output")
    val names = scan.output.map(_.name)
    val idx = cols.map { c =>
      val i = names.indexOf(c)
      require(i >= 0, s"columnar dict kernel: column $c missing from scan output $names")
      i
    }
    val tsNanosLong = scan.output(names.indexOf("ts")).dataType match {
      case org.apache.spark.sql.types.LongType => true
      case org.apache.spark.sql.types.TimestampNTZType => false
      case other => throw new IllegalArgumentException(
        s"columnar dict kernel: unsupported ts type $other")
    }
    (scan, idx, tsNanosLong,
      if (conditions.isEmpty) null else compileBatchPred(conditions.toSeq, scan))
  }

  /** Compile the collected FilterExec residual conjuncts to ONE
    * (batch, row) → keep function over the scan's vectors. Supported
    * forms — a bare scan attribute against a same-typed literal under
    * the six comparators, IS [NOT] NULL, and their AND-chains (split
    * upstream) — cover the pushable-predicate language: exactly the
    * filters a FileSourceScan would carry as PushedFilters. Anything
    * else (casts, arithmetic, OR, UDFs) refuses LOUDLY naming the
    * generic form — a silent partial evaluation would return wrong
    * rows, the one unforgivable failure mode. SQL three-valued logic:
    * a NULL operand makes the conjunct unknown → row dropped, exactly
    * FilterExec's behavior. Double comparisons go through Spark's own
    * total order (SQLOrderingUtil.compareDoubles: NaN largest,
    * -0.0 = 0.0) — a primitive Java compare would silently diverge on
    * NaN rows. */
  private def compileBatchPred(
      conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      scan: org.apache.spark.sql.execution.FileSourceScanExec): BatchPred = {
    import org.apache.spark.sql.catalyst.expressions._
    val byId = scan.output.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    def colIdx(a: AttributeReference): Int = byId.getOrElse(a.exprId,
      throw new IllegalArgumentException(
        s"columnar dict kernel filter: ${a.name} is not a scan attribute"))
    def refuse(e: Expression): Nothing = throw new IllegalArgumentException(
      "columnar dict kernel filter: unsupported predicate shape " +
        s"$e — only bare-attribute comparisons with literals, IS [NOT] " +
        "NULL and AND-chains run on the kernel; use the generic form " +
        "for composed predicates (its aggregate state can spill)")
    // one conjunct → (batch, row) → Boolean
    def comp(e: Expression): BatchPred = e match {
      case IsNotNull(a: AttributeReference) =>
        val i = colIdx(a); (b, r) => !b.column(i).isNullAt(r)
      case IsNull(a: AttributeReference) =>
        val i = colIdx(a); (b, r) => b.column(i).isNullAt(r)
      case cmp: BinaryComparison =>
        val (attr, litRaw, flip) = (cmp.left, cmp.right) match {
          case (a: AttributeReference, l: Literal) => (a, l, false)
          case (l: Literal, a: AttributeReference) => (a, l, true)
          case _ => refuse(e)
        }
        if (litRaw.value == null) return (_, _) => false // cmp NULL: unknown
        val i = colIdx(attr)
        // sign of compare(column, literal), NULL column → MinValue tag
        val cmpOf: (org.apache.spark.sql.vectorized.ColumnarBatch, Int) => Int =
          (attr.dataType, litRaw.dataType) match {
            case (org.apache.spark.sql.types.LongType |
                  org.apache.spark.sql.types.TimestampNTZType |
                  org.apache.spark.sql.types.TimestampType,
                  org.apache.spark.sql.types.LongType |
                  org.apache.spark.sql.types.TimestampNTZType |
                  org.apache.spark.sql.types.TimestampType) =>
              val lv = litRaw.value.asInstanceOf[Long]
              (b, r) => java.lang.Long.compare(b.column(i).getLong(r), lv)
            case (org.apache.spark.sql.types.IntegerType,
                  org.apache.spark.sql.types.IntegerType) =>
              val lv = litRaw.value.asInstanceOf[Int]
              (b, r) => Integer.compare(b.column(i).getInt(r), lv)
            case (org.apache.spark.sql.types.DoubleType,
                  org.apache.spark.sql.types.DoubleType) =>
              val lv = litRaw.value.asInstanceOf[Double]
              (b, r) => org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                .compareDoubles(b.column(i).getDouble(r), lv)
            case (org.apache.spark.sql.types.StringType,
                  org.apache.spark.sql.types.StringType) =>
              val lv = litRaw.value
                .asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
              (b, r) => b.column(i).getUTF8String(r).compareTo(lv)
            case _ => refuse(e)
          }
        val keep: Int => Boolean = cmp match {
          case _: EqualTo => s => s == 0
          case _: LessThan => s => (if (flip) -s else s) < 0
          case _: LessThanOrEqual => s => (if (flip) -s else s) <= 0
          case _: GreaterThan => s => (if (flip) -s else s) > 0
          case _: GreaterThanOrEqual => s => (if (flip) -s else s) >= 0
          case _ => refuse(e)
        }
        (b, r) => !b.column(i).isNullAt(r) && keep(cmpOf(b, r))
      case Not(EqualTo(a: AttributeReference, l: Literal)) =>
        val inner = comp(EqualTo(a, l))
        val i = colIdx(a)
        (b, r) => !b.column(i).isNullAt(r) && l.value != null && !inner(b, r)
      case Literal(true, org.apache.spark.sql.types.BooleanType) =>
        (_, _) => true
      case other => refuse(other)
    }
    val fns = conds.map(comp).toArray
    (b, r) => {
      var j = 0
      var ok = true
      while (ok && j < fns.length) { ok = fns(j)(b, r); j += 1 }
      ok
    }
  }

  /** Columnar twin of [[hourlyRollup]] over the RAW events relation
    * (catalog schema: ts, event_type, user_id, value). Same output,
    * same pinned null semantics, same oracle — fuzz-locked against
    * the generic AND row-kernel forms in HourlyRollupDictSpec. */
  def hourlyRollupColumnar(raw: DataFrame, dict: Seq[String],
      hourUs: Long = HourUs): DataFrame = {
    requireDict(dict)
    val spark = raw.sparkSession
    val (scan, Seq(iTs, iTy, iUid, iVal), tsNanos) =
      columnarScanOf(raw, Seq("ts", "event_type", "user_id", "value"))
    val dictU = dict.map(
      org.apache.spark.unsafe.types.UTF8String.fromString).toArray
    val m = dict.size + 1
    val partialSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("h6", LongType, nullable = true),
      StructField("l6", LongType, nullable = true),
      StructField("bm", BinaryType, nullable = false)))
    val partials = scan.executeColumnar().mapPartitions { it =>
      val slots = new scala.collection.mutable.LongMap[Slot](64)
      val codec = new CategoryCodec(dictU)
      var lastK = Long.MinValue
      var lastSlot: Slot = null
      var empty = true
      while (it.hasNext) {
        val batch = it.next()
        val (vTs, vTy, vUid, vVal) =
          (batch.column(iTs), batch.column(iTy), batch.column(iUid),
            batch.column(iVal))
        codec.reset(vTy)
        var i = 0
        val nRows = batch.numRows()
        while (i < nRows) {
          if (vTs.isNullAt(i)) throw new IllegalArgumentException(
            "dictionary rollup: null timestamp in input (a time-series " +
              "point without a time is malformed; filter upstream if intended)")
          val ts = if (tsNanos) vTs.getLong(i) / 1000L else vTs.getLong(i)
          // quarantine code (incl. NULL event_type) = dictU.length
          val code = if (vTy.isNullAt(i)) dictU.length else codec.code(vTy, i)
          // the hourly form FLOORS the hour (pre-1970-safe pmod shape)
          val k = Math.floorDiv(ts, hourUs) * m + code
          var slot = if (!empty && k == lastK) lastSlot else null
          if (slot == null) {
            slot = slots.getOrNull(k)
            if (slot == null) { slot = new Slot; slots.update(k, slot) }
            lastK = k; lastSlot = slot; empty = false
          }
          slot.n += 1
          if (!vVal.isNullAt(i)) {
            val x = vVal.getDouble(i)
            if (!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x)) {
              val m6 = graft.functions.MicroSumOps.toMicros(x)
              slot.nv += 1
              slot.h6 += m6 / 1000000L
              slot.l6 += m6 % 1000000L
            }
          }
          if (!vUid.isNullAt(i)) slot.bm.add(vUid.getLong(i))
          i += 1
        }
      }
      slots.iterator.map { case (k, s) =>
        Row(k, s.n, h6OrNull(s.nv, s.h6), l6OrNull(s.nv, s.l6),
          s.bm.serialize())
      }
    }
    finalizeHourly(spark.createDataFrame(partials, partialSchema), dict, hourUs)
  }

  /** The incremental kernels' 80/20 split bit of an event_id (r15
    * verdict #2 decomposition, BASELINE.md): the r14 kernels computed
    * the exact xxhash64(event_id, 'incr') chain the GENERIC gate uses,
    * which the 1B profile (EventAggProfile i_split_*) measured at
    * ~0.5-0.9 ns/row of the incremental twin's ~2 ns/row premium over
    * the fold. Any deterministic uniform split merges to the identical
    * total (limb sums are associative — HourlyRollupDictSpec locks the
    * kernel incremental == the generic one, whose split is the xxhash
    * chain), so the split function is a harness choice, not a semantics
    * one: ONE multiply-xorshift mix (the NdvBitmap Fibonacci scramble)
    * of event_id — deterministic per event, ~80/20-uniform, ~5 ops. A
    * NULL event_id mixes as 0. */
  private def splitBit(id: Long): Int = {
    var h = id * -7046029254386353131L
    h ^= h >>> 32
    if (Math.floorMod(h, 100L) < 20L) 1 else 0
  }

  // ------------------------------------------------------------------
  // INFERRED-dictionary kernels (r15, verdict #1): the fleet's only
  // remaining >2x-at-1B keys were the GENERIC fold (2.76x) and
  // incremental (3.31x) — the forms an undeclared corpus was routed
  // to, because the columnar kernels required a declared dictionary.
  // The r14 verdict proposed inferring the category set at plan time
  // and quarantining out-of-inferred values; taking the "read it from
  // the parquet dictionary pages the CategoryCodec already decodes"
  // suggestion to its conclusion removes the inference pass AND the
  // quarantine divergence: the dictionary is inferred INSIDE the scan
  // itself (OpenCodec — first-seen value, next local code; parquet
  // dictionary ids make the per-row cost the same int-array lookup as
  // the declared codec), so inference is exact by construction and a
  // rogue category keeps its own group exactly like the generic
  // HashAggregate. NULL event_type stays its own group too (code 0) —
  // unlike the declared kernels there is no closed value set to
  // quarantine against, so the open kernels match the GENERIC null
  // semantics, not the dict twins' (null timestamps still fail loudly
  // — the kernel family's pinned contract).
  //
  // State honesty: per-task slots = hours-spanned x observed
  // categories — the DATA sizes the state, where the declared kernels
  // are declaration-bounded. OpenMaxCat (2^20, the width of the
  // packed key's category code) bounds the local dictionary LOUDLY;
  // past it the kernel refuses and names the generic (spillable)
  // form — it never pages silently. 100 TB: same exchange story as
  // the declared kernels (tasks x slots partial rows, zero data-scale
  // shuffle), with the partials carrying the decoded category string
  // instead of a packed code.
  // ------------------------------------------------------------------

  /** Packed open-kernel slot key: local category code (20 bits, the
    * [[OpenMaxCat]] ceiling) | trunc-hour index (42 bits, sign-carried —
    * covers every representable micros timestamp at the 1-hour
    * bucket) | split bit. */
  private val OpenHourBits = 42
  private val OpenHourMask = (1L << OpenHourBits) - 1
  private val OpenMaxCat = 1 << 20

  /** Shared body of [[foldRollupInferred]] / [[incrementalRollupInferred]]:
    * one columnar kernel pass over the bare vectorized parquet scan,
    * slots keyed by (local code, trunc-hour, split), partial rows
    * carrying the DECODED category string — then a state-scale
    * string-keyed merge (thousands of rows; the key shape no longer
    * matters there) and the exact decimal recombination. The split
    * path keeps one last-key memo PER SPLIT BIT: split bits alternate
    * pseudo-randomly row to row, so a single memo would miss ~1/3 of
    * rows and pay a LongMap probe each time — two memos keep both of
    * an hour's slots hot (the r15 incremental-premium decomposition). */
  private def sumRollupOpen(raw: DataFrame, hourUs: Long,
      withSplit: Boolean): DataFrame = {
    require(hourUs > 0, s"hourUs must be positive: $hourUs")
    val spark = raw.sparkSession
    val cols = if (withSplit) Seq("ts", "event_id", "event_type", "value")
      else Seq("ts", "event_type", "value")
    // filter-only composed inputs run ON the kernel (r16, verdict #4):
    // the FilterExec residual compiles to a per-row vector predicate —
    // a pushed-filter scan is still one vectorized ColumnarBatch source
    val (scan, idx, tsNanos, pred) =
      columnarScanOfFiltered(raw, cols, allowFilter = true)
    val (iTs, iTy, iVal) = (idx(0), idx(if (withSplit) 2 else 1),
      idx(if (withSplit) 3 else 2))
    val iId = if (withSplit) idx(1) else -1
    val partialSchema = StructType(
      StructField("event_type", StringType, nullable = true) +:
      StructField("hour_ts", LongType, nullable = false) +:
      (if (withSplit) Seq(StructField("split", IntegerType, nullable = false))
       else Nil) ++:
      Seq(StructField("n", LongType, nullable = false),
        StructField("h6", LongType, nullable = true),
        StructField("l6", LongType, nullable = true)))
    val partials = scan.executeColumnar().mapPartitions { it =>
      val slots = new scala.collection.mutable.LongMap[SumSlot](64)
      val codec = new OpenCodec(OpenMaxCat)
      // dual last-key memo (split 0 / split 1); the fold path only
      // ever touches memo 0
      var lastK0 = Long.MinValue; var lastSlot0: SumSlot = null
      var lastK1 = Long.MinValue; var lastSlot1: SumSlot = null
      var empty = true
      while (it.hasNext) {
        val batch = it.next()
        val (vTs, vTy, vVal) =
          (batch.column(iTs), batch.column(iTy), batch.column(iVal))
        val vId = if (withSplit) batch.column(iId) else null
        codec.reset(vTy)
        var i = 0
        val nRows = batch.numRows()
        while (i < nRows) {
          // composed-plan FilterExec semantics, evaluated here: a
          // filtered-out row never reaches the rollup (nor its
          // null-timestamp check — the filter runs FIRST in the plan)
          if (pred != null && !pred(batch, i)) { i += 1 }
          else {
          if (vTs.isNullAt(i)) throw new IllegalArgumentException(
            "dictionary rollup: null timestamp in input (a time-series " +
              "point without a time is malformed; filter upstream if intended)")
          val ts = if (tsNanos) vTs.getLong(i) / 1000L else vTs.getLong(i)
          val code = if (vTy.isNullAt(i)) 0 else codec.code(vTy, i)
          // trunc-hour: (ts - ts % h) / h — the Incremental.hourTs shape
          val hourIdx = (ts - ts % hourUs) / hourUs
          if (hourIdx > (OpenHourMask >> 1) || hourIdx < -(OpenHourMask >> 1))
            throw new IllegalArgumentException(
              s"inferred dictionary rollup: hour index $hourIdx overflows " +
                s"the $OpenHourBits-bit packed key (hourUs=$hourUs)")
          val split =
            if (withSplit) splitBit(if (vId.isNullAt(i)) 0L else vId.getLong(i))
            else 0
          val k = (code.toLong << (OpenHourBits + 1)) |
            ((hourIdx & OpenHourMask) << 1) | split
          var slot =
            if (split == 0) { if (!empty && k == lastK0) lastSlot0 else null }
            else { if (!empty && k == lastK1) lastSlot1 else null }
          if (slot == null) {
            slot = slots.getOrNull(k)
            if (slot == null) { slot = new SumSlot; slots.update(k, slot) }
            if (split == 0) { lastK0 = k; lastSlot0 = slot }
            else { lastK1 = k; lastSlot1 = slot }
            empty = false
          }
          slot.n += 1
          if (!vVal.isNullAt(i)) {
            val x = vVal.getDouble(i)
            if (!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x)) {
              val m6 = graft.functions.MicroSumOps.toMicros(x)
              slot.nv += 1
              slot.h6 += m6 / 1000000L
              slot.l6 += m6 % 1000000L
            }
          }
          i += 1
          }
        }
      }
      slots.iterator.map { case (k, s) =>
        val code = (k >>> (OpenHourBits + 1)).toInt
        // sign-extend the 42 hour bits back to the trunc-hour index
        val hourIdx = (((k >>> 1) & OpenHourMask) <<
          (64 - OpenHourBits)) >> (64 - OpenHourBits)
        val base = Seq[Any](codec.name(code), hourIdx * hourUs)
        val tail = Seq[Any](s.n, h6OrNull(s.nv, s.h6), l6OrNull(s.nv, s.l6))
        Row.fromSeq(if (withSplit) base ++ Seq((k & 1L).toInt) ++ tail
          else base ++ tail)
      }
    }
    val partialsDf = spark.createDataFrame(partials, partialSchema)
    val merged =
      if (!withSplit)
        partialsDf.groupBy("event_type", "hour_ts")
          .agg(sum("n").cast("long").as("n"),
            sum("h6").as("h6"), sum("l6").as("l6"))
      else {
        // per-(split, key) states first, then the REAL two-partial
        // merge dropping the split — the generic gate's identity
        val splitState = partialsDf.groupBy("event_type", "hour_ts", "split")
          .agg(sum("n").cast("long").as("n"),
            sum("h6").as("h6"), sum("l6").as("l6"))
        splitState.groupBy("event_type", "hour_ts")
          .agg(sum("n").cast("long").as("n"),
            sum("h6").as("h6"), sum("l6").as("l6"))
      }
    val sv = (col("h6").cast("decimal(20,0)") *
      lit(new java.math.BigDecimal(1000000)).cast("decimal(7,0)") +
      col("l6").cast("decimal(20,0)")) *
      lit(new java.math.BigDecimal("0.000001"))
    merged.select(col("event_type"), col("hour_ts"), col("n"),
      round(sv.cast("double"), 4).as("sum_value"))
  }

  /** INFERRED-dictionary columnar twin of the GENERIC
    * [[graft.ops.Incremental]] fold (gate: agg_rollup_fold — same
    * oracle) for corpora WITHOUT a declared dictionary: the category
    * set is discovered inside the scan ([[OpenCodec]]), so the output
    * matches the generic form exactly — rogue categories and NULL
    * keep their own groups. Accepts a bare scan OR a filter-only
    * composed plan (r16: FilterExec residuals re-evaluate inside the
    * scan loop — see [[compileBatchPred]]); computed projections and
    * unsupported predicate shapes still refuse loudly, and the
    * generic form remains the composable, spillable fallback. */
  def foldRollupInferred(raw: DataFrame, hourUs: Long = HourUs): DataFrame =
    sumRollupOpen(raw, hourUs, withSplit = false)

  /** [[foldRollupInferred]] for the incremental (split-merge) family
    * under the kernels' 80/20 split ([[splitBit]]) — the inferred twin
    * of agg_incremental_rollup (same oracle). */
  def incrementalRollupInferred(raw: DataFrame,
      hourUs: Long = HourUs): DataFrame =
    sumRollupOpen(raw, hourUs, withSplit = true)

  /** INFERRED-dictionary columnar twin of
    * [[graft.ops.Approx.sketchRollup]] (gate: agg_sketch_rollup — same
    * oracle) for corpora WITHOUT a declared dictionary: per-slot
    * DataSketches HLL sketches fold off the batch vectors with the
    * category set discovered inside the scan ([[OpenCodec]]), so
    * rogue categories and NULL keep their OWN groups, matching the
    * composable row twin exactly on any corpus (HLL updates are duplicate-insensitive, so
    * folding raw rows builds the identical registers the row twin's
    * distinct-first pipeline does). State = days x OBSERVED categories
    * sketches per task, the open kernels' [[OpenMaxCat]] bound; state
    * never depends on VALUE cardinality — the row twin's data-scale
    * (key, day, value) DISTINCT degenerates to corpus size when
    * cardinality approaches row count, this kernel's state does not. Null semantics: null timestamp fails
    * loudly (kernel family), null user_id skipped (as hll_sketch_agg
    * does), NULL event_type its own group (code 0 — generic
    * semantics). Output: (event_type, n_days, est_band). */
  def sketchRollupInferred(raw: DataFrame,
      dayUs: Long = 86400000000L): DataFrame = {
    require(dayUs > 0, s"dayUs must be positive: $dayUs")
    val spark = raw.sparkSession
    // filter-only composed inputs run ON the kernel (r16, verdict #4)
    val (scan, idx, tsNanos, pred) = columnarScanOfFiltered(raw,
      Seq("ts", "event_type", "user_id"), allowFilter = true)
    val (iTs, iTy, iUid) = (idx(0), idx(1), idx(2))
    val partialSchema = StructType(Seq(
      StructField("event_type", StringType, nullable = true),
      StructField("day", LongType, nullable = false),
      StructField("sk", BinaryType, nullable = false)))
    val partials = scan.executeColumnar().mapPartitions { it =>
      val slots = new scala.collection.mutable.LongMap[
        org.apache.datasketches.hll.HllSketch](64)
      val codec = new OpenCodec(OpenMaxCat)
      var lastK = Long.MinValue
      var lastSlot: org.apache.datasketches.hll.HllSketch = null
      var empty = true
      while (it.hasNext) {
        val batch = it.next()
        val (vTs, vTy, vUid) =
          (batch.column(iTs), batch.column(iTy), batch.column(iUid))
        codec.reset(vTy)
        var i = 0
        val nRows = batch.numRows()
        while (i < nRows) {
          // composed-plan FilterExec semantics (see sumRollupOpen)
          if (pred != null && !pred(batch, i)) { i += 1 }
          else {
          if (vTs.isNullAt(i)) throw new IllegalArgumentException(
            "dictionary rollup: null timestamp in input (a time-series " +
              "point without a time is malformed; filter upstream if intended)")
          val ts = if (tsNanos) vTs.getLong(i) / 1000L else vTs.getLong(i)
          val code = if (vTy.isNullAt(i)) 0 else codec.code(vTy, i)
          // trunc-day mirrors the row twin's `timestamp div dayUs`
          val dayIdx = ts / dayUs
          if (dayIdx > (OpenHourMask >> 1) || dayIdx < -(OpenHourMask >> 1))
            throw new IllegalArgumentException(
              s"inferred dictionary rollup: day index $dayIdx overflows " +
                s"the $OpenHourBits-bit packed key (dayUs=$dayUs)")
          val k = (code.toLong << (OpenHourBits + 1)) |
            ((dayIdx & OpenHourMask) << 1)
          var slot = if (!empty && k == lastK) lastSlot else null
          if (slot == null) {
            slot = slots.getOrNull(k)
            if (slot == null) {
              // lgK 12 — hll_sketch_agg's default, so the state-scale
              // hll_union_agg tail below unions same-shape sketches
              slot = new org.apache.datasketches.hll.HllSketch(12)
              slots.update(k, slot)
            }
            lastK = k; lastSlot = slot; empty = false
          }
          if (!vUid.isNullAt(i)) slot.update(vUid.getLong(i))
          i += 1
          }
        }
      }
      slots.iterator.map { case (k, s) =>
        val code = (k >>> (OpenHourBits + 1)).toInt
        val dayIdx = (((k >>> 1) & OpenHourMask) <<
          (64 - OpenHourBits)) >> (64 - OpenHourBits)
        Row(codec.name(code), dayIdx, s.toCompactByteArray)
      }
    }
    val partialsDf = spark.createDataFrame(partials, partialSchema)
    // per-(key, day) union (state-scale), then the per-key
    // union/estimate/band — the same tail every sketch twin shares
    partialsDf.groupBy("event_type", "day")
      .agg(expr("hll_union_agg(sk)").as("sk"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .select(col("event_type"), col("n_days"),
        floor(log(greatest(col("est"), lit(1L)).cast("double")) /
          lit(graft.ops.Approx.BandLn125) + lit(0.5)).cast("long").as("est_band"))
  }

  // ------------------------------------------------------------------
  // Streaming row-form twins (r16, verdict #7): the inferred kernels'
  // per-partition dictionary-inference + packed-key fold, re-expressed
  // over micro-batch ROWS so Structured Streaming can run it as a
  // stateless transform. No flatMapGroupsWithState anywhere: the codec
  // is per-partition and dies with the task — dictionary inference
  // never becomes streaming state, and the stateful aggregation only
  // ever sees (categories × buckets[, 2]) partial rows per task,
  // never row-scale input. Partial rows carry the DECODED category
  // string, so per-partition code assignment stays sound across tasks
  // exactly as in the batch kernels.
  // ------------------------------------------------------------------

  /** Per-partition first-seen category table for the row-form folds —
    * [[OpenCodec]] minus the columnar fast path: NULL is its own group
    * (code 0), growth past `catCap` fails with the same loud refusal
    * naming the spillable generic form. */
  private[graft] final class OpenRowCodec(catCap: Int) {
    private val byValue = new java.util.HashMap[String, Integer](64)
    private val names = new scala.collection.mutable.ArrayBuffer[String](16)
    names += null // code 0 = NULL category
    def name(code: Int): String = names(code)
    def code(s: String): Int = {
      if (s == null) return 0
      val got = byValue.get(s)
      if (got != null) return got.intValue()
      if (names.size > catCap) throw new IllegalArgumentException(
        "inferred dictionary rollup: more than " + catCap +
          " distinct categories in one partition (the packed key's " +
          "category code is 20 bits wide) — declare a dictionary or " +
          "use the generic form, whose aggregate state can spill")
      val c = names.size
      byValue.put(s, Integer.valueOf(c))
      names += s
      c
    }
  }

  /** Row-form inferred-fold PARTIALS for streaming micro-batches:
    * slots key on the packed (local code, trunc-hour, split) long
    * exactly like [[sumRollupOpen]] (same overflow guards, same loud
    * null-timestamp failure, same NaN/Inf-value skip), and the output
    * decodes codes back to strings before the state-scale merge. The
    * caller's stateful sum-merge over (event_type, hour_ts[, split])
    * plus the shared decimal recombination reproduces the batch
    * kernels bit-for-bit (micro-limb associativity: any micro-batch
    * arrival order lands on the identical state).
    *
    * Input columns: (event_type string, timestamp epoch-micros long,
    * value double[, split int 0/1 when `withSplit`]) — the split is a
    * caller-side codegen'd projection (pmod(xxhash64(event_id,
    * 'incr'), 100) < 20 for the gate family), so the streaming twin
    * inherits the oracle's split function by construction instead of
    * mirroring its hash arithmetic.
    * Output: (event_type, hour_ts, split, n, h6, l6). */
  def openSumPartialsRows(events: DataFrame, hourUs: Long = HourUs,
      withSplit: Boolean = false): DataFrame = {
    require(hourUs > 0, s"hourUs must be positive: $hourUs")
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(col("event_type").cast("string"),
        col("timestamp").cast("long"), col("value").cast("double"),
        (if (withSplit) col("split") else lit(0)).cast("int").as("split"))
      .as[(Option[String], Option[Long], Option[Double], Int)]
    src.mapPartitions { it =>
      val codec = new OpenRowCodec(OpenMaxCat)
      val slots = new scala.collection.mutable.LongMap[SumSlot](64)
      while (it.hasNext) {
        val (ty, tsOpt, vOpt, split) = it.next()
        val ts = tsOpt.getOrElse(throw new IllegalArgumentException(
          "dictionary rollup: null timestamp in input (a time-series " +
            "point without a time is malformed; filter upstream if intended)"))
        val code = codec.code(ty.orNull)
        val hourIdx = (ts - ts % hourUs) / hourUs
        if (hourIdx > (OpenHourMask >> 1) || hourIdx < -(OpenHourMask >> 1))
          throw new IllegalArgumentException(
            s"inferred dictionary rollup: hour index $hourIdx overflows " +
              s"the $OpenHourBits-bit packed key (hourUs=$hourUs)")
        val k = (code.toLong << (OpenHourBits + 1)) |
          ((hourIdx & OpenHourMask) << 1) | split
        var slot = slots.getOrNull(k)
        if (slot == null) { slot = new SumSlot; slots.update(k, slot) }
        slot.n += 1
        vOpt.foreach { x =>
          if (!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x)) {
            val m6 = graft.functions.MicroSumOps.toMicros(x)
            slot.nv += 1
            slot.h6 += m6 / 1000000L
            slot.l6 += m6 % 1000000L
          }
        }
      }
      slots.iterator.map { case (k, s) =>
        val code = (k >>> (OpenHourBits + 1)).toInt
        val hourIdx = (((k >>> 1) & OpenHourMask) <<
          (64 - OpenHourBits)) >> (64 - OpenHourBits)
        (Option(codec.name(code)), hourIdx * hourUs, (k & 1L).toInt,
          s.n, if (s.nv == 0L) None else Some(s.h6),
          if (s.nv == 0L) None else Some(s.l6))
      }
    }.toDF("event_type", "hour_ts", "split", "n", "h6", "l6")
  }

  /** Row-form inferred-sketch PARTIALS for streaming micro-batches:
    * per-partition DataSketches HLL registers keyed on the packed
    * (local code, trunc-day) long exactly like [[sketchRollupInferred]]
    * (lgK 12 so the caller's hll_union_agg state merge unions
    * same-shape sketches; null user_id skipped, null timestamp loud).
    * HLL updates are duplicate-insensitive, so ANY micro-batch replay
    * or arrival order lands on the identical register state.
    * Input: (event_type string, timestamp epoch-micros long,
    * user_id long). Output: (event_type, day, sk binary). */
  def openSketchPartialsRows(events: DataFrame,
      dayUs: Long = 86400000000L): DataFrame = {
    require(dayUs > 0, s"dayUs must be positive: $dayUs")
    val spark = events.sparkSession
    import spark.implicits._
    val src = events.select(col("event_type").cast("string"),
        col("timestamp").cast("long"), col("user_id").cast("long"))
      .as[(Option[String], Option[Long], Option[Long])]
    src.mapPartitions { it =>
      val codec = new OpenRowCodec(OpenMaxCat)
      val slots = new scala.collection.mutable.LongMap[
        org.apache.datasketches.hll.HllSketch](64)
      while (it.hasNext) {
        val (ty, tsOpt, uidOpt) = it.next()
        val ts = tsOpt.getOrElse(throw new IllegalArgumentException(
          "dictionary rollup: null timestamp in input (a time-series " +
            "point without a time is malformed; filter upstream if intended)"))
        val code = codec.code(ty.orNull)
        val dayIdx = ts / dayUs
        if (dayIdx > (OpenHourMask >> 1) || dayIdx < -(OpenHourMask >> 1))
          throw new IllegalArgumentException(
            s"inferred dictionary rollup: day index $dayIdx overflows " +
              s"the $OpenHourBits-bit packed key (dayUs=$dayUs)")
        val k = (code.toLong << (OpenHourBits + 1)) |
          ((dayIdx & OpenHourMask) << 1)
        var slot = slots.getOrNull(k)
        if (slot == null) {
          slot = new org.apache.datasketches.hll.HllSketch(12)
          slots.update(k, slot)
        }
        uidOpt.foreach(slot.update)
      }
      slots.iterator.map { case (k, s) =>
        val code = (k >>> (OpenHourBits + 1)).toInt
        val dayIdx = (((k >>> 1) & OpenHourMask) <<
          (64 - OpenHourBits)) >> (64 - OpenHourBits)
        (Option(codec.name(code)), dayIdx, s.toCompactByteArray)
      }
    }.toDF("event_type", "day", "sk")
  }
}
