package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, TimestampNTZType, TimestampType}

/** Optimizer rule: derive scannable timestamp bounds from a range
  * predicate on a SAMPLE BY window LABEL.
  *
  * `SeriesOps.sampleBy` labels each tumbling window by its end
  * timestamp, `sample_ts = (t - pmod(t, i)) + i`. A consumer filtering
  * the aggregated result — `sampleBy(series, i).filter($"sample_ts"
  * between (a, b))` — gets Catalyst's own help only part of the way:
  * the label predicate is pushed below the aggregation with the window
  * arithmetic substituted inline, but a comparison on that DERIVED
  * expression can never become a parquet `PushedFilter` (only bare
  * attribute comparisons do), so the scan still reads the entire
  * series. At 100 TB that is the difference between scanning a day and
  * scanning the archive.
  *
  * This rule finds comparisons of the window expression against long
  * literals (`>= > <= < =`, either orientation, under AND) in any
  * Filter and conjoins the IMPLIED bare-timestamp bounds. The
  * timestamp operand may itself be a truncating unit projection
  * `raw div scale` (the micros-view-over-nanos-storage pattern,
  * Tables.eventSeries) — bounds are then translated to the RAW column,
  * which is the one with parquet statistics ("push filters in the
  * storage column's own unit", docs/PLANS.md).
  *
  * SLIDING labels too (r4): `SeriesOps.slidingBy` labels via an
  * exploded per-window index, `sample_ts = j·slide + (t − pmod(t,
  * slide)) + slide`, so a label filter stops ABOVE the Generate (its
  * substituted condition references the generator output j) and
  * ordinary pushdown can never carry it to the scan. The rule matches
  * that shape against the Generate's literal explode array (j's range
  * is static — sequence() constant-folds), derives bounds from the
  * label EXTREMES a source row can produce (lower bound subtracts the
  * full window WIDTH (1+maxJ)·slide instead of one interval), resolves
  * the timestamp attribute through the unit-projection Project below
  * the Generate when there is one, and INSERTS the implied bare-raw
  * Filter next to the scan where FileSourceStrategy pushes it to
  * parquet. Works identically under batch and streaming microbatch
  * planning (IncrementalExecution runs the same optimizer).
  *
  * Soundness: rows of window s have t ∈ [s-i, s) and labels are
  * multiples of i, so `s ≥ A ⇔ s ≥ ceil_i(A) ⇒ t ≥ ceil_i(A) − i` and
  * `s ≤ B ⇒ t < floor_i(B)`; for a truncating projection t =
  * trunc(raw/scale) (either sign), `t ≥ X ⇒ raw ≥ (X−1)·scale + 1` and
  * `t < U ⇒ raw < U·scale`. Every translation step runs in
  * overflow-checked arithmetic and DROPS the bound when it cannot be
  * represented (never prunes on wrapped values). The added conjuncts
  * are implied row-by-row by the original predicate, which is KEPT, so
  * the rewrite can only prune work, never change results (locked
  * bit-for-bit by SampleWindowPruneSpec).
  *
  * Wiring: [[graft.functions.GraftExtensions]] injects it into every
  * session (injectOptimizerRule), so it is always on. To plan without
  * it, as a baseline, exclude it by name:
  * `spark.sql.optimizer.excludedRules=graft.plans.SampleWindowPrune`.
  */
object SampleWindowPrune extends Rule[LogicalPlan] with PredicateHelper {

  /** Fast-path marker for a Filter this rule already augmented. The
    * real idempotency guard is semantic: implied conjuncts already
    * present in the condition are never re-added, so the rule is a
    * no-op on its own output even when another rule rebuilds the
    * Filter node and drops the tag (tags do not survive node copies). */
  private val pruned = TreeNodeTag[Boolean]("graft.sampleWindowPruned")

  /** The NTZ micros projection reads `unix_micros(cast(ntz as
    * timestamp))` where the cast's zone resolves from the SESSION
    * timezone — the bound translation back into NTZ literals is exact
    * only under UTC (Tables.load pins it; Tables.assertUtc fails other
    * entry points loudly). Under any other zone this rule must DEGRADE
    * to not pruning, never emit bounds shifted by the zone offset. */
  private def ntzTranslationSafe: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone == "UTC"

  /** The timestamp operand inside the window arithmetic: a bare column
    * (scale 1), a truncating unit projection `raw div scale` (the
    * micros-over-nanos-Long fixture encoding), or the EXACT micros
    * projection `unix_micros(cast(raw as timestamp))` over a
    * TIMESTAMP_NTZ raw column (the micros fixture encoding — scale 1,
    * bijective, so every translation below is exact under the UTC
    * session zone [[ntzTranslationSafe]] requires). Bounds emitted
    * against a non-Long raw column are typed literals of the column's
    * own type ([[rawLit]]) so they stay pushable bare comparisons. */
  private def tsOperand(e: Expression): Option[(AttributeReference, Long)] =
    e match {
      case a: AttributeReference => Some((a, 1L))
      // analysis coerces div operands to Long and folds the cast, so a
      // long literal divisor is the only shape that reaches the optimizer
      case IntegralDivide(a: AttributeReference,
          Literal(d: Long, LongType), _) if d > 0 => Some((a, d))
      case UnixMicros(c: Cast) if c.dataType == TimestampType =>
        c.child match {
          case a: AttributeReference
              if a.dataType == TimestampNTZType && ntzTranslationSafe =>
            Some((a, 1L))
          case _ => None
        }
      case _ => None
    }

  /** A literal comparable to the raw column in its own type. Both
    * LongType and TimestampNTZType carry a Long internally (epoch-nanos
    * vs epoch-micros — `v` is always already in the raw column's own
    * unit by the time it gets here). */
  private def rawLit(ts: AttributeReference, v: Long): Literal =
    Literal(v, ts.dataType)

  /** Matches `(t - pmod(t, i)) + i` → (raw attribute, interval, scale). */
  private def windowShape(e: Expression)
      : Option[(AttributeReference, Long, Long)] = e match {
    case Add(Subtract(t1, Pmod(t2, Literal(i1: Long, LongType), _), _),
        Literal(i2: Long, LongType), _)
        if i1 == i2 && i1 > 0 && t1.semanticEquals(t2) =>
      tsOperand(t1).map { case (a, scale) => (a, i1, scale) }
    case _ => None
  }

  /** Matches the SLIDING label `(j*s + (t - pmod(t, s))) + s` (operand
    * orders free — ReorderAssociativeOperator may rebuild the Add
    * chain) against the given generator-output attribute →
    * (raw attribute, slide, scale). */
  private def slidingShape(e: Expression, j: Attribute)
      : Option[(AttributeReference, Long, Long)] = {
    def mulJ(m: Expression, s: Long): Boolean = m match {
      case Multiply(a: AttributeReference, Literal(v: Long, LongType), _) =>
        a.exprId == j.exprId && v == s
      case Multiply(Literal(v: Long, LongType), a: AttributeReference, _) =>
        a.exprId == j.exprId && v == s
      case _ => false
    }
    def base(b: Expression, s: Long): Option[(AttributeReference, Long)] =
      b match {
        case Subtract(t1, Pmod(t2, Literal(i: Long, LongType), _), _)
            if i == s && t1.semanticEquals(t2) => tsOperand(t1)
        case _ => None
      }
    e match {
      case Add(Add(x, y, _), Literal(s: Long, LongType), _) if s > 0 =>
        (if (mulJ(x, s)) base(y, s) else if (mulJ(y, s)) base(x, s) else None)
          .map { case (a, scale) => (a, s, scale) }
      case _ => None
    }
  }

  private def safe(f: => Long): Option[Long] =
    try Some(f) catch { case _: ArithmeticException => None }

  /** One conjunct as ((raw ts, interval, scale), (lower, upper))
    * inclusive label bounds, when it compares a `shape`-matched
    * expression to a long literal. Bound adjustments that overflow
    * yield None — no pruning from that conjunct. */
  private def exprBounds(conjunct: Expression,
      shape: Expression => Option[(AttributeReference, Long, Long)] = windowShape)
      : Option[
      ((AttributeReference, Long, Long), (Option[Long], Option[Long]))] = {
    def lo(e: Expression, v: Option[Long]) =
      v.flatMap(x => shape(e).map(w => (w, (Some(x), Option.empty[Long]))))
    def hi(e: Expression, v: Option[Long]) =
      v.flatMap(x => shape(e).map(w => (w, (Option.empty[Long], Some(x)))))
    def eq(e: Expression, v: Long) =
      shape(e).map(w => (w, (Some(v), Some(v))))
    conjunct match {
      case GreaterThanOrEqual(e, Literal(v: Long, LongType)) => lo(e, Some(v))
      case GreaterThan(e, Literal(v: Long, LongType)) => lo(e, safe(Math.addExact(v, 1L)))
      case LessThanOrEqual(e, Literal(v: Long, LongType)) => hi(e, Some(v))
      case LessThan(e, Literal(v: Long, LongType)) => hi(e, safe(Math.subtractExact(v, 1L)))
      case EqualTo(e, Literal(v: Long, LongType)) => eq(e, v)
      case GreaterThanOrEqual(Literal(v: Long, LongType), e) => hi(e, Some(v))
      case GreaterThan(Literal(v: Long, LongType), e) => hi(e, safe(Math.subtractExact(v, 1L)))
      case LessThanOrEqual(Literal(v: Long, LongType), e) => lo(e, Some(v))
      case LessThan(Literal(v: Long, LongType), e) => lo(e, safe(Math.addExact(v, 1L)))
      case EqualTo(Literal(v: Long, LongType), e) => eq(e, v)
      case _ => None
    }
  }

  /** Implied raw-column conjuncts for one window group, generalized
    * over tumbling AND sliding labels. A label is
    * `e = base + (1+j)·s` with `base = t − pmod(t, s)` (a multiple of
    * s, base ≤ t < base+s) and `j ∈ [minJ, maxJ]` (tumbling: j fixed
    * at 0, so w = s). `w = (1+maxJ)·s` is the window WIDTH.
    *
    * A source row survives a label window [A, B] iff SOME of its
    * labels lands inside, so the implied bounds use the extremes:
    *  - largest label ≥ A: base ≥ ceil_s(A) − w ⇒ t ≥ ceil_s(A) − w
    *  - smallest label ≤ B: base ≤ floor_s(B) − (1+minJ)·s ⇒
    *    t < floor_s(B) − minJ·s
    * then through a truncating `raw div scale` projection:
    * `t ≥ X ⇒ raw ≥ (X−1)·scale + 1`, `t < U ⇒ raw < U·scale`.
    * Every step overflow-checked; a bound that cannot be represented
    * is DROPPED (never prunes on wrapped values). */
  private def boundPreds(ts: AttributeReference, s: Long, scale: Long,
      w: Long, minJ: Long,
      lower: Option[Long], upper: Option[Long]): Seq[Expression] = {
    def ceilMul(v: Long): Option[Long] = safe(
      Math.multiplyExact(Math.floorDiv(Math.addExact(v, s - 1), s), s))
    def floorMul(v: Long): Option[Long] = safe(
      Math.multiplyExact(Math.floorDiv(v, s), s))

    // WRAP ZONES: near the Long extremes the label arithmetic itself
    // overflows in non-ANSI mode (wrapped labels can spuriously
    // satisfy any bound) and THROWS in ANSI mode — either way those
    // rows must keep flowing to the label arithmetic, so each bound
    // ORs in its wrap zone when any raw value can reach it (for
    // scale > 1, |t| ≤ Long.Max/scale often cannot; the bounds then
    // stay bare). Top wrap: first t whose LARGEST label (base + w)
    // overflows. Bottom wrap: base computation underflows below the
    // first non-wrapping t.
    val wHigh = Math.floorDiv(Long.MaxValue - w, s) * s + s
    val wLow = Math.floorDiv(Long.MinValue + s - 1, s) * s
    val topEscape: Option[Expression] =
      if (wHigh <= Long.MaxValue / scale)
        safe(Math.addExact(Math.multiplyExact(wHigh - 1, scale), 1L))
          .map(v => GreaterThanOrEqual(ts, rawLit(ts, v)))
      else None
    val bottomEscape: Option[Expression] =
      if (wLow > Long.MinValue / scale)
        safe(Math.multiplyExact(wLow, scale))
          .map(v => LessThan(ts, rawLit(ts, v)))
      else None

    // label ≥ A ⇒ t ≥ ceil_s(A) − w ⇒ raw ≥ (X−1)·scale + 1
    val loPred = lower.flatMap(ceilMul).flatMap(cm => safe {
      val x = Math.subtractExact(cm, w)
      Math.addExact(Math.multiplyExact(Math.subtractExact(x, 1L), scale), 1L)
    }).map(v => GreaterThanOrEqual(ts, rawLit(ts, v)): Expression)
      .map(p => bottomEscape.fold(p)(esc => Or(p, esc)))
    // label ≤ B ⇒ t < floor_s(B) − minJ·s ⇒ raw < U·scale
    val hiPred = upper.flatMap(floorMul).flatMap(fm => safe(
      Math.multiplyExact(
        Math.subtractExact(fm, Math.multiplyExact(minJ, s)), scale)))
      .map(v => LessThan(ts, rawLit(ts, v)): Expression)
      .map(p => topEscape.fold(p)(esc => Or(p, esc)))
    loPred.toSeq ++ hiPred.toSeq
  }

  /** The original tumbling path: conjoin implied bounds into the SAME
    * Filter (post-pushdown it already sits against the scan). */
  private def applyTumbling(f: Filter): Filter = {
    val conjuncts = splitConjunctivePredicates(f.condition)
    val found = conjuncts.flatMap(c => exprBounds(c))
    if (found.isEmpty) f
    else {
      // per distinct (raw ts, interval, scale) window: tightest label
      // bounds → implied raw-timestamp conjuncts, overflow-checked
      val preds = found.groupBy { case ((ts, i, sc), _) => (ts.exprId, i, sc) }
        .values.toSeq.flatMap { group =>
          val (ts, i, scale) = group.head._1
          boundPreds(ts, i, scale, w = i, minJ = 0L,
            group.flatMap(_._2._1).maxOption, group.flatMap(_._2._2).minOption)
        }
      // semantic idempotency: never re-add a conjunct that is already
      // there (guards the fixpoint even if the tag is lost to a node
      // rebuild by another rule)
      val missing = preds.filterNot(p => conjuncts.exists(_.semanticEquals(p)))
      if (missing.isEmpty) f
      else {
        val nf = Filter(And(f.condition, missing.reduce(And)), f.child)
        nf.setTagValue(pruned, true)
        nf
      }
    }
  }

  /** The sliding path: the label filter stops ABOVE the Generate (its
    * condition references the exploded j), so the implied bounds are
    * inserted BELOW it — and below the unit-projection Project when
    * the timestamp attribute resolves through one — landing against
    * the scan where FileSourceStrategy can push the bare comparisons
    * to parquet. Pushdown cannot do any of this itself: the label is
    * a derived expression over a generator output. */
  private def applySliding(f: Filter, g: Generate): LogicalPlan = {
    // explode over a LITERAL long array (sequence() folds to one): j's
    // value range is statically known, which the width math needs
    val jInfo = g.generator match {
      case Explode(Literal(arr: ArrayData, ArrayType(LongType, _)))
          if !g.outer && g.generatorOutput.size == 1 && arr.numElements() > 0 =>
        val vals = arr.toLongArray()
        Some((g.generatorOutput.head, vals.min, vals.max))
      case _ => None
    }
    jInfo match {
      case Some((j, minJ, maxJ)) if minJ >= 0 =>
        val conjuncts = splitConjunctivePredicates(f.condition)
        val found = conjuncts.flatMap(c => exprBounds(c, slidingShape(_, j)))
        val grouped = found.groupBy { case ((ts, s, sc), _) => (ts.exprId, s, sc) }
          .values.toSeq
        // resolve each group's timestamp operand to the raw column the
        // scan owns: either inline (attr already below the Generate) or
        // through ONE Project alias `t = raw div scale` / passthrough
        case class Resolved(raw: AttributeReference, scale: Long,
            underProject: Boolean)
        def resolve(a: AttributeReference, inlineScale: Long): Option[Resolved] = {
          // prefer looking THROUGH a unit-projection alias (the bounds
          // then land against the scan in the raw column's own unit);
          // a bare pass-through of the child's attribute falls back to
          // direct insertion below the Generate
          val viaProject = g.child match {
            case Project(projList, pchild) => projList.collectFirst {
              case al @ Alias(IntegralDivide(raw: AttributeReference,
                  Literal(d: Long, LongType), _), _)
                  if al.exprId == a.exprId && d > 0 && inlineScale == 1 &&
                    pchild.outputSet.contains(raw) =>
                Resolved(raw, d, true)
              // exact micros projection over a TIMESTAMP_NTZ raw column
              // (the micros fixture encoding) — scale 1, bounds become
              // NTZ-typed literals via rawLit
              case al @ Alias(UnixMicros(c: Cast), _)
                  if al.exprId == a.exprId && inlineScale == 1 &&
                    c.dataType == TimestampType && ntzTranslationSafe &&
                    (c.child match {
                      case raw: AttributeReference =>
                        raw.dataType == TimestampNTZType &&
                          pchild.outputSet.contains(raw)
                      case _ => false
                    }) =>
                Resolved(c.child.asInstanceOf[AttributeReference], 1L, true)
              case al @ Alias(raw: AttributeReference, _)
                  if al.exprId == a.exprId && inlineScale == 1 &&
                    pchild.outputSet.contains(raw) =>
                Resolved(raw, 1L, true)
            }
            case _ => None
          }
          viaProject.orElse(
            if (g.child.outputSet.contains(a)) Some(Resolved(a, inlineScale, false))
            else None)
        }
        val emitted: Seq[(Resolved, Seq[Expression])] = grouped.flatMap { group =>
          val (a, s, inlineScale) = group.head._1
          resolve(a, inlineScale).flatMap { r =>
            safe(Math.multiplyExact(Math.addExact(maxJ, 1L), s)).map { w =>
              (r, boundPreds(r.raw, s, r.scale, w, minJ,
                group.flatMap(_._2._1).maxOption,
                group.flatMap(_._2._2).minOption))
            }
          }
        }
        val direct = emitted.filter(!_._1.underProject).flatMap(_._2)
        val under = emitted.filter(_._1.underProject).flatMap(_._2)
        if (direct.isEmpty && under.isEmpty) f
        else {
          // semantic idempotency: skip conjuncts already present at the
          // insert position (CombineFilters may have merged our earlier
          // insertion with a neighboring Filter)
          def existing(p: LogicalPlan): Seq[Expression] = p match {
            case Filter(c, _) => splitConjunctivePredicates(c)
            case _ => Nil
          }
          def addBelow(preds: Seq[Expression], child: LogicalPlan): LogicalPlan = {
            val have = existing(child)
            val missing = preds.filterNot(p => have.exists(_.semanticEquals(p)))
            if (missing.isEmpty) child
            else Filter(missing.reduce(And), child)
          }
          val newGChild = g.child match {
            case p @ Project(projList, pchild) if under.nonEmpty =>
              val inner = addBelow(under, pchild)
              val base = if (inner eq pchild) p else Project(projList, inner)
              if (direct.nonEmpty) addBelow(direct, base) else base
            case other =>
              // `under` nonempty but child not a Project can't happen
              // (resolution required the Project); keep direct only
              if (direct.nonEmpty) addBelow(direct, other) else other
          }
          if (newGChild eq g.child) f
          else f.copy(child = g.copy(child = newGChild))
        }
      case _ => f
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f: Filter =>
      val f1 = if (f.getTagValue(pruned).isEmpty) applyTumbling(f) else f
      f1.child match {
        case g: Generate => applySliding(f1, g)
        case _ => f1
      }
  }
}
