package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Union}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import SortedStream._

/** Join-free per-interval MIN/MAX of the point value (r18 — VERDICT r17
  * Next #3's "ship it" arm).
  *
  * RangeAggPrefix correctly DECLINES extrema: a per-interval max is not
  * a difference of two prefix values. But when the aggregated value IS
  * the point expression itself — `max(pt)` / `min(pt)` over
  * `pt ∈ [lo, hi]`, the j7 family's own shape — the answer over the
  * value-ordered stream degenerates to a PREDECESSOR query:
  *
  *   max{pt : lo ≤ pt ≤ hi} = (last point value ≤ hi), valid iff ≥ lo
  *
  * So one scan of the same merged stream RangeAggPrefix sorts — points
  * and hi-probes ordered by (v, tag), tag placing the (inclusive) probe
  * AFTER equal-valued points — maintains a running "last point value
  * seen" and emits it at every probe, with the probe's OWN lo carried
  * on the row so validity (pred ≥ lo) is a row-local filter. Both
  * bounds are inclusive: the operator layer asks for nothing else.
  * min falls out by
  * NEGATION: min{pt ∈ [lo, hi]} = −max{−pt ∈ [−hi, −lo]} — the same
  * plan over the negated stream.
  *
  * Duplicate interval keys are exact FOR FREE: max is union-compatible
  * (the SQL group max over duplicate-key instances is the max over the
  * union of their point sets = the max over all instances' valid
  * predecessor rows), so the final Aggregate's plain Max over probe
  * rows — nulls (invalid/empty) ignored — is the join form's answer.
  * A group with no valid row aggregates to null and the inner-join
  * Filter drops it.
  *
  * The scan ([[SortedStream]]) keeps a running "last point value" per
  * partition: job 1 collects one (last key…, last value) per partition,
  * the driver folds them into per-partition seeds (running last across
  * preceding partitions), job 2 emits one row per probe. Driver state:
  * numPartitions × (e + 1) values.
  *
  * NaN points are left out of both scans and re-attached by the
  * operator layer (see [[tryBuildSingle]]).
  *
  * Scope: extrema of an ARBITRARY pt-side column (`max(amount)` over
  * events in range) are NOT a predecessor query — r19 ships them as
  * their own plan, [[RangeValueExtrema]] (per-partition segment trees
  * + a contained-partition table over the composite (key, v) order),
  * keyed and unkeyed. This node stays the right machine when the
  * aggregated value IS the point expression: one running double per
  * scan vs buffering each partition's points. */
object RangeExtrema {

  /** One single-extreme plan for the operator layer: per carried key,
    * MAX of `pt ∈ [lo, hi]` (inclusive both ends) when `neg = false`,
    * MIN when `neg = true` — keys with zero qualifying points dropped
    * (inner semantics). Output: keyAttrs ++ [extName: double]. The
    * caller composes min+max through the DataFrame join API (analyzer
    * self-join dedup handles the shared lineage; a raw logical Join of
    * the two branches would collide exprIds). None when pt/lo/hi are
    * not double-order-exact or a key is not sort-exact.
    *
    * The answer is the MAX of FINITE-OR-±∞ (never NaN) points: NaN
    * points are excluded from BOTH streams here, because arithmetic
    * negation reverses the total order on [−∞, +∞] but NOT at NaN
    * (−NaN = NaN still sorts last), so the negated stream would place
    * NaN points where the min scan cannot see them. The operator layer
    * re-attaches the NaN-qualifying groups (hi = NaN intervals × any NaN
    * point existing) from two tiny aggregates — see
    * [[graft.ops.RangeAgg.extremaInRangeAgg]]. NaN BOUNDS are handled
    * in-plan: a NaN-hi probe in the max plan sits after every finite
    * point (correct upper limit = everything) with its validity
    * comparison untouched; in the min plan the carried lower bound maps
    * NaN-hi to −∞ (pt ≤ NaN is vacuously true for finite points), and a
    * NaN-lo probe self-excludes in BOTH plans via a NaN carried bound
    * (finite pred ≥ NaN is false): naturally in the max plan (its
    * carried bound IS the lo), explicitly in the min plan — there lo is
    * the PROBE position, and −NaN = NaN still sorts after every finite
    * value, so without the explicit mapping a duplicate id's min would
    * absorb the stream minimum. Only NaN points
    * satisfy pt ≥ NaN, and those are the operator layer's branch. */
  def tryBuildSingle(keyAttrs: Seq[Attribute], pt: Expression,
                     lo: Expression, hi: Expression, neg: Boolean,
                     ptPlan: LogicalPlan, ivPlan: LogicalPlan,
                     extName: String,
                     equiKeys: Seq[(Expression, Expression)] = Nil)
      : Option[LogicalPlan] = {
    if (!bandExact(pt, lo, hi) || !keysExact(equiKeys, ptPlan, ivPlan))
      return None
    def img(e: Expression): Expression =
      if (neg) UnaryMinus(dbl(e)) else dbl(e)
    // domain mapping: the negated stream's UPPER end is the original
    // LOWER bound (min{pt ∈ [lo, hi]} = −max{−pt ∈ [−hi, −lo]}) — the
    // probe sits at the stream position of the negated-domain upper,
    // and the validity constraint comes from the other bound
    val probeSrc = if (neg) lo else hi
    val validSrc = if (neg) hi else lo
    // the validity bound carried on the probe: in the negated (min)
    // plan the original constraint is pt ≤ hi, whose image would be
    // −NaN = NaN for a NaN hi — map it to −∞ instead (vacuously true
    // for every finite point, exactly like the original constraint).
    // A NaN PROBE-side bound (lo = NaN in the min plan) must instead
    // make the row self-exclude: NaN as the carried bound kills
    // validity for every finite pred.
    val carriedLower: Expression =
      if (neg) If(IsNaN(dbl(probeSrc)), Literal(Double.NaN),
        If(IsNaN(dbl(validSrc)), Literal(Double.NegativeInfinity),
          UnaryMinus(dbl(validSrc))))
      else dbl(validSrc)
    // equi keys are NOT negated in the min plan: they provide run
    // contiguity (equality), not order. Inclusive probes (tag 2) sort
    // after equal-valued points: their predecessor is the candidate.
    val ivKeys = equiKeys.map(_._2)
    val ptKeys = equiKeys.map(_._1)
    val probes = branch(img(probeSrc), 2, 1, ivKeys,
      keyAttrs :+ Alias(carriedLower, "_graft_lo")(),
      keep(nonEmptyBand(lo, hi, strict = false), ivKeys, ivPlan))
    val points = branch(img(pt), 1, 0, ptKeys,
      nulls(keyAttrs) :+ Alias(Literal(null, DoubleType), "_graft_lo")(),
      keep(And(IsNotNull(pt), Not(IsNaN(dbl(pt)))), ptKeys, ptPlan))
    // probes FIRST: Union takes output attributes from its head child,
    // so the carried keys keep their original exprIds
    val union = Union(Seq(probes, points), byName = false,
      allowMissingCol = false)
    val predOut = AttributeReference("_graft_pred", DoubleType,
      nullable = true)()
    val node = RangeExtremaNode(equiKeys.length, keyAttrs.length,
      predOut, union)
    // row-local validity: pred within the lower bound (in the possibly
    // negated image); invalid/empty probes contribute null, which Max
    // ignores — exactly the join form's membership
    val loAttr = node.output(keyAttrs.length) // the carried _graft_lo
    val valid = If(And(IsNotNull(predOut),
      GreaterThanOrEqual(predOut, loAttr)), predOut, Literal(null, DoubleType))
    val extRaw = AggregateExpression(Max(valid), Complete, isDistinct = false)
    val ext = Alias(if (neg) UnaryMinus(extRaw) else extRaw, extName)()
    Some(Filter(IsNotNull(ext.toAttribute),
      Aggregate(keyAttrs, (keyAttrs: Seq[NamedExpression]) :+ ext, node)))
  }
}

/** Merged-stream predecessor node. Carried (after the equi keys): the m
  * interval key columns and the probe's lo. Output: those followed by
  * the running last point value (`pred`), ONE ROW PER PROBE. In the
  * keyed form a probe's predecessor is valid exactly when the LAST
  * POINT'S equi key equals the probe's — the last point before a probe
  * has key ≤ the probe's key, with equality iff it belongs to the same
  * key run, so no run-boundary reset is needed: the exec just carries
  * the last point's key in its scan state. */
case class RangeExtremaNode(nEquiKeys: Int, nKeys: Int,
                            predOut: AttributeReference,
                            child: LogicalPlan) extends SortedStreamNode {
  override protected def nCarried: Int = nKeys + 1
  override protected def produced: Seq[AttributeReference] = Seq(predOut)
  override def toExec(child: SparkPlan): SparkPlan =
    RangeExtremaExec(nEquiKeys, nKeys, predOut, child)
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : RangeExtremaNode = copy(child = newChild)
}

/** Physical predecessor scan. Summary: one partition's last point
  * (key…, value), or None when it has no point. Seeds: the last point
  * of any preceding partition. Emit: each probe's carried columns plus
  * the running last value when the last point shares the probe's equi
  * key, else null. */
case class RangeExtremaExec(nEquiKeys: Int, nKeys: Int,
                            predOut: AttributeReference,
                            child: SparkPlan) extends SortedStreamExec {
  override def nodeName: String = "RangeExtrema"
  override protected def nCarried: Int = nKeys + 1
  override protected def produced: Seq[AttributeReference] = Seq(predOut)

  /** A partition's last point (equi keys, value), if it has one. */
  type Last = Option[(Array[Any], Double)]

  override protected def scan(): Scan[Last, Last] = {
    val e = nEquiKeys
    val base = Head + e // first carried ordinal
    val ekTypes = child.output.slice(Head, base).map(_.dataType).toArray
    val keyTypes =
      child.output.slice(base, base + nKeys + 1).map(_.dataType).toArray
    val m = keyTypes.length
    val outTypes: Array[DataType] = keyTypes :+ DoubleType
    Scan[Last, Last](
      summary = { it =>
        var has = false
        var last = 0.0
        val keys = new Array[Any](e)
        it.foreach { row =>
          if (row.getInt(2) == 0) {
            holdKeys(row, ekTypes, keys, valid = has)
            has = true; last = row.getDouble(0)
          }
        }
        if (has) Some((keys, last)) else None
      },
      seeds = parts =>
        parts.scanLeft(None: Last)((acc, p) => p.orElse(acc)).init,
      emit = { (seed, it) =>
        var has = seed.isDefined
        var last = seed.fold(0.0)(_._2)
        // task-local owned scratch, seeded with the preceding
        // partitions' last key
        val lastKeys = seed.fold(new Array[Any](e))(_._1.clone())
        val proj = UnsafeProjection.create(outTypes)
        val out = new GenericInternalRow(m + 1)
        it.flatMap { row =>
          if (row.getInt(2) == 0) {
            holdKeys(row, ekTypes, lastKeys, valid = has)
            has = true; last = row.getDouble(0)
            Iterator.empty
          } else {
            passThrough(row, base, keyTypes, out)
            // keyed validity: the predecessor belongs to this probe's
            // key run iff the last point's key equals the probe's
            var sameRun = has
            var k = 0
            while (sameRun && k < e) {
              sameRun = keyRowEq(ekTypes(k), row, Head + k, lastKeys(k))
              k += 1
            }
            out.update(m, if (sameRun) last else null)
            Iterator.single[InternalRow](proj(out))
          }
        }
      })
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : RangeExtremaExec = copy(child = newChild)
}
