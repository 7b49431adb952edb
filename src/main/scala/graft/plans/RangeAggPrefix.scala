package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import SortedStream._

/** Join-free per-interval range aggregation as a first-class plan
  * (r17: the j7b ×100 finding — VERDICT r16 Next #1).
  *
  * The band-join fixture is OUTPUT-BOUND quadratic: every ×10 in rows is
  * ×100 in qualifying (point, interval) pairs (1.86M → 186M → 18.6B at
  * sf0.1/sf1/sf10), so ANY pair-enumerating plan — the binned equi-join,
  * DuckDB's IEJoin, a 1000-executor cluster's shuffle join — pays wall
  * time linear in the pair count (measured: 910–1502 s at ×100). When
  * the downstream question is a per-interval COUNT/SUM, the pairs are
  * never needed: merge points and interval endpoints into one
  * value-ordered stream and difference two prefix sums per interval —
  * O((n+q) log) with output linear in q, at any density.
  *
  * Plan shape (all but one node standard Catalyst, so Tungsten does the
  * heavy lifting):
  *
  *   Project(original aggregate output)
  *     Filter(_graft_pair_cnt > 0)              // inner-join semantics
  *       Aggregate(group keys, remapped aggs)
  *         RangeAggPrefixNode                   // custom: prefix stitch
  *           Union                              // merged event stream
  *             Project(lo-probe)  Filter(nonempty band, intervals)
  *             Project(hi-probe)  Filter(nonempty band, intervals)
  *             Project(point)     Filter(pt not null, points)
  *
  * The scan ([[SortedStream]]) emits one row per PROBE: the interval's
  * carried key columns plus its SIGNED global running totals (lo-probe
  * −P, hi-probe +P). Its summary is one totals row per partition, and
  * the driver folds them into exclusive per-partition offsets.
  *
  * Signed probes make the final Aggregate duplicate-safe BY
  * CONSTRUCTION: a group's value is Σ over its probe rows of ±P, which
  * telescopes to Σ over interval INSTANCES of (P(hi) − P(lo)) — two
  * interval rows sharing a key contribute the sum of their individual
  * answers, exactly what aggregate-over-join computes (this closes the
  * r16 ADVICE unique-id caveat for every caller of the prefix path).
  *
  * Tag order pins inclusivity at equal values: an INCLUSIVE lo-probe
  * (tag 0) sorts BEFORE points (tag 1), an inclusive hi-probe (tag 2)
  * AFTER — so P(hi) − P(lo) counts lo ≤ v ≤ hi exactly; a STRICT bound
  * flips its probe to the other side of the points. Strict-strict
  * intervals with lo == hi are dropped up front (their telescoped
  * contribution would be −|pts == v| where the join form yields 0).
  *
  * Exactness contract: counts and decimal-sum contributions accumulate
  * as LONGS (unscaled cents for `sum(cast(x as decimal(p ≤ 18, s)))`),
  * so every prefix is order- and partitioning-independent and the
  * answer is bit-identical to the join form. Plain DOUBLE sums are
  * declined (re-association drifts). 64-bit accumulator overflow of the
  * CORPUS-WIDE running prefix raises a named error rather than wrapping
  * ([[SortedStream.addX]]). NaN points and NaN bounds both take the
  * prefix path (see [[SortedStream]]'s key contract).
  *
  * 100 TB story: one range exchange of n+2q skinny rows, two linear
  * passes, driver state = numPartitions × nAcc longs; the measured ×100
  * gap vs the pair join is 26 s vs 910–1502 s.
  */
object RangeAggPrefix {

  /** One accumulator: a per-point contribution expression (LongType)
    * and the exec-output attribute carrying its signed prefix. */
  private case class Acc(contrib: Expression, out: AttributeReference)

  /** Build the join-free prefix plan for
    * `Aggregate(groupExprs, aggExprs)` over the band join
    * `ptPlan ⋈ ivPlan ON lo (<|<=) pt AND pt (<|<=) hi`
    * — optionally KEYED: with `equiKeys = Seq((ptK, ivK), ...)` the
    * join is `ptK = ivK AND ... AND lo (<|<=) pt AND pt (<|<=) hi`
    * (the "events inside each session's [start, end]" shape). The
    * stream sorts by (key..., v, tag) instead of (v, tag): each key's
    * rows become one contiguous run, and the UNCHANGED global-prefix
    * stitch is still exact — points of a smaller key sort before BOTH
    * probes of any interval of this key (contributing equally to
    * P(lo) and P(hi), cancelling in the difference), points of a
    * larger key sort after both (contributing to neither), so
    * P(hi) − P(lo) counts exactly the same-key in-band points. Rows
    * with a NULL key are filtered on both sides (SQL `=` never
    * matches null); NaN keys match each other (Spark `=` says
    * NaN = NaN, and every sort puts all NaNs in one run); −0.0 keys
    * are normalized to +0.0 in the sort image (Double.compare would
    * split the run SQL equality says is one).
    *
    * Returns None when any guard fails (caller falls back to the pair
    * join):
    *  - pt/lo/hi double-exact types; equi keys sort-exact types (see
    *    [[SortedStream.sortKeyExact]]), both sides of a pair the same type;
    *  - every group key an interval-side Attribute;
    *  - every aggregate one of: count(non-null literal), count(pt-side
    *    expr), sum(cast(pt-side expr as decimal(p ≤ 18, s))), sum of an
    *    integral pt-side expr — non-distinct, unfiltered;
    *  - no other point-side reference anywhere in the output.
    * Output attribute exprIds are PRESERVED, so the caller can splice
    * the result over the original aggregate without touching parents. */
  def tryBuild(groupExprs: Seq[Expression], aggExprs: Seq[NamedExpression],
               pt: Expression, lo: Expression, hi: Expression,
               loStrict: Boolean, hiStrict: Boolean,
               ptPlan: LogicalPlan, ivPlan: LogicalPlan,
               equiKeys: Seq[(Expression, Expression)] = Nil)
      : Option[LogicalPlan] = {
    if (!bandExact(pt, lo, hi) || !keysExact(equiKeys, ptPlan, ivPlan))
      return None
    val ivOut = ivPlan.outputSet
    val ptOut = ptPlan.outputSet
    val keyAttrs: Seq[Attribute] = groupExprs.map {
      case a: Attribute if ivOut.contains(a) => a
      case _ => return None
    }
    val carryKeys = keyAttrs.distinct

    val accs = ArrayBuffer.empty[Acc]
    def accFor(contrib: Expression): Attribute =
      accs.find(_.contrib.semanticEquals(contrib)) match {
        case Some(a) => a.out
        case None =>
          val out = AttributeReference(s"_graft_acc${accs.length}",
            LongType, nullable = false)()
          accs += Acc(contrib, out)
          out
      }
    // acc 0 is always the qualifying-pair count (the existence filter)
    val pairAcc = accFor(Literal(1L))
    def sumOf(a: Attribute): Expression =
      AggregateExpression(Sum(a), Complete, isDistinct = false)
    // non-null-pair existence for an expression (count(e)/sum(e) skip
    // nulls); a non-nullable e shares the pair counter
    def nnAcc(e: Expression): Attribute =
      if (e.nullable) accFor(If(IsNull(e), Literal(0L), Literal(1L)))
      else pairAcc
    def sawAny(e: Expression): Expression =
      GreaterThan(sumOf(nnAcc(e)), Literal(0L))

    // count() over an empty group is 0, never null — matters only for
    // the GLOBAL-aggregate shape (grouped output rows always hold ≥2
    // probe rows), where zero qualifying pairs must yield one
    // (0, null, ...) row exactly as aggregate-over-inner-join does
    def countOf(a: Attribute): Expression =
      Coalesce(Seq(sumOf(a), Literal(0L)))
    def mapAggFn(ae: AggregateExpression): Option[Expression] = {
      // DISTINCT aggregates are declined BY DESIGN, not omission: a
      // deduplicated-points prefix would make count(DISTINCT pt) exact
      // per interval INSTANCE, but instances sharing a group key SUM
      // their prefix differences while SQL's DISTINCT unions values
      // across them — exact support needs per-group interval-union
      // merging (and per-accumulator probe classes), which is not a
      // prefix difference. Same for FILTER clauses: the filter may
      // reference both sides.
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case Count(cs) if cs.nonEmpty &&
            cs.forall(c => c.foldable && c.eval() != null) =>
          Some(countOf(pairAcc))
        case Count(Seq(e)) if e.deterministic && e.references.nonEmpty &&
            e.references.subsetOf(ptOut) =>
          Some(countOf(nnAcc(e)))
        case s: Sum if s.child.deterministic &&
            s.child.references.nonEmpty &&
            s.child.references.subsetOf(ptOut) =>
          val e = s.child
          e.dataType match {
            case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
              // exact: per-row unscaled units fit a long at p ≤ 18; the
              // running total overflows loudly in the exec, never wraps
              val unscaled: Expression =
                if (e.nullable) Coalesce(Seq(UnscaledValue(e), Literal(0L)))
                else UnscaledValue(e)
              val res = s.dataType.asInstanceOf[DecimalType]
              Some(If(sawAny(e),
                MakeDecimal(sumOf(accFor(unscaled)), res.precision, res.scale),
                Literal(null, res)))
            case LongType | IntegerType | ShortType | ByteType =>
              val v: Expression =
                if (e.nullable) Coalesce(Seq(Cast(e, LongType), Literal(0L)))
                else Cast(e, LongType)
              Some(If(sawAny(e), sumOf(accFor(v)), Literal(null, LongType)))
            // double/float sums are order-dependent: a prefix
            // re-association could drift a ulp — stay on the join path
            case _ => None
          }
        case _ => None
      }
    }

    var ok = true
    val mapped: Seq[NamedExpression] = aggExprs.map {
      case a: Attribute =>
        if (!keyAttrs.contains(a)) ok = false
        a
      case al: Alias =>
        val nt = al.child.transformUp {
          case ae: AggregateExpression =>
            mapAggFn(ae) match {
              case Some(r) => r
              case None => ok = false; ae
            }
        }
        Alias(nt, al.name)(al.exprId, al.qualifier, al.explicitMetadata,
          al.nonInheritableMetadataKeys)
      case other => ok = false; other
    }
    if (!ok) return None
    // anything still referencing the point side (or a non-key interval
    // column) outside a mapped aggregate means the shape isn't ours
    val legal = AttributeSet(carryKeys ++ accs.map(_.out))
    if (!mapped.forall(_.references.subsetOf(legal))) return None

    // ---- merged event stream --------------------------------------
    // payload: per-point contribution columns (long), zero on probes
    val ivKeys = equiKeys.map(_._2)
    val ptKeys = equiKeys.map(_._1)
    // a strict-strict band with lo == hi matches nothing but would
    // telescope negative; every other empty/inverted/null band is
    // dropped by the same comparison going false-or-null
    val ivF = keep(nonEmptyBand(lo, hi, loStrict && hiStrict), ivKeys, ivPlan)
    def probeChild(bound: Expression, tag: Int, sign: Int): Project =
      branch(dbl(bound), tag, sign, ivKeys, carryKeys ++
        accs.indices.map(i => Alias(Literal(0L), s"_graft_c$i")()), ivF)
    val probesLo = probeChild(lo, if (loStrict) 2 else 0, -1)
    val probesHi = probeChild(hi, if (hiStrict) 0 else 2, 1)
    // null point values never satisfy the band (SQL: NULL comparison is
    // NULL). NaN points STAY in the stream (r17 advice): under Spark's
    // TOTAL order NaN is greater than every value and equal to itself,
    // so a NaN point satisfies pt >= lo for ANY lo and pt <= hi exactly
    // when hi is NaN — and because the range sort places NaN rows after
    // all finite rows (mutually equal, tag breaking ties), the probe
    // tag order yields precisely that membership: an inclusive hi = NaN
    // probe (tag 2) sorts after NaN points and counts them, a strict
    // one (tag 0) sorts before and doesn't, and every finite probe
    // sorts before all NaN points. Dropping NaN points here would
    // silently undercount (NaN point, NaN hi) pairs vs the join form
    // (RangeAggSpec pins the parity with a nan-safe brute force).
    val ptsChild = branch(dbl(pt), 1, 0, ptKeys, nulls(carryKeys) ++
      accs.map(a => Alias(a.contrib, a.out.name)()),
      keep(IsNotNull(pt), ptKeys, ptPlan))
    // probesLo FIRST: Union takes output attrs from its head child, so
    // the carried keys keep their ORIGINAL exprIds and the aggregate's
    // grouping expressions resolve unchanged
    val union = Union(Seq(probesLo, probesHi, ptsChild), byName = false,
      allowMissingCol = false)

    val node = RangeAggPrefixNode(equiKeys.length, carryKeys.length,
      accs.map(_.out).toSeq, union)
    val hidden = Alias(countOf(pairAcc), "_graft_pair_cnt")()
    val agg = Aggregate(keyAttrs, mapped :+ hidden, node)
    // inner-join semantics: a group exists iff it has ≥1 qualifying
    // pair. A GLOBAL aggregate always emits its one row — there the
    // zero-pair answer is (0, null, ...), which the remapped
    // count/sum expressions already produce, so no filter
    val filt =
      if (keyAttrs.isEmpty) agg
      else Filter(GreaterThan(hidden.toAttribute, Literal(0L)), agg)
    Some(Project(mapped.map(_.toAttribute), filt))
  }
}

/** Merged-event-stream prefix node. Payload (after the m carried
  * interval key columns): c_0..k-1, the per-point contributions (long).
  * Output: the carried key columns followed by k signed-prefix columns,
  * ONE ROW PER PROBE. */
case class RangeAggPrefixNode(nEquiKeys: Int, nKeys: Int,
                              accOut: Seq[AttributeReference],
                              child: LogicalPlan) extends SortedStreamNode {
  override protected def nCarried: Int = nKeys
  override protected def produced: Seq[AttributeReference] = accOut
  override def toExec(child: SparkPlan): SparkPlan =
    RangeAggPrefixExec(nEquiKeys, nKeys, accOut, child)
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : RangeAggPrefixNode = copy(child = newChild)
}

/** Physical prefix stitch. Summary: one partition's contribution totals
  * (points only; order-free). Seeds: exclusive per-partition offsets.
  * Emit: each probe's key columns plus sign × (offset + local running
  * total). In the keyed form the unchanged global stitch is exact: other
  * keys' points flank both probes of an interval and cancel in the
  * difference, or follow both and touch neither. */
case class RangeAggPrefixExec(nEquiKeys: Int, nKeys: Int,
                              accOut: Seq[AttributeReference],
                              child: SparkPlan) extends SortedStreamExec {
  override def nodeName: String = "RangeAggPrefix"
  override protected def nCarried: Int = nKeys
  override protected def produced: Seq[AttributeReference] = accOut

  override protected def scan(): Scan[Array[Long], Array[Long]] = {
    val k = accOut.length
    val m = nKeys
    val base = Head + nEquiKeys // first carried-key ordinal
    val cBase = base + m        // first contribution ordinal
    val keyTypes = child.output.slice(base, base + m).map(_.dataType).toArray
    val outTypes: Array[DataType] = keyTypes ++ Array.fill(k)(LongType)
    def add(run: Array[Long], row: InternalRow): Unit = {
      var i = 0
      while (i < k) { run(i) = addX(run(i), row.getLong(cBase + i)); i += 1 }
    }
    Scan[Array[Long], Array[Long]](
      summary = { it =>
        val acc = new Array[Long](k)
        it.foreach(row => if (row.getInt(2) == 0) add(acc, row))
        acc
      },
      seeds = totals => totals.scanLeft(new Array[Long](k))((run, t) =>
        Array.tabulate(k)(i => addX(run(i), t(i)))).init,
      emit = { (offset, it) =>
        val run = offset.clone()
        val proj = UnsafeProjection.create(outTypes)
        val out = new GenericInternalRow(m + k)
        it.flatMap { row =>
          val sign = row.getInt(2)
          if (sign == 0) { add(run, row); Iterator.empty }
          else {
            passThrough(row, base, keyTypes, out)
            var j = 0
            while (j < k) {
              out.update(m + j, if (sign > 0) run(j) else -run(j)); j += 1
            }
            Iterator.single[InternalRow](proj(out))
          }
        }
      })
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : RangeAggPrefixExec = copy(child = newChild)
}
