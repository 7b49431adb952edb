package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._

/** The sorted-stream scan shared by the range family ([[RangeAggPrefix]],
  * [[RangeExtrema]], [[RangeValueExtrema]]). Each merges points and
  * interval probes into one value-ordered stream, range-sorts it, and
  * answers every probe from one scan, so no (point, interval) pair is
  * ever materialized and the cost is O((n + q) log) at any band density.
  *
  * Stream layout (positional; [[SortedStream.branch]] builds it):
  *
  *   [v: double, tag: int, role: int, ek_0..e-1, carried…, payload…]
  *
  *  - v is the value image ([[SortedStream.dbl]]);
  *  - tag breaks ties at equal v: a probe with tag 0 sorts before the
  *    points (tag 1) of its value, one with tag 2 after, which pins the
  *    inclusivity of each bound;
  *  - role is 0 for a point and nonzero for a probe (the prefix operator
  *    stores the probe's sign there);
  *  - ek are the equi-key sort columns of the keyed form (e = 0 for a
  *    plain band), taken from the interval side on probes and the point
  *    side on points;
  *  - carried columns pass through to the output, one row per probe;
  *  - payload columns are the operator's own.
  *
  * The logical node ([[SortedStreamNode]]) marks every child column as
  * referenced: the exec reads the child by position, and ColumnPruning
  * would otherwise slim the union under a count()-style parent.
  *
  * Sort contract: the exec ([[SortedStreamExec]]) requires
  * OrderedDistribution on (ek…, v, tag), so EnsureRequirements inserts
  * the stock sampled range exchange and per-partition sort, the same
  * machinery a global ORDER BY uses. Equi keys lead, so each key is one
  * contiguous run; partition ids follow stream order.
  *
  * Two jobs over one exchange: the exec calls `child.execute()` once.
  * Job 1 collects one small summary per partition; the driver folds the
  * summaries in pid order into one seed per partition; job 2 re-scans
  * the same RDD from each partition's seed and emits one row per probe.
  * Job 2 re-reads the shuffle files job 1 produced, so only the cheap
  * per-partition sort runs twice. Job 1 does not always need that sort,
  * but routing it around the sort would take a second exchange of the
  * whole stream, which costs far more. Driver state is one summary per
  * partition.
  *
  * Key contract (NaN, −0.0, reused buffers):
  *  - values are ordered by their double image, so only types whose
  *    double cast is order- and equality-exact take this path
  *    ([[SortedStream.orderExact]]);
  *  - −0.0 is normalized to +0.0: SQL comparison says they are equal,
  *    the IEEE sort says they are not;
  *  - NaN needs no normalization: Spark's nan-safe sort (NaN greatest,
  *    NaN = NaN) reproduces SQL's NaN comparison, so tag order alone
  *    decides whether a NaN point meets a bound;
  *  - equi keys must sort exactly as SQL compares them
  *    ([[SortedStream.sortKeyExact]]); float and double keys get −0.0
  *    normalized in their own type ([[SortedStream.normKey]]); NaN keys
  *    form one run and compare equal through their raw bits; null keys
  *    never match (SQL `=`) and are dropped on both sides up front;
  *  - key values read from a shuffle row live in a reused buffer: a
  *    value held across rows is copied first ([[SortedStream.own]]), once
  *    per key run rather than once per row. */
object SortedStream {

  /** Stream columns ahead of the equi keys: v, tag, role. */
  val Head = 3

  /** One operator's half of the two-job scan. `summary` reduces one
    * partition in job 1; `seeds` folds the pid-ordered summaries on the
    * driver into one seed per partition; `emit` re-scans a partition
    * from its seed in job 2. All three run without the exec, so they
    * must not capture it. */
  final case class Scan[S, D](
      summary: Iterator[InternalRow] => S,
      seeds: IndexedSeq[S] => IndexedSeq[D],
      emit: (D, Iterator[InternalRow]) => Iterator[InternalRow])

  /** Double image that normalizes −0.0 to +0.0 (NaN and everything else
    * unchanged — IEEE: −0.0 + 0.0 = +0.0). */
  def dbl(e: Expression): Expression = Add(Cast(e, DoubleType), Literal(0.0))

  /** Types whose cast to double is order- AND equality-exact. */
  def orderExact(e: Expression): Boolean = e.dataType match {
    case DoubleType | FloatType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Every expression is deterministic and double-order-exact. */
  def bandExact(es: Expression*): Boolean =
    es.forall(e => e.deterministic && orderExact(e))

  /** Types an equi-key column may have: the keyed stream turns `=` into
    * sort contiguity, so sort equality must coincide with SQL equality.
    * That holds for every fixed-width atomic, binary-collated strings
    * and decimals; floats and doubles need −0.0 normalized. Collated
    * strings, arrays, structs and intervals decline. */
  def sortKeyExact(e: Expression): Boolean = e.dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType | _: DecimalType => true
    case s: StringType => s == StringType // UTF8_BINARY default only
    case _ => false
  }

  /** Equi-key pairs `(point side, interval side)` the stream can answer:
    * deterministic, sort-exact, the same type on both sides, and each
    * side referencing only its own plan. */
  def keysExact(equiKeys: Seq[(Expression, Expression)],
                ptPlan: LogicalPlan, ivPlan: LogicalPlan): Boolean =
    equiKeys.forall { case (pk, ik) =>
      pk.deterministic && ik.deterministic && sortKeyExact(pk) &&
        pk.dataType == ik.dataType &&
        pk.references.nonEmpty && pk.references.subsetOf(ptPlan.outputSet) &&
        ik.references.nonEmpty && ik.references.subsetOf(ivPlan.outputSet)
    }

  /** Sort image of an equi key: float/double get the −0.0 → +0.0
    * normalization in the key's own type (so the value set is
    * unchanged); every other allowed type already sorts as SQL compares. */
  def normKey(e: Expression): Expression = e.dataType match {
    case DoubleType => Add(e, Literal(0.0))
    case FloatType => Add(e, Literal(0.0f))
    case _ => e
  }

  /** `plan` without the rows whose `cond` fails or whose equi keys are
    * null (a null key never matches). */
  def keep(cond: Expression, keys: Seq[Expression],
           plan: LogicalPlan): Filter =
    Filter(keys.map(IsNotNull).foldLeft(cond)(And(_, _)), plan)

  /** Bands that can hold a point: lo ≤ hi, or lo < hi when both bounds
    * are strict (a strict-strict [x, x] matches nothing). Null bounds
    * fail too, since the comparison is null. */
  def nonEmptyBand(lo: Expression, hi: Expression,
                   strict: Boolean): Expression =
    if (strict) LessThan(dbl(lo), dbl(hi))
    else LessThanOrEqual(dbl(lo), dbl(hi))

  /** One branch of the merged stream over `plan`: the stream head, this
    * side's equi keys as `_graft_k<i>` sort columns, then `rest`. */
  def branch(v: Expression, tag: Int, role: Int, keys: Seq[Expression],
             rest: Seq[NamedExpression], plan: LogicalPlan): Project =
    Project(Seq(Alias(v, "_graft_v")(), Alias(Literal(tag), "_graft_tag")(),
      Alias(Literal(role), "_graft_role")()) ++
      keys.zipWithIndex.map { case (k, i) => Alias(normKey(k), s"_graft_k$i")() } ++
      rest, plan)

  /** Typed nulls standing in for the interval-side carried columns on
    * point rows. */
  def nulls(attrs: Seq[Attribute]): Seq[NamedExpression] =
    attrs.map(a => Alias(Literal(null, a.dataType), a.name)())

  /** Own a key value for retention across rows (strings are copied out
    * of the reused row buffer). */
  def own(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
    case other => other
  }

  /** Allocation-free equality of a row's key ordinal against an OWNED
    * value, matching Spark's `=`: floats and doubles compare raw bits
    * (NaN = NaN; −0.0 is already normalized), strings compare in place. */
  def keyRowEq(dt: DataType, row: InternalRow, ord: Int, b: Any): Boolean =
    if (b == null) row.isNullAt(ord)
    else if (row.isNullAt(ord)) false
    else dt match {
      case DoubleType => java.lang.Double.doubleToLongBits(row.getDouble(ord)) ==
        java.lang.Double.doubleToLongBits(b.asInstanceOf[Double])
      case FloatType => java.lang.Float.floatToIntBits(row.getFloat(ord)) ==
        java.lang.Float.floatToIntBits(b.asInstanceOf[Float])
      case _ => row.get(ord, dt) == b
    }

  /** Copies a row's equi keys into the owned `keys`, compare-then-copy:
    * key runs are contiguous, so this copies once per run. `valid` false
    * means `keys` holds nothing yet. */
  def holdKeys(row: InternalRow, types: Array[DataType], keys: Array[Any],
               valid: Boolean): Unit = {
    var i = 0
    while (i < types.length) {
      if (!valid || !keyRowEq(types(i), row, Head + i, keys(i)))
        keys(i) = own(row.get(Head + i, types(i)))
      i += 1
    }
  }

  /** A row's equi keys as a fresh owned array. */
  def ownKeys(row: InternalRow, types: Array[DataType]): Array[Any] =
    Array.tabulate[Any](types.length)(i => own(row.get(Head + i, types(i))))

  /** Sort-order compare of two OWNED key values, matching the range sort
    * exactly (NaN sorts last and equals itself under Double/Float.compare,
    * Spark's ordering; −0.0 is already normalized). */
  def cmpKey(dt: DataType, a: Any, b: Any): Int = dt match {
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double],
      b.asInstanceOf[Double])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float],
      b.asInstanceOf[Float])
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Copies `types.length` columns of `row` from ordinal `from` into
    * `out` from ordinal 0. */
  def passThrough(row: InternalRow, from: Int, types: Array[DataType],
                  out: InternalRow): Unit = {
    var i = 0
    while (i < types.length) {
      out.update(i, if (row.isNullAt(from + i)) null
        else row.get(from + i, types(i)))
      i += 1
    }
  }

  /** Exact add: a silent wrap would corrupt every downstream prefix, so
    * overflow fails loudly with the escape hatch named. The bound is the
    * CORPUS-WIDE running total — every point's contribution passes
    * through one global prefix, so a query whose per-GROUP sums are tiny
    * still trips this once the whole corpus' sum column passes 2^63
    * unscaled units (where the pair-join plan would succeed).
    * Deliberate: wrapping mod 2^64 would match the join form for
    * integral sums in non-ANSI mode but be silently wrong for decimal
    * sums whose group totals exceed a long, and loud-never-wrong wins. */
  def addX(a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch {
      case _: ArithmeticException => throw new ArithmeticException(
        "graft range-agg prefix: 64-bit accumulator overflow - the " +
          "CORPUS-WIDE total of a sum column passed 2^63 unscaled " +
          "units (the running prefix is global, so this can fire even " +
          "when every per-group sum is small); set " +
          "spark.graft.rangeJoin.aggPrefix=false to fall back to the " +
          "pair-join plan")
    }

  private[plans] def outputOf(childOut: Seq[Attribute], nEquiKeys: Int,
                              nCarried: Int,
                              produced: Seq[Attribute]): Seq[Attribute] =
    childOut.slice(Head + nEquiKeys, Head + nEquiKeys + nCarried) ++ produced
}

/** Logical merged-stream node: outputs the `nCarried` child columns after
  * the equi keys (the same attributes, passed through) followed by the
  * `produced` columns, one row per probe. */
abstract class SortedStreamNode extends UnaryNode {
  def nEquiKeys: Int
  protected def nCarried: Int
  protected def produced: Seq[AttributeReference]
  /** The physical scan over the planned child. */
  def toExec(child: SparkPlan): SparkPlan

  override def output: Seq[Attribute] =
    SortedStream.outputOf(child.output, nEquiKeys, nCarried, produced)
  // the produced columns are born here (the child's payload columns are
  // inputs, not the same attributes)
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  // positional layout: every child column is required (see SortedStream)
  override def references: AttributeSet = child.outputSet
}

/** Physical merged-stream scan: the ordered child distribution and the
  * two-job skeleton (see [[SortedStream]]). A subclass supplies only its
  * [[SortedStream.Scan]]. */
abstract class SortedStreamExec extends UnaryExecNode {
  def nEquiKeys: Int
  protected def nCarried: Int
  protected def produced: Seq[AttributeReference]
  /** Built on the driver from the child layout. */
  protected def scan(): SortedStream.Scan[_, _]

  override def output: Seq[Attribute] =
    SortedStream.outputOf(child.output, nEquiKeys, nCarried, produced)

  override def producedAttributes: AttributeSet = AttributeSet(produced)

  private def streamOrder: Seq[SortOrder] =
    (child.output.slice(SortedStream.Head, SortedStream.Head + nEquiKeys) ++
      child.output.take(2)).map(SortOrder(_, Ascending))

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(streamOrder) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(streamOrder)

  // the range partitioning is on stream columns the output drops
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  override protected def doExecute(): RDD[InternalRow] = {
    val head = child.output.take(SortedStream.Head)
    require(head.map(_.dataType) == Seq(DoubleType, IntegerType, IntegerType),
      s"$nodeName child layout violated: $head")
    run(child.execute(), scan())
  }

  private def run[S, D](rdd: RDD[InternalRow],
                        scan: SortedStream.Scan[S, D]): RDD[InternalRow] = {
    val summary = scan.summary
    val emit = scan.emit
    val summaries = rdd.mapPartitionsWithIndex((pid, it) =>
      Iterator.single(pid -> summary(it))).collect().sortBy(_._1)
    val seeds = scan.seeds(summaries.toIndexedSeq.map(_._2))
    rdd.mapPartitionsWithIndex((pid, it) => emit(seeds(pid), it))
  }
}
