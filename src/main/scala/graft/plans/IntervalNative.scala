package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSeq, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

/** NATIVE keyed interval × interval overlap join — the second operator on
  * the [[AsofNative]] whole-operator tier (custom `LogicalPlan` ->
  * `Strategy` -> physical `SparkPlan`), and the tier's one range join.
  *
  * A keyed POINT-in-interval join is the same join: pass the point column
  * as both left bounds (`lLoCol = lHiCol = point`). The left interval
  * `[p, p]` overlaps `[lo, hi]` iff `lo <= p <= hi`, a null point is a
  * null bound (never matches; null-padded under LEFT OUTER), and the plan
  * is the same one exchange and one sort per side.
  *
  * The encodable shapes ([[graft.operators.RangeJoin.intervalOverlap]],
  * [[graft.operators.RangeJoin.pointInInterval]]) replicate rows into
  * fixed-width cells, and the overlap shape needs an ownership rule so
  * each overlapping pair is counted once; their cost carries the
  * cell-replication factor of the wider side. With an equi-key (campaign
  * vs session per user, value bands per category — the common production
  * case) none of that is necessary:
  *
  *  - `requiredChildDistribution`: both sides clustered on the equi-key —
  *    ONE exchange per side (none for a side already hash-partitioned on
  *    it) and ZERO row replication regardless of interval width — the
  *    open-ended-interval blowup of the bucketed shape cannot occur;
  *  - `requiredChildOrdering`: (key, lo) on BOTH sides;
  *  - `doExecute`: one plane-sweep merge per co-partition. The two
  *    streams are merged in `lo` order; each arriving interval (a) evicts
  *    the other side's ACTIVE entries whose `hi` has fallen behind its
  *    `lo` (min-heap on `hi`, O(log a) per eviction), (b) pairs with
  *    every surviving active entry — a match BY CONSTRUCTION: the active
  *    entry started no later (sorted `lo`) and ends no earlier than this
  *    `lo` (survived eviction) — and (c) enters its own side's active
  *    set. Each overlapping pair is emitted exactly once, by whichever
  *    interval arrives second. O(|L| + |R| + output + n·log a) with state
  *    bounded by `a`, the maximum number of simultaneously open intervals
  *    per key — a data property, not a corpus size.
  *
  * Semantics: INNER join (LEFT OUTER via `outer = true` — unmatched left
  * rows null-padded, flushed on eviction / key change / stream end) —
  * `(l, r)` matches iff the keys are equal and
  * `l.lo <= r.hi AND r.lo <= l.hi` (inclusive both ends, touching
  * endpoints overlap — the [[graft.operators.RangeJoin]] rule). Rows with
  * a null bound never match; EMPTY intervals (`lo > hi`) never match —
  * the interval reading, a DOCUMENTED divergence from the raw SQL
  * predicate, which can accept an inverted interval (`l=[10,5]` vs
  * `r=[0,20]`) that no sweep order can represent; callers with possibly
  * inverted rows must filter or swap bounds first (the same contract as
  * a descending as-of). Null keys group together (natural ordering
  * treats nulls as equal, the [[AsofNative]] rule). Output order is
  * unspecified, as for any join.
  *
  * Registered via `SparkSessionExtensions.injectPlannerStrategy`
  * ([[graft.GraftExtensions]]). */
object IntervalNative {

  /** Active-set entry: an open interval's `hi`, its (already projected)
    * row, and — for the LEFT OUTER variant — whether it has paired yet. */
  private final class ActiveEntry(val hi: Any, val row: InternalRow,
                                  var matched: Boolean)

  /** Logical node: keyed overlap join of `left` intervals `[lLo, lHi]`
    * against `right` intervals `[rLo, rHi]`, appending `payload`
    * attributes from the right side. `outer` switches INNER → LEFT OUTER
    * (every left row emitted; unmatched ones null-padded). */
  case class IntervalJoinNode(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                              lLo: Expression, lHi: Expression,
                              rLo: Expression, rHi: Expression,
                              payload: Seq[Attribute], outer: Boolean,
                              left: LogicalPlan, right: LogicalPlan)
      extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ (if (outer) payload.map(_.withNullability(true)) else payload)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinNode =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy: the single-pattern translation. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case IntervalJoinNode(lk, rk, llo, lhi, rlo, rhi, pl, outer, l, r) =>
        IntervalJoinExec(lk, rk, llo, lhi, rlo, rhi, pl, outer,
          planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  /** Physical keyed plane-sweep overlap join. */
  case class IntervalJoinExec(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                              lLo: Expression, lHi: Expression,
                              rLo: Expression, rHi: Expression,
                              payload: Seq[Attribute], outer: Boolean,
                              left: SparkPlan, right: SparkPlan)
      extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ (if (outer) payload.map(_.withNullability(true)) else payload)

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      (leftKeys :+ lLo).map(SortOrder(_, Ascending)),
      (rightKeys :+ rLo).map(SortOrder(_, Ascending)))

    override def outputPartitioning: Partitioning = left.outputPartitioning

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
      copy(left = newLeft, right = newRight)

    protected override def doExecute(): RDD[InternalRow] = {
      val leftOut = left.output
      val rightOut = right.output
      val lKeys = leftKeys
      val rKeys = rightKeys
      val lLoE = lLo; val lHiE = lHi; val rLoE = rLo; val rHiE = rHi
      val pl = payload
      val outAttrs = output
      val isOuter = outer
      // one comparator for the shared bound type, chosen ONCE from the
      // declared type (long-typed bounds must not round through doubles
      // past 2^53)
      val isLongCmp = lLoE.dataType match {
        case LongType | TimestampType => true
        case DoubleType => false
        case t => throw new IllegalStateException(s"unsupported bound type $t")
      }
      left.execute().zipPartitions(right.execute(),
          preservesPartitioning = true) { (lIt, rIt) =>
        val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
        val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
        val lLoB = BindReferences.bindReference(lLoE, AttributeSeq(leftOut))
        val lHiB = BindReferences.bindReference(lHiE, AttributeSeq(leftOut))
        val rLoB = BindReferences.bindReference(rLoE, AttributeSeq(rightOut))
        val rHiB = BindReferences.bindReference(rHiE, AttributeSeq(rightOut))
        val payloadProj =
          UnsafeProjection.create(pl.map(a => a: Expression), rightOut)
        val keyOrd =
          RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
        // outer: the payload slots of the bound input schema must be
        // nullable, or codegen skips the null check and reads garbage
        // zeros out of the null-padded row
        val outProj = UnsafeProjection.create(
          outAttrs.map(a => a: Expression),
          leftOut ++ (if (isOuter) pl.map(_.withNullability(true)) else pl))
        val joined = new JoinedRow
        def cmp(a: Any, b: Any): Int =
          if (isLongCmp) java.lang.Long.compare(a.asInstanceOf[Long],
            b.asInstanceOf[Long])
          else java.lang.Double.compare(a.asInstanceOf[Double],
            b.asInstanceOf[Double])
        def heap(): mutable.PriorityQueue[ActiveEntry] =
          mutable.PriorityQueue.empty[ActiveEntry](
            Ordering.fromLessThan[ActiveEntry]((x, y) =>
              cmp(x.hi, y.hi) > 0)) // reversed: dequeue = smallest hi
        val nullPayload = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(pl.size)

        new Iterator[InternalRow] {
          // per-key active sets: intervals whose lo has passed the sweep,
          // keyed rows alive until their hi falls behind the sweep point
          private var activeL = heap() // (l_hi, full left row)
          private var activeR = heap() // (r_hi, projected payload row)
          private val out = mutable.Queue.empty[InternalRow]
          // each side's head row with its key and bounds, evaluated once
          // when the row is pulled
          private var lHead: InternalRow = _
          private var lKey: InternalRow = _
          private var lB: (Any, Any) = _
          private var rHead: InternalRow = _
          private var rKey: InternalRow = _
          private var rB: (Any, Any) = _
          private var curKey: InternalRow = _
          private var flushed = false

          // LEFT OUTER: a left interval leaving the active set (or a left
          // row never entering it) without ever pairing emits null-padded
          private def emitUnmatched(e: ActiveEntry): Unit =
            if (isOuter && !e.matched)
              out.enqueue(outProj(joined(e.row, nullPayload)).copy())

          private def drainL(): Unit =
            while (activeL.nonEmpty) emitUnmatched(activeL.dequeue())

          private def newKey(k: InternalRow): Unit = {
            if (curKey == null || keyOrd.compare(curKey, k) != 0) {
              drainL(); activeR.clear()
              curKey = k
            }
          }

          // (lo, hi) of a head row, or null when a bound is null or the
          // interval is empty — such rows never match and are dropped
          private def bounds(row: InternalRow, loB: Expression,
                             hiB: Expression): (Any, Any) = {
            val lo = loB.eval(row); val hi = hiB.eval(row)
            if (lo == null || hi == null || cmp(lo, hi) > 0) null
            else (lo, hi)
          }

          private def fill(): Unit = {
            while (out.isEmpty && (lHead != null || rHead != null ||
                lIt.hasNext || rIt.hasNext)) {
              if (lHead == null && lIt.hasNext) {
                lHead = lIt.next().copy()
                lKey = lKeyProj(lHead).copy(); lB = bounds(lHead, lLoB, lHiB)
              }
              if (rHead == null && rIt.hasNext) {
                rHead = rIt.next().copy()
                rKey = rKeyProj(rHead).copy(); rB = bounds(rHead, rLoB, rHiB)
              }
              // pick the side whose head sweeps next: key order first,
              // then lo order (tie -> either; each pair still emitted
              // exactly once, by the interval processed second)
              val takeLeft =
                if (lHead == null) false
                else if (rHead == null) true
                else {
                  val kc = keyOrd.compare(lKey, rKey)
                  if (kc != 0) kc < 0
                  else if (lB == null) true // degenerate: consume + drop now
                  else if (rB == null) false
                  else cmp(lB._1, rB._1) <= 0
                }
              // State discipline (r12 advisor): (a) evict the ARRIVING
              // side's own active set against this lo too — future
              // opposite rows at this key arrive with lo >= this one
              // (merge order), so an own-side entry whose hi has fallen
              // behind can never match again; (b) enqueue into the
              // active set ONLY while the opposite stream still has a
              // pending row of the SAME key (heads are refilled before
              // the branch, so a null head means that iterator is
              // exhausted; sorted keys mean a differing head key closes
              // this key) whose lo does not already lie past this row's
              // hi (later opposite rows of the key arrive with a larger
              // lo) — otherwise the entry is unmatchable dead state, and
              // an unpaired LEFT OUTER row is emitted null-padded now.
              // Together these keep per-key state at O(max
              // simultaneously open intervals) even when one side's
              // stream runs dry under a heavy key, instead of degrading
              // to O(key-group size).
              if (takeLeft) {
                newKey(lKey)
                if (lB != null) {
                  while (activeR.nonEmpty && cmp(activeR.head.hi, lB._1) < 0)
                    activeR.dequeue()
                  while (activeL.nonEmpty && cmp(activeL.head.hi, lB._1) < 0)
                    emitUnmatched(activeL.dequeue())
                  val paired = activeR.nonEmpty
                  activeR.foreach { e =>
                    out.enqueue(outProj(joined(lHead, e.row)).copy())
                  }
                  if (rHead != null && keyOrd.compare(lKey, rKey) == 0 &&
                      (rB == null || cmp(rB._1, lB._2) <= 0))
                    activeL.enqueue(new ActiveEntry(lB._2, lHead, paired))
                  else if (isOuter && !paired)
                    out.enqueue(outProj(joined(lHead, nullPayload)).copy())
                } else if (isOuter) {
                  // LEFT OUTER keeps degenerate left rows (null bound /
                  // empty interval) as null-padded output — the SQL
                  // LEFT JOIN reading of "never matches"
                  out.enqueue(outProj(joined(lHead, nullPayload)).copy())
                }
                lHead = null
              } else if (rHead != null) {
                newKey(rKey)
                if (rB != null) {
                  while (activeL.nonEmpty && cmp(activeL.head.hi, rB._1) < 0)
                    emitUnmatched(activeL.dequeue())
                  while (activeR.nonEmpty && cmp(activeR.head.hi, rB._1) < 0)
                    activeR.dequeue()
                  val pRow = payloadProj(rHead).copy()
                  activeL.foreach { e =>
                    out.enqueue(outProj(joined(e.row, pRow)).copy())
                    e.matched = true
                  }
                  if (lHead != null && keyOrd.compare(rKey, lKey) == 0 &&
                      (lB == null || cmp(lB._1, rB._2) <= 0))
                    activeR.enqueue(new ActiveEntry(rB._2, pRow, true))
                }
                rHead = null
              }
            }
            // both streams exhausted: surviving left entries that never
            // paired flush as null-padded (outer) — exactly once
            if (out.isEmpty && !flushed) { flushed = true; drainL() }
          }

          override def hasNext: Boolean = { fill(); out.nonEmpty }
          override def next(): InternalRow = { fill(); out.dequeue() }
        }
      }
    }
  }

  /** Builder: the user-facing frame API over the custom node. `payload`
    * names must not collide with `left`'s columns; all four bounds must
    * share one of long/timestamp/double. `outer = true` switches to LEFT
    * OUTER: every left row is emitted, unmatched (including degenerate
    * null-bound / empty-interval) left rows with null payload — the
    * enrich-every-point production shape, same sweep, same one exchange
    * per side. */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
           lLoCol: String, lHiCol: String, rLoCol: String, rHiCol: String,
           payload: Seq[String], outer: Boolean = false): DataFrame = {
    val l = left.queryExecution.analyzed
    // fresh exprIds on the right subtree — the [[AsofNative.join]]
    // self-enrichment rule (a custom node never passes through
    // DeduplicateRelations)
    val r0 = right.queryExecution.analyzed
    val r = org.apache.spark.sql.catalyst.plans.logical.Project(
      r0.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), r0)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"IntervalNative.join: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    val llo = attr(l, lLoCol); val lhi = attr(l, lHiCol)
    val rlo = attr(r, rLoCol); val rhi = attr(r, rHiCol)
    Seq(llo, lhi, rlo, rhi).foreach(a => require(
      a.dataType == LongType || a.dataType == TimestampType ||
        a.dataType == DoubleType,
      s"IntervalNative.join: bound column ${a.name} must be " +
        s"long/timestamp/double, got ${a.dataType}"))
    require(Seq(lhi, rlo, rhi).forall(_.dataType == llo.dataType),
      "IntervalNative.join: all four bounds must share a type")
    payload.foreach(p => require(!left.columns.contains(p),
      s"IntervalNative.join: payload '$p' collides with a left column"))
    val node = IntervalJoinNode(
      keys.map(attr(l, _)), keys.map(attr(r, _)), llo, lhi, rlo, rhi,
      payload.map(attr(r, _)), outer, l, r)
    org.apache.spark.sql.graft.GraftSql.ofRows(left.sparkSession, node)
  }

  /** STATS-DRIVEN operator selection: a right side under the broadcast
    * threshold takes the broadcast predicate join (no exchange, no sort on
    * the left), anything larger takes the native plane sweep. A custom
    * `SparkPlan` cannot be re-planned mid-query by AQE, so the pick is made
    * here, at plan time, on the same size estimate AQE's join demotion
    * reads. The predicate
    * path reproduces the sweep's documented semantics exactly: null-safe
    * key equality (null keys group), and BOTH sides' intervals must be
    * non-empty (`lo <= hi` joins the condition — the raw overlap
    * predicate alone would accept inverted intervals the sweep rejects);
    * null bounds fail the predicate as they never match the sweep. */
  def autoJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               lLoCol: String, lHiCol: String, rLoCol: String, rHiCol: String,
               payload: Seq[String], outer: Boolean = false): DataFrame = {
    val conf = left.sparkSession.sessionState.conf
    val thresh = conf.autoBroadcastJoinThreshold
    val rightSize = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (thresh > 0 && rightSize <= thresh) {
      // rename EVERY right column behind a __r_ prefix: interval joins
      // naturally carry the SAME lo/hi names on both sides (the
      // self-enrichment shape the native arm supports via fresh exprIds),
      // which would make every bound reference ambiguous — and only when
      // the input is small enough to broadcast. Also mirror the native
      // arm's payload-collision assert.
      payload.foreach(p => require(!left.columns.contains(p),
        s"IntervalNative.autoJoin: payload '$p' collides with a left column"))
      val rCols = (keys ++ Seq(rLoCol, rHiCol) ++ payload).distinct
      val r2 = rCols.foldLeft(right.select(rCols.map(col): _*)) {
        (d, c) => d.withColumnRenamed(c, s"__r_$c")
      }
      val cond = (keys.map(k => col(k) <=> col(s"__r_$k")) ++ Seq(
        col(lLoCol) <= col(s"__r_$rHiCol"),
        col(s"__r_$rLoCol") <= col(lHiCol),
        col(lLoCol) <= col(lHiCol),
        col(s"__r_$rLoCol") <= col(s"__r_$rHiCol")))
        .reduce(_ && _)
      left.join(broadcast(r2), cond, if (outer) "left_outer" else "inner")
        .select(left.columns.map(col) ++
          payload.map(p => col(s"__r_$p").as(p)): _*)
    } else join(left, right, keys, lLoCol, lHiCol, rLoCol, rHiCol,
      payload, outer)
  }
}
