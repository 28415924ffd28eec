package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSeq, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** NATIVE as-of join — the whole-operator Catalyst extension tier
  * (custom `LogicalPlan` node -> planner `Strategy` -> physical
  * `SparkPlan`), for the operator [[graft.operators.AsofJoin]] otherwise
  * expresses as a union+window plan. The physical operator declares what
  * the window plan had to ENCODE:
  *
  *  - `requiredChildDistribution`: both sides clustered on the join key —
  *    EnsureRequirements co-partitions them (ONE exchange per side, none
  *    if a side is already hash-partitioned on the key, e.g. arriving
  *    from an upstream aggregation — the case the union+window shape can
  *    never exploit, since the union destroys the sides' partitionings);
  *  - `requiredChildOrdering`: (key, ts) left, (key, ts, tieBreak)
  *    right — EnsureRequirements inserts the sorts;
  *  - `doExecute`: one streaming merge pass per co-partition, O(|L|+|R|)
  *    with O(1) state (the buffered right head + the last matching right
  *    row) — never a range self-join, never a buffered window frame.
  *
  * Semantics are IDENTICAL to [[graft.operators.AsofJoin.asofJoin]]
  * backward mode (property-checked in AsofNativeSpec): for each left row
  * the latest right row with `right.ts <= left.ts` in the same key
  * group; among equal-ts right rows the largest tieBreak wins; null left
  * ts and missing matches yield null payload; null right ts never
  * matches; null keys group together (the window plan's grouping rule).
  *
  * Registered through `SparkSessionExtensions.injectPlannerStrategy`
  * ([[graft.GraftExtensions]]) — the injection point Spark provides for
  * exactly this; only frame construction over the custom node needs the
  * [[org.apache.spark.sql.graft.GraftSql]] accessor. */
object AsofNative {

  /** Logical node: left-outer as-of enrichment of `left` with `payload`
    * attributes from `right`. */
  case class AsofJoinNode(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                          leftTs: Expression, rightTs: Expression,
                          payload: Seq[Attribute], tieBreak: Expression,
                          left: LogicalPlan, right: LogicalPlan)
      extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ payload.map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy: the single-pattern translation to the physical
    * operator. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsofJoinNode(lk, rk, lts, rts, pl, tie, l, r) =>
        AsofJoinExec(lk, rk, lts, rts, pl, tie, planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  /** Physical as-of merge join. */
  case class AsofJoinExec(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                          leftTs: Expression, rightTs: Expression,
                          payload: Seq[Attribute], tieBreak: Expression,
                          left: SparkPlan, right: SparkPlan)
      extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ payload.map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
      (rightKeys :+ rightTs :+ tieBreak).map(SortOrder(_, Ascending)))

    override def outputPartitioning: Partitioning = left.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = left.outputOrdering

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
      copy(left = newLeft, right = newRight)

    protected override def doExecute(): RDD[InternalRow] = {
      val leftOut = left.output
      val rightOut = right.output
      val lKeys = leftKeys
      val rKeys = rightKeys
      val lTs = leftTs
      val rTs = rightTs
      val pl = payload
      val outAttrs = output
      left.execute().zipPartitions(right.execute(),
          preservesPartitioning = true) { (lIt, rIt) =>
        val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
        val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
        val lTsBound = BindReferences.bindReference(lTs, AttributeSeq(leftOut))
        val rTsBound = BindReferences.bindReference(rTs, AttributeSeq(rightOut))
        val payloadProj =
          UnsafeProjection.create(pl.map(a => a: Expression), rightOut)
        val keyOrd =
          RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
        // the payload side of the projection input MUST be declared
        // nullable: unmatched left rows ride a null-filled row, and a
        // non-nullable input attr (e.g. a long payload from a file with
        // required fields) would make BoundReference skip its null check
        // and read garbage zeros instead of emitting NULL
        val outProj = UnsafeProjection.create(
          outAttrs.map(a => a: Expression),
          leftOut ++ pl.map(_.withNullability(true)))
        val joined = new JoinedRow
        val nullPayload = new GenericInternalRow(pl.length)

        new Iterator[InternalRow] {
          // O(1) per-partition state: the buffered (copied) right head
          // and the last right row that matched the current key
          private var rHead: InternalRow = _
          private var lastPayload: InternalRow = _
          private var lastKey: UnsafeRow = _

          override def hasNext: Boolean = lIt.hasNext

          override def next(): InternalRow = {
            val lRow = lIt.next()
            val lKey = lKeyProj(lRow)
            if (lastKey != null && keyOrd.compare(lastKey, lKey) != 0) {
              lastPayload = null; lastKey = null
            }
            val lTsVal = lTsBound.eval(lRow)
            if (lTsVal != null) {
              var advancing = true
              while (advancing) {
                if (rHead == null && rIt.hasNext) rHead = rIt.next().copy()
                if (rHead == null) advancing = false
                else {
                  val rKey = rKeyProj(rHead)
                  val c = keyOrd.compare(rKey, lKey)
                  if (c < 0) rHead = null // key already passed by left
                  else if (c > 0) advancing = false
                  else {
                    val rTsVal = rTsBound.eval(rHead)
                    if (rTsVal == null) rHead = null // never matches
                    else if (rTsVal.asInstanceOf[Long]
                        <= lTsVal.asInstanceOf[Long]) {
                      lastPayload = payloadProj(rHead).copy()
                      lastKey = rKey.copy()
                      rHead = null // superseded by any later match
                    } else advancing = false
                  }
                }
              }
            }
            val p =
              if (lTsVal != null && lastPayload != null) lastPayload
              else nullPayload
            outProj(joined(lRow, p))
          }
        }
      }
    }
  }

  /** Builder: the user-facing frame API over the custom node. Column
    * names in `payload` must not collide with `left`'s. */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, payload: Seq[String],
           tieBreak: String): DataFrame = {
    val l = left.queryExecution.analyzed
    // fresh exprIds on the whole right subtree: when both sides derive
    // from the same scan (the common self-enrichment case) their
    // attributes share ids, and a custom node never passes through the
    // analyzer's DeduplicateRelations — ambiguous bindings would
    // mis-resolve at planning. The alias projection collapses into the
    // scan during optimization.
    val r0 = right.queryExecution.analyzed
    val r = org.apache.spark.sql.catalyst.plans.logical.Project(
      r0.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), r0)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"AsofNative.join: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    val lts = attr(l, leftTs); val rts = attr(r, rightTs)
    Seq(lts, rts).foreach(a => require(
      a.dataType == TimestampType || a.dataType == LongType,
      s"AsofNative.join: ts column ${a.name} must be timestamp/long, " +
        s"got ${a.dataType}"))
    require(lts.dataType == rts.dataType,
      "AsofNative.join: ts columns must share a type")
    payload.foreach(p => require(!left.columns.contains(p),
      s"AsofNative.join: payload '$p' collides with a left column"))
    val node = AsofJoinNode(
      keys.map(attr(l, _)), keys.map(attr(r, _)), lts, rts,
      payload.map(attr(r, _)), attr(r, tieBreak), l, r)
    org.apache.spark.sql.graft.GraftSql.ofRows(left.sparkSession, node)
  }

  /** STATS-DRIVEN operator selection — the native tier's other `autoJoin`
    * next to [[IntervalNative.autoJoin]] (ranges and points). As-of is
    * the one shape whose broadcast arm CANNOT be a plain predicate join:
    * "latest right row per left row" needs an
    * argmax after the join, and a window/groupBy over the joined frame
    * would re-shuffle the full left side — strictly WORSE than the sweep.
    * The genuinely exchange-free arm instead reshapes the small side: one
    * grouped aggregate packs each key's right rows into ONE
    * `sort_array(collect_list(struct(ts, tieBreak, payload…)))` row
    * (ascending lexicographic = exactly the sweep's (ts, tieBreak) match
    * preference), a broadcast EQUI-join attaches the array, and the match
    * is `element_at(filter(arr, ts <= left.ts), last)` — a narrow
    * projection. The big side takes ZERO exchange and ZERO sort (the
    * sweep costs one of each), at the price of array scans bounded by the
    * broadcast threshold.
    *
    * Semantics parity with [[join]], case by case: null left ts → the
    * `<=` predicate nulls out → empty filter → null payload; null right
    * ts → dropped by the same predicate inside `filter`; null keys group
    * together (`<=>` equi-condition); unmatched keys ride the left-outer
    * null array; equal-ts ties break to the largest tieBreak (ascending
    * sort, last element). AsofNativeSpec pins both arms row-identical and
    * asserts each plan shape.
    *
    * PRECONDITION — `tieBreak` must be unique per (key, ts). The packed
    * struct sorts lexicographically across ALL fields, so when (key, ts,
    * tieBreak) repeats, this arm resolves the residual tie by payload
    * values while the sweep arm's row_number picks an arbitrary tied row —
    * the two arms can legitimately return different (equally valid) rows,
    * and which one the caller sees depends on the stats-driven arm choice.
    * With a unique tieBreak (the row id / ingest sequence every as-of
    * consumer already carries), both arms are deterministic and
    * row-identical; the duplicate-(key,ts,tie) case is UNDEFINED by the
    * sweep arm itself (hash-partition order decides), so no arm can pin
    * it.
    *
    * `validate = true` makes the precondition CHECKABLE instead of prose:
    * on the broadcast arm the packed per-key array is already sorted, so
    * a duplicate (key, ts, tieBreak) is two ADJACENT elements with equal
    * (ts, tie) — one narrow pass over each bounded array, ridden into the
    * plan via raise_error (no extra job, no extra exchange), failing
    * loudly instead of silently arm-divergent results. The sweep arm is
    * deliberately NOT validated: the check there would cost a full
    * shuffle of the right side — as expensive as the join itself — and
    * the sweep is the arm whose tie resolution the caller already gets
    * today; opt in where divergence is possible, pay where it's cheap. */
  def autoJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               tieBreak: String, validate: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, collect_list,
      element_at, exists, filter, lit, raise_error, size, slice,
      sort_array, struct, when, zip_with}
    val conf = left.sparkSession.sessionState.conf
    val thresh = conf.autoBroadcastJoinThreshold
    val rightSize = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (thresh > 0 && rightSize <= thresh) {
      payload.foreach(p => require(!left.columns.contains(p),
        s"AsofNative.autoJoin: payload '$p' collides with a left column"))
      // indexed struct field names: payload may legitimately repeat the
      // ts/tieBreak columns, and duplicate struct field names would make
      // getField ambiguous
      val packed = struct(
        col(rightTs).as("__ts") +: col(tieBreak).as("__tie") +:
          payload.zipWithIndex.map { case (p, i) => col(p).as(s"__p$i") }: _*)
      val rawArr = sort_array(collect_list(packed))
      // validation: equal (ts, tie) pairs are ADJACENT in the sorted
      // array, so zip arr[1..n-1] with arr[2..n] (length-matched slices —
      // zip_with's null padding would false-positive on a trailing
      // null-ts row) and raise on any equal pair
      val arrChecked = if (!validate) rawArr else {
        val n = size(rawArr)
        val dupAdjacent = when(n >= 2, exists(
          zip_with(slice(rawArr, lit(1), n - 1), slice(rawArr, lit(2), n - 1),
            (a, b) => a.getField("__ts") <=> b.getField("__ts") &&
              a.getField("__tie") <=> b.getField("__tie")),
          x => x)).otherwise(lit(false))
        when(dupAdjacent, raise_error(lit(
          "AsofNative.autoJoin: duplicate (key, ts, tieBreak) on the " +
            "right side — the tie-break contract needs a unique " +
            "tieBreak per (key, ts); carry a row id / ingest sequence")))
          .otherwise(rawArr)
      }
      val agg = right
        .groupBy(keys.map(k => col(k).as(s"__r_$k")): _*)
        .agg(arrChecked.as("__asof_arr"))
      val joined =
        if (keys.isEmpty) left.crossJoin(broadcast(agg))
        else left.join(broadcast(agg),
          keys.map(k => col(k) <=> col(s"__r_$k")).reduce(_ && _),
          "left_outer")
      val matches = filter(col("__asof_arr"),
        x => x.getField("__ts") <= col(leftTs))
      joined
        // guarded element_at: size is null for unmatched keys and 0 for
        // no qualifying row — both land in the otherwise-null branch, and
        // the in-bounds index keeps the expression ANSI-safe too
        .withColumn("__asof_m",
          when(size(matches) >= 1, element_at(matches, size(matches))))
        .select(left.columns.map(col) ++
          payload.zipWithIndex.map { case (p, i) =>
            col("__asof_m").getField(s"__p$i").as(p) }: _*)
    } else join(left, right, keys, leftTs, rightTs, payload, tieBreak)
  }
}
