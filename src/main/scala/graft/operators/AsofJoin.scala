package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the latest right row with
  * `right.ts <= left.ts` in the same key partition (the time-series
  * enrichment operator Spark has no built-in for).
  *
  * Implementation is the union+window plan, not a range join: tag both
  * sides, union them, sort each key partition once by (ts, side, tieBreak)
  * and forward-fill the right side's payload. One shuffle on the key, work
  * linear in |left| + |right| — a range-condition join would rescan right
  * rows per left row and explodes on dense keys, so this shape is what
  * survives at scale. Ties in ts resolve right-before-left (<= semantics),
  * and among right rows the largest `tieBreak` wins — fully deterministic.
  */
object AsofJoin {

  /** Left as-of join. `payload` columns of `right` are attached to every
    * left row (null when no prior right row exists — left-outer semantics).
    * `tieBreak` must uniquely order right rows sharing a timestamp.
    *
    * The payload travels as ONE struct column through the forward-fill:
    * filling each payload column independently would stitch non-null values
    * from *different* right rows together whenever the latest right row
    * carries a null field (a franken-row that never existed). A null struct
    * marks left rows; the fill therefore always yields a complete row. */
  /** Shared tagging scaffold for every as-of variant: validates payload,
    * builds the union-ready right/left frames with the `__p` payload
    * struct. The matched right row's timestamp always rides INSIDE `__p`
    * (`__mts`): a tolerance/nearest check must compare against the row the
    * fill actually picked, and a separately-filled ts column could come
    * from a different right row than the payload (the franken-row hazard
    * the struct exists to prevent). A null right timestamp can never
    * satisfy the as-of predicate, so those rows are filtered — without
    * this, asc_nulls_first would sort them before everything and their
    * payload would enrich left rows that contractually get null. */
  private def tagSides(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTs: String, rightTs: String, payload: Seq[String],
                       tieBreak: String): (DataFrame, DataFrame) = {
    val leftCols = left.columns.toSeq
    require(payload.forall(right.columns.contains), "payload must be right cols")
    require(!payload.contains("__mts"), "payload name __mts is reserved")
    val keyCols = keys.map(col)
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c)) :+
        org.apache.spark.sql.types.StructField("__mts",
          right.schema(rightTs).dataType))
    val taggedRight = right.filter(col(rightTs).isNotNull).select(
      keyCols ++
        Seq(col(rightTs).as("__ts"), lit(0).as("__side"),
          col(tieBreak).as("__tie"),
          struct(payload.map(col) :+ col(rightTs).as("__mts"): _*).as("__p")) ++
        leftCols.filterNot(keys.contains).map(c => lit(null).as(c)): _*)
    val taggedLeft = left.select(
      keyCols ++
        Seq(col(leftTs).as("__ts"), lit(1).as("__side"),
          lit(null).as("__tie"), lit(null).cast(payloadType).as("__p")) ++
        leftCols.filterNot(keys.contains).map(col): _*)
    (taggedRight, taggedLeft)
  }

  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               tieBreak: String, direction: String = "backward",
               toleranceMicros: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asofJoin: direction must be backward|forward, got $direction")
    require(toleranceMicros.forall(_ >= 0L), "tolerance must be >= 0")
    val leftCols = left.columns.toSeq
    val keyCols = keys.map(col)
    val (taggedRight, taggedLeft) =
      tagSides(left, right, keys, leftTs, rightTs, payload, tieBreak)

    // backward: ascending scan — the running last right row is the latest
    // one at-or-before each left row. forward: the SAME single-pass plan on
    // the reversed order — in a descending scan, "last right seen" is the
    // earliest one at-or-after the left row. Either way: one shuffle on the
    // key, one sort, no range self-join.
    val ord =
      if (direction == "backward")
        Seq(col("__ts").asc_nulls_first, col("__side"),
          col("__tie").asc_nulls_first)
      else
        Seq(col("__ts").desc_nulls_first, col("__side"),
          col("__tie").desc_nulls_first)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = taggedRight.unionByName(taggedLeft)
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val payloadOut = toleranceMicros match {
      case None => payload.map(c => col(s"__p.$c").as(c))
      case Some(t) =>
        // beyond-tolerance matches null out — left-outer semantics with a
        // bounded lookback (pandas merge_asof's `tolerance`); the delta is
        // non-negative by the fill direction, and a null match keeps null
        // through the comparison
        val delta =
          if (direction == "backward")
            unix_micros(col("__ts")) - unix_micros(col("__p.__mts"))
          else unix_micros(col("__p.__mts")) - unix_micros(col("__ts"))
        payload.map(c => when(delta <= t, col(s"__p.$c")).as(c))
    }
    filled.select(leftCols.map(col) ++ payloadOut: _*)
  }

  /** Nearest-direction as-of join (pandas merge_asof `direction='nearest'`):
    * each left row takes whichever of {latest at-or-before, earliest
    * at-or-after} right row is closer in time; exact ties prefer the
    * backward (earlier) match. BOTH directional fills run over the SAME
    * key partitioning — one exchange, two window sorts (ascending fill +
    * descending fill) — so the plan stays linear like [[asofJoin]], never
    * a range join. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String, payload: Seq[String],
                      tieBreak: String): DataFrame = {
    val leftCols = left.columns.toSeq
    val keyCols = keys.map(col)
    val (taggedRight, taggedLeft) =
      tagSides(left, right, keys, leftTs, rightTs, payload, tieBreak)
    val wB = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ts").asc_nulls_first, col("__side"),
        col("__tie").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ts").desc_nulls_first, col("__side"),
        col("__tie").desc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = taggedRight.unionByName(taggedLeft)
      .withColumn("__pb", last(col("__p"), ignoreNulls = true).over(wB))
      .withColumn("__pf", last(col("__p"), ignoreNulls = true).over(wF))
      .filter(col("__side") === 1)
    val deltaB = unix_micros(col("__ts")) - unix_micros(col("__pb.__mts"))
    val deltaF = unix_micros(col("__pf.__mts")) - unix_micros(col("__ts"))
    // no forward match -> backward (possibly null); both present -> smaller
    // delta, ties backward. Null-safe: a null deltaB with a present deltaF
    // falls through to the forward branch.
    val pickBackward = deltaF.isNull || (deltaB.isNotNull && deltaB <= deltaF)
    val chosen = when(pickBackward, col("__pb")).otherwise(col("__pf"))
    filled.select(leftCols.map(col) ++
      payload.map(c => chosen.getField(c).as(c)): _*)
  }

  /** DuckDB mirror of `j_asof_nearest`: both directional fills restated as
    * two windows over the same union, with the identical null-safe pick. */
  val nearestOracleSql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts AS __ts, 0 AS __side, event_id AS __tie,
      |         struct_pack(click_id := event_id, click_value := value,
      |                     mts := ts) AS __p,
      |         NULL AS event_id, NULL AS value
      |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
      |), purchases AS (
      |  SELECT user_id, ts AS __ts, 1 AS __side, NULL AS __tie,
      |         CAST(NULL AS STRUCT(click_id BIGINT, click_value DOUBLE,
      |                             mts TIMESTAMP)) AS __p,
      |         event_id, value
      |  FROM events WHERE event_type = 'purchase'
      |), unioned AS (
      |  SELECT * FROM clicks UNION ALL BY NAME SELECT * FROM purchases
      |), filled AS (
      |  SELECT *,
      |    LAST_VALUE(__p IGNORE NULLS) OVER wb AS __pb,
      |    LAST_VALUE(__p IGNORE NULLS) OVER wf AS __pf
      |  FROM unioned
      |  WINDOW wb AS (PARTITION BY user_id
      |                ORDER BY __ts NULLS FIRST, __side, __tie NULLS FIRST
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY user_id
      |                ORDER BY __ts DESC NULLS FIRST, __side, __tie DESC NULLS FIRST
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), picked AS (
      |  SELECT event_id, user_id, value,
      |    CASE WHEN (epoch_us((__pf).mts) - epoch_us(__ts)) IS NULL
      |           OR ((epoch_us(__ts) - epoch_us((__pb).mts)) IS NOT NULL
      |               AND epoch_us(__ts) - epoch_us((__pb).mts)
      |                   <= epoch_us((__pf).mts) - epoch_us(__ts))
      |         THEN __pb ELSE __pf END AS __c
      |  FROM filled WHERE __side = 1
      |)
      |SELECT CAST(event_id AS BIGINT) AS event_id, user_id,
      |       CAST(value AS DOUBLE) AS value,
      |       (__c).click_id AS click_id,
      |       (__c).click_value AS click_value
      |FROM picked
      |ORDER BY event_id""".stripMargin

  /** DuckDB mirror of the `j_asof_forward` gate (purchases
    * enriched with the EARLIEST at-or-after click per user): the same
    * union+window plan on the reversed order. */
  val forwardOracleSql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts AS __ts, 0 AS __side, event_id AS __tie,
      |         struct_pack(click_id := event_id, click_value := value) AS __p,
      |         NULL AS event_id, NULL AS value
      |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
      |), purchases AS (
      |  SELECT user_id, ts AS __ts, 1 AS __side, NULL AS __tie,
      |         CAST(NULL AS STRUCT(click_id BIGINT, click_value DOUBLE)) AS __p,
      |         event_id, value
      |  FROM events WHERE event_type = 'purchase'
      |), unioned AS (
      |  SELECT * FROM clicks UNION ALL BY NAME SELECT * FROM purchases
      |), filled AS (
      |  SELECT *, LAST_VALUE(__p IGNORE NULLS) OVER w AS __fp
      |  FROM unioned
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY __ts DESC NULLS FIRST, __side, __tie DESC NULLS FIRST
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT CAST(event_id AS BIGINT) AS event_id, user_id,
      |       CAST(value AS DOUBLE) AS value,
      |       (__fp).click_id AS click_id,
      |       (__fp).click_value AS click_value
      |FROM filled WHERE __side = 1
      |ORDER BY event_id""".stripMargin

  /** DuckDB mirror of `j_asof_tolerance`: the backward plan with the
    * matched click's timestamp carried inside the fill struct and the
    * payload nulled beyond `tolMicros` — identical post-fill projection
    * semantics to the engine (a NULL match stays NULL through the
    * comparison). */
  def toleranceOracleSql(tolMicros: Long): String =
    s"""WITH clicks AS (
       |  SELECT user_id, ts AS __ts, 0 AS __side, event_id AS __tie,
       |         struct_pack(click_id := event_id, click_value := value,
       |                     mts := ts) AS __p,
       |         NULL AS event_id, NULL AS value
       |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
       |), purchases AS (
       |  SELECT user_id, ts AS __ts, 1 AS __side, NULL AS __tie,
       |         CAST(NULL AS STRUCT(click_id BIGINT, click_value DOUBLE,
       |                             mts TIMESTAMP)) AS __p,
       |         event_id, value
       |  FROM events WHERE event_type = 'purchase'
       |), unioned AS (
       |  SELECT * FROM clicks UNION ALL BY NAME SELECT * FROM purchases
       |), filled AS (
       |  SELECT *, LAST_VALUE(__p IGNORE NULLS) OVER w AS __fp
       |  FROM unioned
       |  WINDOW w AS (PARTITION BY user_id
       |               ORDER BY __ts NULLS FIRST, __side, __tie NULLS FIRST
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT CAST(event_id AS BIGINT) AS event_id, user_id,
       |       CAST(value AS DOUBLE) AS value,
       |       CASE WHEN epoch_us(__ts) - epoch_us((__fp).mts) <= $tolMicros
       |            THEN (__fp).click_id END AS click_id,
       |       CASE WHEN epoch_us(__ts) - epoch_us((__fp).mts) <= $tolMicros
       |            THEN (__fp).click_value END AS click_value
       |FROM filled WHERE __side = 1
       |ORDER BY event_id""".stripMargin

  /** DuckDB mirror of the `j_asof` gate (purchases enriched
    * with the latest prior-or-same-instant click per user) — the same
    * union+window plan stated in SQL, so ordering and null semantics are
    * identical by construction. */
  val oracleSql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts AS __ts, 0 AS __side, event_id AS __tie,
      |         struct_pack(click_id := event_id, click_value := value) AS __p,
      |         NULL AS event_id, NULL AS value
      |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
      |), purchases AS (
      |  SELECT user_id, ts AS __ts, 1 AS __side, NULL AS __tie,
      |         CAST(NULL AS STRUCT(click_id BIGINT, click_value DOUBLE)) AS __p,
      |         event_id, value
      |  FROM events WHERE event_type = 'purchase'
      |), unioned AS (
      |  SELECT * FROM clicks UNION ALL BY NAME SELECT * FROM purchases
      |), filled AS (
      |  SELECT *, LAST_VALUE(__p IGNORE NULLS) OVER w AS __fp
      |  FROM unioned
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY __ts NULLS FIRST, __side, __tie NULLS FIRST
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT CAST(event_id AS BIGINT) AS event_id, user_id,
      |       CAST(value AS DOUBLE) AS value,
      |       (__fp).click_id AS click_id,
      |       (__fp).click_value AS click_value
      |FROM filled WHERE __side = 1
      |ORDER BY event_id""".stripMargin
}
