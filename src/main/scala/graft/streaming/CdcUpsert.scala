package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.Sinks

/** Streaming CDC apply — a change feed (`key, ts, event_id, op, value`)
  * continuously merged into a keyed store, the streaming twin of the batch
  * `cdc_merge` gate and the SCD-1 counterpart of `scd2_history` (the
  * reference's dimension upsert, etl_ida.py-style ON CONFLICT, lifted to a
  * change stream).
  *
  * Merge rule per micro-batch: latest `(ts, event_id)` wins per key over
  * (store ∪ batch). Tombstones (`op = 'delete'`) are RETAINED as store
  * rows rather than dropping the key: latest-wins over a union INCLUDING
  * tombstones is associative and commutative, so the final store is a pure
  * function of the change SET — invariant to how the feed is sliced into
  * micro-batches, to replays (crash-and-reprocess), and to out-of-order
  * arrival of older changes in later batches (a dropped tombstone would
  * let a late older upsert silently resurrect a deleted key). The serving
  * view [[latest]] filters tombstones out.
  *
  * Store write is the staged rewrite-and-swap [[Sinks.swapStore]] (write
  * staging, delete, rename):
  * the merged frame READS the live store, so an in-place overwrite is both
  * unsafe and refused by Spark. A crash between delete and rename leaves
  * the full store at `<dir>__staging`; re-running the feed rebuilds it
  * (same winners — idempotent).
  *
  * Scale: each micro-batch costs one shuffle of (store ∪ batch) on the
  * key for the per-key argmax — the compaction model of any LSM-ish keyed
  * store. At 100 TB the store would be hash-bucketed by key so the merge
  * shuffle aligns with the layout (bucketed-join discipline, `j_bucketed`)
  * and only touched buckets rewrite; the windowed argmax here keeps the
  * same plan shape. */
object CdcUpsert {

  /** Latest-wins merge of a change batch into an optional existing store;
    * both sides carry `(key, ts, event_id, op, value)`. */
  def merge(store: Option[DataFrame], changes: DataFrame): DataFrame = {
    val all = store.map(_.unionByName(changes)).getOrElse(changes)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts").desc, col("event_id").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Start applying a change stream to the store at `storeDir`. */
  def start(changes: DataFrame, storeDir: String,
            checkpointDir: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        Sinks.swapStore(spark, storeDir, "__staging", "merged") {
          merge(Sinks.readStoreIfExists(spark, storeDir), batch).write.parquet(_)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Serving view of the store: live keys only (tombstones filtered). */
  def latest(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir).filter(col("op") =!= "delete")
}
