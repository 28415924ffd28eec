package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.plans.IdaMart

/** Streaming ingest into the fact store — the reference's batch load loop
  * (ON CONFLICT DO NOTHING per batch, /root/reference/etl/etl_ida.py:461-554)
  * as a Structured Streaming `foreachBatch` sink.
  *
  * Effect is exactly-once on the store even though foreachBatch is
  * at-least-once: a replayed micro-batch (crash between write and checkpoint
  * commit, or duplicate input files) re-runs the anti-join against the
  * already-persisted hashes and appends nothing. One shuffle per batch
  * (hash dedup); the anti-join probe reads only the hash column of the
  * store thanks to parquet column pruning.
  */
object Ingest {

  /** Start an idempotent append of streaming records into `factDir`. */
  def start(records: DataFrame, factDir: String,
            checkpointDir: String): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val deduped = IdaMart.firstWinsDedup(
          IdaMart.hashRecords(batch), Seq("hash_registro"),
          Seq("arquivo_origem", "linha_origem"))
        val fresh = IdaMart.readStoreIfExists(spark, factDir) match {
          case Some(ex) => IdaMart.load(ex, deduped)
          case None     => deduped
        }
        // same ano-partitioned layout as the batch pipeline's store, so a
        // store fed by either path prunes year predicates identically
        graft.sources.Sinks.writeFactPartitioned(fresh, factDir,
          dateCol = "ano_mes", mode = "append")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Start an idempotent append of streaming FACT rows into a JDBC table
    * — the streaming→RDBMS serving path (micro-batch foreachBatch into
    * [[graft.sources.JdbcSink.loadIdempotent]]): each batch anti-joins
    * the keys already in the table before the partitioned batched
    * append, so a replayed batch (crash-and-reprocess, or an at-least-
    * once source redelivering) appends NOTHING and the table equals a
    * single load. This is the standard exactly-once-into-JDBC recipe —
    * the sink itself is only transactional per partition, so idempotency
    * must come from the key prefilter, exactly as the file-sink twin
    * ([[start]]) gets it from [[IdaMart.load]]. */
  def startJdbc(fact: DataFrame, url: String, table: String,
                checkpointDir: String): StreamingQuery =
    fact.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.JdbcSink.loadIdempotent(batch, url, table)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
