package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.plans.IdaMart

/** Streaming ingest into the fact store — the reference's batch load loop
  * (ON CONFLICT DO NOTHING per batch, /root/reference/etl/etl_ida.py:461-554)
  * as a Structured Streaming `foreachBatch` sink.
  *
  * Effect is exactly-once on the store even though foreachBatch is
  * at-least-once: each hash-deduped micro-batch goes through the batch
  * pipeline's [[IdaMart.append]], so a replayed one (crash between write
  * and checkpoint commit, or duplicate input files) appends nothing. One
  * shuffle per batch (hash dedup); the anti-join probe reads only the hash
  * column of the store thanks to parquet column pruning.
  */
object Ingest {

  /** Start an idempotent append of streaming records into `factDir`. */
  def start(records: DataFrame, factDir: String,
            checkpointDir: String): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IdaMart.append(IdaMart.firstLoadWins(IdaMart.hashRecords(batch)), factDir)
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
    * ([[start]]) gets it from [[IdaMart.append]]. */
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
