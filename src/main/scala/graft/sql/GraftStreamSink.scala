package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

import graft.merge.TxTable

/** `df.writeStream.format("graft")` — the declarative twin of
  * [[graft.streaming.Streams.Sinks.txAppendOnce]], closing the streaming
  * loop the reference runs as a 30 s poll-and-load cycle
  * (`scheduler.py:45-69` driving `load.py:10-187`): a table can now be
  * BOTH ends of a stream (`readStream.format("graft")` →  transform →
  * `writeStream.format("graft")`) with nothing but options.
  *
  * Exactly-once: every micro-batch commit carries the Structured
  * Streaming (queryId, batchId) as a txn mark in the SAME atomic log
  * rename as the data ([[TxTable.appendOnce]]'s argument — the Delta
  * `txn`-action design), so a redelivered batch after any crash point is
  * a no-op and there is no window between "data visible" and "epoch
  * recorded". The queryId is checkpoint-stable across restarts, which is
  * what makes the mark durable; `option("txnAppId", ...)` overrides it
  * for multi-query fan-in (give each writer its own id).
  *
  * Output modes:
  *  - `append`   — [[TxTable.append]] per batch (raw capture, CDC
  *    shipping); the table grows by exactly the new rows.
  *  - `complete` — [[TxTable.replace]] per batch: the stream's full
  *    recomputed result atomically swaps the table, so a downstream
  *    `SELECT` always sees one consistent aggregate snapshot.
  *  - `update`   — refused: update semantics need a key contract; that is
  *    the merge-sink family ([[graft.streaming.Streams.Sinks]]).
  *
  * At 100 TB the per-batch cost is O(batch) staging + one O(1) commit
  * rename; nothing existing is rewritten in either supported mode's
  * append path, and `complete` is only sane for aggregate-sized results
  * (the same caveat Spark's own memory/console sinks carry).
  */
final class GraftStreamSink(spark: SparkSession, dir: String,
                            partitionCols: Seq[String], mode: OutputMode,
                            explicitAppId: Option[String]) extends Sink {

  /** Checkpoint-stable writer identity: explicit option first, else the
    * StreamingQuery id Spark puts on the microbatch thread. */
  private def appId: String = explicitAppId.getOrElse {
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(throw new IllegalStateException(
        "graft sink: no streaming queryId on this thread and no txnAppId " +
          "option — set .option(\"txnAppId\", ...) when driving addBatch " +
          "outside a StreamingQuery"))
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val app = appId
    // the engine's micro-batch df still carries streaming leaves; re-root
    // it as a batch plan so TxTable's writer path accepts it
    val batch =
      if (data.isStreaming)
        org.apache.spark.sql.graftbridge.GraftBridge.asBatch(data)
      else data
    if (TxTable.lastTxn(spark, dir, app).exists(_ >= batchId)) {
      // redelivered epoch — the commit that carried it already landed
    } else {
      // identity-aware: a GENERATED ... AS IDENTITY table gets its ids
      // assigned per micro-batch, the allocator advancing in the SAME
      // txn-marked commit as the data (a redelivered epoch is skipped
      // above, so ids are exactly-once too); identical to plain
      // append/replace when the table declares none
      TxTable.insertWithIdentity(spark, dir, batch,
        overwrite = mode == OutputMode.Complete(), partitionCols,
        txn = Some(app -> batchId))
    }
  }

  override def toString: String = s"GraftStreamSink[$dir]"
}
