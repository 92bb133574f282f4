package graft.streaming

import graft.lake.TxnLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Effectively-exactly-once keyed streaming sink: `foreachBatch` + a
  * transactional upsert into a [[TxnLake]] table.
  *
  * Structured Streaming replays a batch after failure, so `foreachBatch`
  * bodies execute AT-LEAST-once; appending from one would duplicate
  * rows. Making the batch write idempotent — a keyed MERGE
  * ([[TxnLake.upsert]]) instead of an append — upgrades the end-to-end
  * contract: replaying batch N rewrites the same keys to the same
  * values, so duplicates cannot accumulate. This is the same mechanism
  * Delta's `foreachBatch` + `MERGE` recipe uses. Append-only streams
  * without a key use the `graft-txn` format sink ([[graft.lake.TxnSink]])
  * instead.
  */
object UpsertSink {

  /** Streaming-lakehouse sink: every micro-batch becomes one atomic
    * manifest commit, so concurrent readers get snapshot isolation,
    * [[TxnLake.history]] is the batch audit trail, and
    * [[TxnLake.changes]] serves downstream incremental consumers
    * ([[graft.lake.IncrementalView]]) straight off the stream's output.
    * Pair with an UPDATE-mode stateful aggregation upstream: each batch
    * then carries full replacement values per key, which is what makes
    * the replayed-batch write CONTENT-idempotent (a replay commits one
    * more version whose snapshot is byte-equal — versions record the
    * attempt, the data cannot drift). `partCol` only applies on first
    * create; later batches read it from the manifest. One-shot
    * (AvailableNow) by default so batch-style tests and backfills drain
    * the source and stop. */
  def startTxn(stream: DataFrame, targetDir: String, key: String, partCol: String,
               checkpointDir: String, oneShot: Boolean = true): StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatchTxn(batch, targetDir, key, partCol)
      }
    (if (oneShot) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Per-micro-batch body of [[startTxn]], factored out so the
    * exactly-once claim is directly testable: Structured Streaming
    * re-invokes this with the SAME batch rows after a failure. Dedup the
    * batch deterministically, then one transactional upsert. */
  def applyBatchTxn(batch: DataFrame, targetDir: String, key: String,
                    partCol: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val deduped = dedupBatch(batch, key)
    if (TxnLake.isTxnTable(spark, targetDir)) TxnLake.upsert(spark, targetDir, deduped, key)
    else TxnLake.create(spark, targetDir, deduped, partCol)
    ()
  }

  /** Keep ONE row per key, deterministically: max over the payload
    * struct (lexicographic by column). dropDuplicates would pick an
    * arbitrary row, so a replayed batch could commit a DIFFERENT winner
    * than the original attempt — idempotence needs the reduction itself
    * to be order-independent. */
  private def dedupBatch(batch: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, struct}
    val cols = batch.columns
    val others = cols.filter(_ != key)
    batch.groupBy(col(key))
      .agg(max(struct(others.map(col).toIndexedSeq: _*)).as("__payload"))
      .select(col(key) +: others.map(c => col(s"__payload.$c").as(c)): _*)
      .select(cols.map(col).toIndexedSeq: _*)
  }
}
