package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.StreamingFrameBridge
import org.apache.spark.sql.streaming.OutputMode

/** Direct `df.writeStream.format("graft-txn").start(dir)` — the table
  * itself as a streaming SINK, Delta-parity, and graft's one append
  * sink: plain `writeStream` pipelines land on the lake exactly once
  * with no user-written batch lambda. Keyed upserts, which need a
  * `foreachBatch` MERGE, go through [[graft.streaming.UpsertSink]].
  *
  * Semantics (Delta's `DeltaSink` contract, re-expressed on the V1
  * `Sink` API):
  *
  *  - APPEND output mode → one [[TxnLake.appendOnce]] commit per
  *    micro-batch, carrying `(queryId, batchId)` as the application
  *    transaction marker — a post-crash replayed batch finds its
  *    marker committed and no-ops, so source-offset checkpointing +
  *    the idempotent commit give exactly-once table contents.
  *  - COMPLETE output mode → one [[TxnLake.overwriteOnce]] commit per
  *    micro-batch: each batch atomically replaces the table with the
  *    stream's full aggregate state (the only sensible mapping — the
  *    batch IS the whole result), same marker discipline.
  *  - UPDATE output mode is refused at `createSink` time (Delta does
  *    the same): an update batch carries keyed deltas, which is
  *    `UpsertSink`/`MERGE` territory, not a blind table write.
  *
  * The table is created EMPTY on first use (batch 0's schema,
  * `partCol` option or the `partitionBy(...)` column), so creation is
  * replay-safe: every data row lands through a marker-checked commit.
  * `txnAppId` overrides the marker's app id (Delta's option — lets two
  * distinct queries share a checkpoint-free idempotence domain or a
  * rebuilt-checkpoint query keep its history).
  *
  * Scale shape: each micro-batch is one blind append — O(batch) staged
  * bytes, one manifest record, no base read — so ingest cost is
  * independent of table size; Complete mode pays O(state) per batch,
  * which is the output mode's own contract.
  *
  * The batch DataFrame rides MicroBatchExecution's
  * IncrementalExecution; it is pinned via
  * [[StreamingFrameBridge.asBatch]] before any Dataset op so the
  * commit's write plans against the already-planned RDD instead of
  * re-executing the streaming plan.
  */
private[graft] class TxnSink(spark: SparkSession, dir: String,
                             parameters: Map[String, String],
                             partitionCols: Seq[String],
                             outputMode: OutputMode) extends Sink {

  private def opt(key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = StreamingFrameBridge.asBatch(spark, data)
    val appId = opt("txnAppId").orElse(
      Option(spark.sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY)))
      .getOrElse(throw new IllegalStateException(
        "graft-txn sink: no streaming query id in scope — pass option txnAppId"))
    if (!TxnLake.isTxnTable(spark, dir)) {
      val partCol = opt("partCol").orElse(partitionCols.headOption)
        .getOrElse(throw new IllegalArgumentException(
          "graft-txn sink initial create requires option partCol or partitionBy(col)"))
      // concurrent/replayed creates collide on v0's atomic publish —
      // losing that race just means the table exists. identityCol adds
      // the engine-owned column to the empty schema; every data row
      // (batch 0's included) then lands through the allocating append.
      val seed = opt("identityCol") match {
        case Some(c) => batch.limit(0).withColumn(c,
          org.apache.spark.sql.functions.lit(null).cast("long"))
        case None => batch.limit(0)
      }
      try TxnLake.create(spark, dir, seed, partCol,
        statsCol = opt("statsCol"),
        changeFeed = opt("changeFeed").exists(_.toBoolean),
        bloomCol = opt("bloomCol"),
        bloomBits = opt("bloomBits").map(_.toInt).getOrElse(TxnLake.DefaultBloomBits),
        statsCols = opt("statsCols").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
      catch {
        // only the concurrent/replayed-create race is benign (the
        // winner's table exists); a real misconfiguration — bad
        // statsCol, identityCol == partCol — must surface here, not
        // fail batches later with an unrelated missing-column error
        case e: IllegalArgumentException =>
          if (!TxnLake.isTxnTable(spark, dir)) throw e
      }
      // identity declaration errors ALWAYS surface (never race-benign);
      // re-declaring after a lost race is safe — the winner's table
      // either carries the column (re-declare is a no-op rewrite) or
      // lacks it (loud, correct failure)
      opt("identityCol").foreach(c => TxnLake.setIdentityColumn(spark, dir, c,
        start = opt("identityStart").map(_.toLong).getOrElse(1L),
        step = opt("identityStep").map(_.toLong).getOrElse(1L)))
    }
    // Delta's writeStream mergeSchema: grow the table additively
    // before the marker-checked commit (idempotent — a replay finds
    // the columns already present and adds nothing)
    if (opt("mergeSchema").exists(_.toBoolean))
      TxnLake.mergeSchemaFor(spark, dir, batch)
    if (outputMode == OutputMode.Complete())
      TxnLake.overwriteOnce(spark, dir, batch, appId, batchId)
    else TxnLake.appendOnce(spark, dir, batch, appId, batchId)
    ()
  }
}
