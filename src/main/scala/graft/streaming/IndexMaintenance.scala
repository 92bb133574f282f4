package graft.streaming

import graft.lake.TxnLake
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** CDC → ANN-index maintenance: the change feed of a
  * [[graft.lake.TxnLake]] embeddings table drives touched-cell-only
  * updates of a persisted [[Similarity.buildIvfIndex]] index — the
  * composition a production vector store runs (documents mutate in the
  * lake; the serving index follows, never rebuilding). ss12 pins the
  * per-call update API; this object wires the STREAM end to end:
  *
  *   commits → `_graft_cdc` feed → `readChangeFeed` (checkpointed,
  *     whole commits per micro-batch) → [[applyBatch]]
  *     → [[Similarity.updateIvfIndex]]
  *
  * Scale shape: each commit's work is O(its changed rows + their
  * cells' postings) — the feed carries only changed rows, the probe
  * side reads only probed cells, and the codebook never moves. At
  * 100 TB the index tracks a mutating corpus at the WRITE rate, not
  * the corpus size.
  */
object IndexMaintenance {

  /** Fold one micro-batch of change-feed rows into the index at
    * `indexDir` as ONE update cycle: the NET effect per id. A batch may
    * span commits; per id only its LAST change (highest version) in the
    * batch decides — a final insert/update_postimage becomes an add, a
    * final delete a remove, and every touched id rides the remove set
    * ([[Similarity.updateIvfIndex]] anti-joins removes before unioning
    * adds, so every add is a REPLACE). Sound because index state per id
    * is presence + embedding, nothing path-dependent: applying versions
    * one by one reaches exactly the last-writer state. One commit CAN
    * carry both a delete and an insert for one id — an OVERWRITE emits
    * delete pre-images for every old row plus copied insert files for
    * every new row at one version — so within a version the non-delete
    * row ranks first (the tie-break below), reproducing the old
    * per-version removes-then-adds order: the surviving copy is the
    * add, and the id still rides the remove set, so it replaces
    * rather than disappears. One cycle per TRIGGER instead of one per COMMIT
    * is the scale point — a catch-up batch spanning 100 commits used to
    * pay 100 touched-cell overwrite rounds for state the last writes
    * fully determine.
    * `update_preimage` rows are deliberately ignored (the
    * [[CdcFeed.applyCdc]] discipline): id-keyed replace needs no
    * pairing of pre- and post-images, so application holds for any
    * batch of feed rows, not only the whole-commit batches
    * `readChangeFeed` delivers. Replays (foreachBatch is at-least-once)
    * re-land the same posting instead of duplicating it: checkpoint +
    * idempotent application give exactly-once index state. */
  def applyBatch(batch: DataFrame, indexDir: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col(TxnLake.VersionCol).desc,
        when(col(TxnLake.ChangeTypeCol) === "delete", 1).otherwise(0))
    val changes = batch
      .filter(col(TxnLake.ChangeTypeCol)
        .isin("insert", "update_postimage", "delete"))
      .select(col("vec_id"), col("embedding"),
        col(TxnLake.ChangeTypeCol), col(TxnLake.VersionCol))
      .withColumn("__last", row_number().over(w))
    val adds = changes
      .filter(col("__last") === 1 && col(TxnLake.ChangeTypeCol) =!= "delete")
      .select(col("vec_id"), col("embedding"))
    val removes = changes.select(col("vec_id")).distinct()
    Similarity.updateIvfIndex(spark, indexDir, adds, removes)
  }

  /** Tail `sourceDir`'s change feed and maintain the IVF index at
    * `indexDir`. AvailableNow by default (drain pending commits and
    * stop — the backfill/catch-up shape); `oneShot = false` tails
    * continuously. `startingVersion` is the attach point — typically
    * the first commit AFTER the snapshot the index was built from;
    * `maxVersionsPerTrigger` paces a backfill, whole commits per
    * micro-batch. */
  def maintain(spark: SparkSession, sourceDir: String, indexDir: String,
               checkpointDir: String, startingVersion: Option[Long] = None,
               maxVersionsPerTrigger: Option[Int] = None,
               oneShot: Boolean = true): StreamingQuery = {
    val reader = spark.readStream.format("graft-txn").option("readChangeFeed", "true")
    startingVersion.foreach(v => reader.option("startingVersion", v))
    maxVersionsPerTrigger.foreach(n => reader.option("maxVersionsPerTrigger", n.toLong))
    val writer = reader.load(sourceDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, indexDir)
      }
    (if (oneShot) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
