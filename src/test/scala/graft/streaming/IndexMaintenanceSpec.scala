package graft.streaming

import graft.SparkTestSession
import graft.lake.TxnLake
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** CDC → IVF index maintenance ([[IndexMaintenance]]): the streamed
  * pipeline must land the index in exactly the state the per-call API
  * (ss12's pinned path) produces, and replays must not duplicate
  * postings. */
class IndexMaintenanceSpec extends AnyFunSuite with SparkTestSession {

  private def embeddings: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")

  /** create (index snapshot) -> append -> delete -> negating upsert,
    * returning (lakeDir, indexDir, root). */
  private def scriptedHistory(): (String, String, java.nio.file.Path) = {
    val root = Files.createTempDirectory("graft_ixm")
    val dir = root.resolve("lake").toString
    val ix = root.resolve("ivf").toString
    val e = embeddings
    TxnLake.create(spark, dir, e.filter(pmod(col("vec_id"), lit(5)) =!= 3),
      "label", changeFeed = true)
    Similarity.buildIvfIndex(
      TxnLake.read(spark, dir).select(col("vec_id"), col("embedding")),
      ix, nCells = 16, kmeansIters = 1)
    TxnLake.append(spark, dir, e.filter(pmod(col("vec_id"), lit(5)) === 3))
    TxnLake.deleteWhere(spark, dir, pmod(col("vec_id"), lit(7)) === 2)
    TxnLake.upsert(spark, dir,
      e.filter(pmod(col("vec_id"), lit(11)) === 0)
        .withColumn("embedding", transform(col("embedding"), x => -x)),
      "vec_id")
    (dir, ix, root)
  }

  private def probe(ix: String): Seq[(Long, Long, Double)] =
    Similarity.probeIvfIndex(spark, ix,
        embeddings.filter(col("vec_id").isin(0L, 1L))
          .select(col("vec_id").as("qid"), col("embedding")),
        k = 10, nProbe = 4)
      .orderBy(col("qid"), col("cos").desc, col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("streamed maintenance equals the one-shot API update (stream == batch)") {
    val (dir, ix, root) = scriptedHistory()
    IndexMaintenance.maintain(spark, dir, ix,
        checkpointDir = root.resolve("ckpt").toString,
        startingVersion = Some(1L), maxVersionsPerTrigger = Some(1))
      .awaitTermination()

    // control: the SAME deterministic build, then the whole feed
    // folded through applyBatch in one call (ss12's per-call API path)
    val ix2 = root.resolve("ivf_batch").toString
    Similarity.buildIvfIndex(
      embeddings.filter(pmod(col("vec_id"), lit(5)) =!= 3)
        .select(col("vec_id"), col("embedding")),
      ix2, nCells = 16, kmeansIters = 1)
    IndexMaintenance.applyBatch(CdcFeed.batch(spark, dir, fromVersion = 1L), ix2)

    val streamed = probe(ix)
    assert(streamed === probe(ix2),
      "checkpointed per-commit stream and one-shot batch fold must converge")
    assert(streamed.nonEmpty)
  }

  test("replaying a batch cannot duplicate postings (at-least-once safe)") {
    val (dir, ix, root) = scriptedHistory()
    val feed = CdcFeed.batch(spark, dir, fromVersion = 1L)
    IndexMaintenance.applyBatch(feed, ix)
    val once = probe(ix)
    val postingsOnce = spark.read.parquet(s"$ix/postings").count()
    IndexMaintenance.applyBatch(feed, ix) // the replay
    assert(probe(ix) === once, "replay must not change probe results")
    assert(spark.read.parquet(s"$ix/postings").count() === postingsOnce,
      "replay must not grow the postings")
    root.toFile.deleteOnExit()
  }

  test("TRUNCATE flows through the feed: the maintained index empties with the table") {
    val (dir, ix, root) = scriptedHistory()
    TxnLake.truncate(spark, dir)
    IndexMaintenance.maintain(spark, dir, ix,
        checkpointDir = root.resolve("ckpt_tr").toString,
        startingVersion = Some(1L))
      .awaitTermination()
    assert(TxnLake.read(spark, dir).isEmpty)
    val cellDirs = Option(new java.io.File(s"$ix/postings").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("centroid_id="))
    assert(cellDirs.isEmpty, "a CDC consumer must not keep serving truncated rows")
    // probing the fully-emptied index returns zero rows, not a
    // schema-inference crash (the postings schema sidecar)
    assert(probe(ix).isEmpty)
  }

  test("updated vectors move cells: the negated embedding leaves its old posting") {
    val (dir, ix, _) = scriptedHistory()
    IndexMaintenance.applyBatch(CdcFeed.batch(spark, dir, fromVersion = 1L), ix)
    val posted = spark.read.parquet(s"$ix/postings")
      .filter(pmod(col("vec_id"), lit(11)) === 0)
    // every %11 key appears EXACTLY once post-update (old cell copy
    // gone, new cell copy present) and carries the negated vector
    val perId = posted.groupBy(col("vec_id")).count()
      .filter(col("count") =!= 1)
    assert(perId.isEmpty, "an updated vector must live in exactly one cell")
    val orig = embeddings.filter(pmod(col("vec_id"), lit(11)) === 0)
      .select(col("vec_id").as("o_id"), col("embedding").as("o_emb"))
    val mismatched = posted.join(orig, col("vec_id") === col("o_id"))
      .filter(not(col("embedding") === transform(col("o_emb"), x => -x)))
    assert(mismatched.isEmpty, "postings must carry the UPDATED embedding")
  }
}
