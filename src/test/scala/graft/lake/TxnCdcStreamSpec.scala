package graft.lake

import graft.SparkTestSession
import graft.streaming.CdcFeed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `readStream.option("readChangeFeed", "true")` ([[TxnCdcStream]]):
  * Delta CDF's streaming option on the graft-txn format, with
  * COMMIT-GRANULAR offsets — every micro-batch carries whole commits,
  * the contract the raw file stream cannot give (maxFilesPerTrigger
  * there can split one commit's change files across triggers). */
class TxnCdcStreamSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_cdcstream_$tag").resolve("t").toString

  /** v0: 6 inserts; v1: 2 inserts; v2: keyed delete of ids 1,2;
    * v3: upsert rewriting id 3 (update pre/post pair). */
  private def mkHistory(): String = {
    val dir = fresh("tbl")
    TxnLake.create(spark, dir,
      (1L to 6L).map(i => (i, s"p${i % 2}", i * 10L)).toDF("id", "part", "v"),
      "part", changeFeed = true)
    TxnLake.append(spark, dir,
      Seq((7L, "p1", 70L), (8L, "p0", 80L)).toDF("id", "part", "v"))
    TxnLake.delete(spark, dir, Seq(1L, 2L).toDF("id"), "id")
    TxnLake.upsert(spark, dir, Seq((3L, "p1", 333L)).toDF("id", "part", "v"), "id")
    dir
  }

  private def drain(df: DataFrame, out: String, ckpt: String): Unit = {
    val q = df.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def readOut(out: String): DataFrame = spark.read.schema(
    "id BIGINT, part STRING, v BIGINT, _change_type STRING, _commit_version BIGINT")
    .parquet(out)

  test("option stream equals the CdcFeed batch read, whole feed") {
    val dir = mkHistory()
    val out = fresh("out1")
    drain(spark.readStream.format("graft-txn")
      .option("readChangeFeed", "true").load(dir), out, fresh("ck1"))
    val got = readOut(out)
    val want = CdcFeed.batch(spark, dir)
    assert(got.count() === want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "streamed feed must equal the batch feed row-for-row")
  }

  test("micro-batches are commit-atomic under version pacing") {
    val dir = mkHistory()
    val q = spark.readStream.format("graft-txn")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("cdc_atomic")
      .option("checkpointLocation", fresh("ck2"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
    // 4 row-changing commits -> 4 non-empty single-version batches
    assert(nonEmpty.length === 4,
      s"one batch per commit expected, got ${nonEmpty.length}")
    assert(spark.table("cdc_atomic").count() ===
      CdcFeed.batch(spark, dir).count())
  }

  test("startingVersion skips the bulk load; restart adds only the delta") {
    val dir = mkHistory()
    val out = fresh("out3")
    val ckpt = fresh("ck3")
    drain(spark.readStream.format("graft-txn")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(dir), out, ckpt)
    val want = CdcFeed.batch(spark, dir, fromVersion = 1L)
    assert(readOut(out).count() === want.count())
    assert(readOut(out).select(min("_commit_version")).head().getLong(0) === 1L)
    // a new commit between runs; same checkpoint -> exactly its rows added
    TxnLake.append(spark, dir, Seq((9L, "p1", 90L)).toDF("id", "part", "v"))
    drain(spark.readStream.format("graft-txn")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(dir), out, ckpt)
    assert(readOut(out).count() === want.count() + 1)
    assert(readOut(out).filter(col("id") === 9L)
      .select(col("_change_type")).head().getString(0) === "insert")
  }

  test("a renameColumn committed while the stream runs fails its next batch " +
      "at the rename barrier") {
    val dir = mkHistory()
    val q = spark.readStream.format("graft-txn")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("memory").queryName("cdc_midrun_rename")
      .option("checkpointLocation", fresh("ck5")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_midrun_rename").count() === CdcFeed.batch(spark, dir).count())
      TxnLake.renameColumn(spark, dir, "v", "w")
      TxnLake.append(spark, dir, Seq((9L, "p1", 90L)).toDF("id", "part", "w"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      val barrier = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .collectFirst { case b: graft.streaming.CdcRenameBarrierException => b }
      assert(barrier.map(b => (b.renameVersion, b.entryVersion, b.schemaVersion)) ===
        Some((4L, 5L, 3L)), e)
    } finally q.stop()
  }

  test("a table without a change feed refuses the option loudly") {
    val dir = fresh("nofeed")
    TxnLake.create(spark, dir, Seq((1L, "p0", 1L)).toDF("id", "part", "v"), "part")
    val e = intercept[Exception] {
      spark.readStream.format("graft-txn")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("memory").queryName("cdc_refuse")
        .option("checkpointLocation", fresh("ck4"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("has no _graft_cdc feed")), messages(e))
  }
}
