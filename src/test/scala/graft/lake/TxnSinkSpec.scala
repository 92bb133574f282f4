package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** [[TxnSink]] — `df.writeStream.format("graft-txn")` (the Delta-parity
  * streaming SINK, graft's one append sink): per-batch marker-checked
  * commits, Append and Complete output modes, first-batch create,
  * restart with no duplicates, Update-mode refusal. The sink must be
  * exactly-once: a replayed micro-batch (same appId + batchId, or an
  * older one) is a silent no-op, per application, across checkpoints
  * and VACUUM, and under concurrent replays. */
class TxnSinkSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private var n = 0
  private def fresh(tag: String): String = {
    n += 1
    Files.createTempDirectory(s"graft_tsink_$tag").toString
  }

  /** A 3-file parquet input dir — with maxFilesPerTrigger=1 the stream
    * drains it in three micro-batches, so batch ids 0..2 all commit. */
  private def mkInput(rows: Range): String = {
    val in = fresh("in") + "/data"
    rows.map(i => (i.toLong, s"p${i % 3}", i * 2L)).toDF("id", "part", "v")
      .repartition(3).write.parquet(in)
    in
  }

  private def stream(in: String): DataFrame =
    spark.readStream.schema("id BIGINT, part STRING, v BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(in)

  test("append mode: multi-batch drain lands every row exactly once") {
    val in = mkInput(1 to 30)
    val tbl = fresh("tbl")
    val ckpt = fresh("ck")
    stream(in).writeStream.format("graft-txn").partitionBy("part")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(tbl).awaitTermination()
    val got = TxnLake.read(spark, tbl)
    assert(got.count() === 30L)
    assert(got.agg(sum("v")).as[Long].head() === (1 to 30).map(_ * 2L).sum)
    // multi-batch: at least 3 data commits + the empty create
    assert(TxnLake.currentVersion(spark, tbl) >= 3L)
  }

  test("restart from the same checkpoint re-delivers nothing; new files flow") {
    val inRoot = fresh("in2")
    val in = inRoot + "/data"
    (1 to 10).map(i => (i.toLong, s"p${i % 3}", i * 2L)).toDF("id", "part", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val tbl = fresh("tbl")
    val ckpt = fresh("ck")
    def run(): Unit =
      stream(in).writeStream.format("graft-txn").option("partCol", "part")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(tbl).awaitTermination()
    run()
    assert(TxnLake.read(spark, tbl).count() === 10L)
    run() // no new input: restart must append nothing
    assert(TxnLake.read(spark, tbl).count() === 10L)
    (11 to 15).map(i => (i.toLong, s"p${i % 3}", i * 2L)).toDF("id", "part", "v")
      .coalesce(1).write.mode("append").parquet(in)
    run() // only the new file's rows
    assert(TxnLake.read(spark, tbl).count() === 15L)
  }

  /** An append-mode sink driven directly, batch by batch — the unit a
    * streaming query's micro-batch (and its crash-replay) calls. */
  private def appendSink(tbl: String, appId: String): TxnSink =
    new TxnSink(spark, tbl, Map("partCol" -> "part", "txnAppId" -> appId),
      Nil, org.apache.spark.sql.streaming.OutputMode.Append())

  private def rows(ids: Long*): DataFrame =
    ids.map(i => (i, s"p${i % 3}", i * 2L)).toDF("id", "part", "v")

  test("a replayed batch id is a silent no-op (appendOnce marker inside the sink)") {
    val tbl = fresh("tbl")
    val sink = appendSink(tbl, "replay")
    val batch = rows(1L to 9L: _*)
    sink.addBatch(0L, batch)
    sink.addBatch(0L, batch) // crash-replay of the same micro-batch
    assert(TxnLake.read(spark, tbl).count() === 9L)
    sink.addBatch(1L, batch) // a NEW batch id commits
    assert(TxnLake.read(spark, tbl).count() === 18L)
    assert(TxnLake.lastCommittedTxn(spark, tbl, "replay") === Some(1L))
  }

  test("markers survive the log checkpoint cadence and time travel still works") {
    val tbl = fresh("tbl")
    val sink = appendSink(tbl, "app")
    // enough batches to cross a checkpoint boundary (interval 10)
    (0L until 14L).foreach(i => sink.addBatch(i, rows(i)))
    sink.addBatch(5L, rows(99L)) // replay of a pre-checkpoint batch
    assert(TxnLake.read(spark, tbl).count() === 14L)
    assert(TxnLake.lastCommittedTxn(spark, tbl, "app") === Some(13L))
    // each batch is one atomic version (v0 = the sink's empty create):
    // history replays exactly, on both sides of the checkpoint
    (0L to 14L).foreach { v =>
      assert(TxnLake.readVersion(spark, tbl, v).count() === v, s"version $v")
    }
  }

  test("markers survive VACUUM dropping the records that carried them") {
    val tbl = fresh("tbl")
    val sink = appendSink(tbl, "app")
    // the stream lands batches 0..4, then goes quiet
    (0L until 5L).foreach(i => sink.addBatch(i, rows(i)))
    // unrelated (marker-less) writers advance the log past the
    // checkpoint interval, then vacuum drops EVERY record that carried
    // an "app" marker — the folded `txns` map in the surviving
    // checkpoint is now the only carrier of the exactly-once horizon
    (0L until 8L).foreach(i => TxnLake.append(spark, tbl, rows(100L + i)))
    TxnLake.vacuum(spark, tbl, keepVersions = 2, graceMs = 0L)
    // a replay of a long-vacuumed batch must STILL be a silent no-op
    sink.addBatch(3L, rows(3L))
    assert(TxnLake.read(spark, tbl).count() === 13L)
    assert(TxnLake.lastCommittedTxn(spark, tbl, "app") === Some(4L))
    // the horizon keeps advancing normally after the vacuum
    sink.addBatch(5L, rows(5L))
    assert(TxnLake.read(spark, tbl).count() === 14L)
  }

  test("CONCURRENT replays of one batch: exactly one commit wins the race") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val out = Files.createTempDirectory("graft_lake_race").resolve("t").toString
    TxnLake.create(spark, out, Seq((0L, "p")).toDF("id", "part"), "part")
    // 4 writers replay THE SAME (appId, batch) simultaneously — the
    // marker re-check inside the OCC retry loop must let exactly one
    // through; the losers drop their staged files silently
    val rows = Seq((1L, "p"), (2L, "p")).toDF("id", "part")
    val wins = Await.result(
      Future.sequence((1 to 4).map(_ => Future(
        TxnLake.appendOnce(spark, out, rows, "racer", 7L)))),
      5.minutes).count(identity)
    assert(wins === 1, s"exactly one concurrent replay must commit, got $wins")
    assert(TxnLake.read(spark, out).count() === 3, "no duplicate rows")
    assert(TxnLake.lastCommittedTxn(spark, out, "racer") === Some(7L))
    // distinct APPLICATIONS racing: markers are per-app, all land
    val wins2 = Await.result(
      Future.sequence((10 to 13).map(b => Future(
        TxnLake.appendOnce(spark, out,
          Seq((b.toLong, "p")).toDF("id", "part"), s"app-$b", 0L)))),
      5.minutes).count(identity)
    assert(wins2 === 4, "distinct applications must all commit")
    assert(TxnLake.read(spark, out).count() === 7)
    // out-of-order versions under ONE app are STALE REPLAYS by contract
    // (foreachBatch is serial per query): after version 9 commits, a
    // late-arriving 8 must no-op — exactly Delta's txnVersion rule
    assert(TxnLake.appendOnce(spark, out,
      Seq((90L, "p")).toDF("id", "part"), "racer", 9L) === true)
    assert(TxnLake.appendOnce(spark, out,
      Seq((80L, "p")).toDF("id", "part"), "racer", 8L) === false)
    assert(TxnLake.read(spark, out).count() === 8)
  }

  test("complete mode: each batch replaces the table; final state = full aggregate") {
    val in = mkInput(1 to 30)
    val tbl = fresh("tbl")
    stream(in).groupBy(col("part"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .writeStream.format("graft-txn").option("partCol", "part")
      .outputMode("complete")
      .option("checkpointLocation", fresh("ck"))
      .trigger(Trigger.AvailableNow()).start(tbl).awaitTermination()
    val got = TxnLake.read(spark, tbl).orderBy("part")
      .as[(String, Long, Long)].collect().toSeq
    val want = (1 to 30).map(i => (s"p${i % 3}", i))
      .groupBy(_._1).map { case (p, xs) => (p, xs.size.toLong, xs.map(_._2 * 2L).sum) }
      .toSeq.sortBy(_._1)
    assert(got === want)
    // the table's history shows per-batch overwrites, not accumulation
    assert(TxnLake.read(spark, tbl).count() === 3L)
  }

  test("update mode and multi-column partitionBy are refused at start") {
    val in = mkInput(1 to 6)
    val e1 = intercept[Exception] {
      stream(in).groupBy(col("part")).agg(count(lit(1)).as("n"))
        .writeStream.format("graft-txn").option("partCol", "part")
        .outputMode("update")
        .option("checkpointLocation", fresh("ck"))
        .trigger(Trigger.AvailableNow()).start(fresh("tbl"))
    }
    assert(e1.getMessage.contains("Append and Complete"))
    val e2 = intercept[Exception] {
      stream(in).writeStream.format("graft-txn").partitionBy("part", "id")
        .option("checkpointLocation", fresh("ck"))
        .trigger(Trigger.AvailableNow()).start(fresh("tbl"))
    }
    assert(e2.getMessage.contains("single partition column"))
  }

  test("first-batch create without partCol or partitionBy fails loudly") {
    val in = mkInput(1 to 6)
    val tbl = fresh("tbl")
    val q = stream(in).writeStream.format("graft-txn")
      .option("checkpointLocation", fresh("ck"))
      .trigger(Trigger.AvailableNow()).start(tbl)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("partCol") ||
      Option(e.getCause).exists(_.getMessage.contains("partCol")))
  }

  test("mergeSchema option grows the table additively from the stream") {
    val tbl = fresh("tbl")
    TxnLake.create(spark, tbl,
      (1 to 3).map(i => (i.toLong, s"p${i % 3}")).toDF("id", "part"), "part")
    val in = fresh("in3") + "/data"
    (4 to 6).map(i => (i.toLong, s"p${i % 3}", i * 2L)).toDF("id", "part", "v")
      .coalesce(1).write.parquet(in)
    spark.readStream.schema("id BIGINT, part STRING, v BIGINT").parquet(in)
      .writeStream.format("graft-txn").option("mergeSchema", "true")
      .option("checkpointLocation", fresh("ck"))
      .trigger(Trigger.AvailableNow()).start(tbl).awaitTermination()
    val got = TxnLake.read(spark, tbl)
    assert(got.columns.toSet === Set("id", "part", "v"))
    assert(got.count() === 6L)
    // pre-evolution rows null-fill; streamed rows carry values
    assert(got.filter(col("v").isNull).count() === 3L)
  }

  test("a case-variant column does not duplicate under mergeSchema") {
    val tbl = fresh("tbl")
    TxnLake.create(spark, tbl,
      (1 to 3).map(i => (i.toLong, s"p${i % 3}", i * 2L)).toDF("id", "part", "v"),
      "part")
    // frame carries 'V' — the default case-insensitive resolver must
    // NOT mint a duplicate column next to 'v'
    TxnLake.mergeSchemaFor(spark, tbl,
      Seq((9L, "p0", 9L)).toDF("id", "part", "V"))
    assert(TxnLake.read(spark, tbl).columns.count(_.equalsIgnoreCase("v")) === 1)
  }

  test("a misconfigured sink create surfaces instead of being race-swallowed") {
    val in = mkInput(1 to 6)
    val q = stream(in).writeStream.format("graft-txn")
      .option("partCol", "part").option("identityCol", "part") // = partCol: invalid
      .option("checkpointLocation", fresh("ck"))
      .trigger(Trigger.AvailableNow()).start(fresh("tbl") + "/t")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("partition") || m.contains("BIGINT")),
      s"the configuration error must surface: ${msgs(e)}")
  }

  test("sink onto a pre-existing table appends under its schema and feed") {
    val tbl = fresh("tbl")
    TxnLake.create(spark, tbl,
      (1 to 5).map(i => (i.toLong, s"p${i % 3}", i * 2L)).toDF("id", "part", "v"),
      "part", changeFeed = true) // v0, feed on
    val in = mkInput(6 to 15)
    stream(in).writeStream.format("graft-txn")
      .option("checkpointLocation", fresh("ck"))
      .trigger(Trigger.AvailableNow()).start(tbl).awaitTermination()
    assert(TxnLake.read(spark, tbl).count() === 15L)
    // the streamed appends flowed into the change feed
    val feed = graft.streaming.CdcFeed.batch(spark, tbl, fromVersion = 1)
    assert(feed.filter(col("_change_type") === "insert").count() === 10L)
  }
}
