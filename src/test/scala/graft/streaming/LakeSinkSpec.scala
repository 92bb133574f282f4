package graft.streaming

import graft.SparkTestSession
import graft.lake.{TxnLake, TxnSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming appends onto the lake must be exactly-once: a restarted
  * query re-delivers nothing, and a replayed micro-batch (same appId +
  * batchId, or an older one) is a silent no-op, committed through the
  * transaction marker persisted in the commit record. Driven through
  * the append sink, [[TxnSink]] (`writeStream.format("graft-txn")`). */
class LakeSinkSpec extends AnyFunSuite with SparkTestSession {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("part", StringType)))

  test("streaming appends land exactly once across restarts") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lake_sink")
    val in = root.resolve("in").toString
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def drain(): Unit =
      spark.readStream.schema(schema).parquet(in)
        .writeStream.format("graft-txn")
        .option("partCol", "part").option("txnAppId", "app1")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(out).awaitTermination()

    Seq((1L, "a"), (2L, "b")).toDF("id", "part").write.mode("append").parquet(in)
    drain()
    assert(TxnLake.read(spark, out).count() === 2)
    // no new data: checkpoint makes the restart a no-op
    drain()
    assert(TxnLake.read(spark, out).count() === 2)
    Seq((3L, "a")).toDF("id", "part").write.mode("append").parquet(in)
    drain()
    assert(TxnLake.read(spark, out)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // the restarted query continued the batch ids under the same marker
    assert(TxnLake.lastCommittedTxn(spark, out, "app1") === Some(1L))
  }

  test("a replayed batch id is a silent no-op; new ids append") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_lake_replay").resolve("t").toString
    def sink(appId: String): TxnSink =
      new TxnSink(spark, out, Map("partCol" -> "part", "txnAppId" -> appId),
        Nil, OutputMode.Append())
    def rows(ids: (Long, String)*): DataFrame = ids.toDF("id", "part")
    val app = sink("app")
    val b0 = rows((1L, "a"))
    app.addBatch(0L, b0)
    // crash-replay of batch 0: marker already committed
    app.addBatch(0L, b0)
    assert(TxnLake.read(spark, out).count() === 1)
    // an OLDER batch id (late replay after progress) is also refused
    app.addBatch(1L, rows((9L, "z")))
    assert(TxnLake.read(spark, out).count() === 2)
    app.addBatch(0L, b0)
    assert(TxnLake.read(spark, out).count() === 2)
    // markers are per APPLICATION: another writer's batch 0 lands
    sink("other-app").addBatch(0L, rows((7L, "c")))
    assert(TxnLake.read(spark, out).count() === 3)
    // interleaved ordinary commits don't confuse the marker lookup
    TxnLake.append(spark, out, rows((8L, "d")))
    app.addBatch(1L, b0)
    assert(TxnLake.read(spark, out).count() === 4)
    assert(TxnLake.lastCommittedTxn(spark, out, "app") === Some(1L))
    assert(TxnLake.lastCommittedTxn(spark, out, "other-app") === Some(0L))
    assert(TxnLake.lastCommittedTxn(spark, out, "nobody") === None)
  }
}
