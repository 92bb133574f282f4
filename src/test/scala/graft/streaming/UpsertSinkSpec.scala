package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The upsert sink must be idempotent under replay and must merge, not
  * append: overlapping keys update in place, re-processing adds nothing,
  * and a key duplicated within one batch has a deterministic winner. */
class UpsertSinkSpec extends AnyFunSuite with SparkTestSession {

  test("txn sink: streaming aggregation lands as atomic commits equal to the batch aggregate") {
    import graft.lake.TxnLake
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_txn_sink")
    val in = root.resolve("in").toString
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val evSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("v", DoubleType),
      StructField("grp", StringType)))

    import spark.implicits._
    Seq((1L, 1.0, "g1"), (2L, 2.0, "g1"), (1L, 3.0, "g2"))
      .toDF("user_id", "v", "grp").write.mode("append").parquet(in)
    // UPDATE-mode stateful agg upstream: each batch emits full
    // replacement values per key — the property that makes replays
    // content-idempotent downstream
    def agged = spark.readStream.schema(evSchema).parquet(in)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(12,2)")).as("total"),
        max(col("grp")).as("grp"))
    UpsertSink.startTxn(agged, out, "user_id", "grp", ckpt).awaitTermination()

    def snap() = TxnLake.read(spark, out)
      .select(col("user_id"), col("n"), col("total").cast("string"), col("grp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(snap() === Seq((1L, 2L, "4.00", "g2"), (2L, 1L, "2.00", "g1")))

    // more events arrive; the next drain commits another version whose
    // snapshot equals the batch aggregate over ALL events
    Seq((2L, 5.0, "g1"), (3L, 7.0, "g3"))
      .toDF("user_id", "v", "grp").write.mode("append").parquet(in)
    UpsertSink.startTxn(agged, out, "user_id", "grp", ckpt).awaitTermination()
    assert(snap() === Seq((1L, 2L, "4.00", "g2"), (2L, 2L, "7.00", "g1"),
      (3L, 1L, "7.00", "g3")))

    // audit trail: one committed version per non-empty micro-batch
    val versions = TxnLake.history(spark, out).select("version")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(versions === Seq(0L, 1L))
  }

  test("txn sink: replaying the same batch commits a version with an identical snapshot") {
    import graft.lake.TxnLake
    import spark.implicits._
    val root = Files.createTempDirectory("graft_txn_sink_replay")
    val out = root.resolve("out").toString
    val epoch = Seq((1L, "a", "p1"), (2L, "b", "p1"), (2L, "bz", "p1"))
      .toDF("id", "payload", "part")
    UpsertSink.applyBatchTxn(epoch, out, "id", "part")
    def snap() = TxnLake.read(spark, out).as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    val once = snap()
    UpsertSink.applyBatchTxn(epoch, out, "id", "part")
    assert(snap() === once, "replayed batch drifted the snapshot")
    assert(once === Seq((1L, "a", "p1"), (2L, "bz", "p1")))
  }
}
