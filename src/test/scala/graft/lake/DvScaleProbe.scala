package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev driver: DELETION-VECTOR read amplification at scale — a
  * 16×-amplified sf0.1 orders lake (~2.4M rows), 1% of rows DV-deleted,
  * then the same aggregate through (a) the raw pre-delete snapshot,
  * (b) the merge-on-read snapshot (the sidecar decoded on the driver
  * into per-file bitmaps, ~24k positions, applied inside the scan by
  * row index), and (c) the post-OPTIMIZE(purgeDv) snapshot. Watch for:
  * the MOR overhead staying a modest constant factor over the raw
  * scan, and the purged read returning to raw-scan cost. Also prints
  * the deleteWhere wall itself: the O(deleted positions) claim vs the
  * O(touched files) rewrite a copy-on-write delete would pay.
  *
  * Run: sbt "Test/runMain graft.lake.DvScaleProbe /root/testdata/sf0.1"
  */
object DvScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dv-probe] $label%-38s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val dir = java.nio.file.Files.createTempDirectory("graft_dvprobe")
      .resolve("orders16x").toString
    val amp = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
      .crossJoin(spark.range(16).select(col("id").as("v")))
      .withColumn("o_orderkey", col("o_orderkey") * 16 + col("v")).drop("v")

    timed("create 16x lake (~2.4M rows)") {
      TxnLake.create(spark, dir, amp, "o_orderstatus")
    }
    def agg(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_price")).as("s")).collect()

    val raw = timed("aggregate, raw snapshot")(agg(TxnLake.read(spark, dir)))
    val deleted = timed("deleteWhere ~1% of rows (DV write)") {
      TxnLake.deleteWhere(spark, dir, pmod(col("o_orderkey"), lit(100)) === 37)
    }
    println(s"[dv-probe] rows deleted: $deleted")
    val mor = timed("aggregate, merge-on-read snapshot")(agg(TxnLake.read(spark, dir)))
    timed("optimize(purgeDv)") {
      TxnLake.optimize(spark, dir, minFiles = Int.MaxValue, purgeDv = true)
    }
    val purged = timed("aggregate, purged snapshot")(agg(TxnLake.read(spark, dir)))

    val nRaw = raw.map(_.getLong(1)).sum
    val nMor = mor.map(_.getLong(1)).sum
    val nPurged = purged.map(_.getLong(1)).sum
    println(s"[dv-probe] counts raw=$nRaw mor=$nMor purged=$nPurged (deleted=$deleted)")
    require(nMor == nRaw - deleted && nPurged == nMor,
      "merge-on-read and purged snapshots must agree exactly")
    spark.stop()
  }
}
