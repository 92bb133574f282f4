package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev driver: CHANGE-FEED WRITE TAX. Every commit on a changeFeed
  * table fills a feed stage before it publishes (explicit change rows
  * and/or byte copies) and renames it into its version after; this
  * probe isolates that cost by running the same update/delete/merge
  * sequence with and without the feed:
  *
  *   - `no feed`   — staging job + commit protocol only
  *   - `feed`      — + the pre-publish feed staging (merge: none of
  *                   its own — the classification pass writes its rows
  *                   into the feed stage instead of a scratch stage;
  *                   update/delete: pre-images written by the predicate
  *                   pass, post-images copied)
  *   - the delta   — the feed's cost per commit
  *
  * Run: sbt "Test/runMain graft.lake.CdcTaxProbe [nCommits]"
  */
object CdcTaxProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 12
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def seed = (0 until 400).map(i => (i.toLong, s"p${i % 4}", i * 1.0))
      .toDF("id", "part", "v")

    def run(changeFeed: Boolean): (Double, Double, Double) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_cdctax")
        .resolve("t").toString
      TxnLake.create(spark, dir, seed, "part", changeFeed = changeFeed)
      var updMs = 0.0
      (0 until n).foreach { k =>
        val t0 = System.nanoTime()
        TxnLake.updateWhere(spark, dir, col("id") % 7 === (k % 7).toLong,
          Map("v" -> (col("v") + 1.0)))
        updMs += ms(t0)
      }
      var delMs = 0.0
      (0 until n).foreach { k =>
        val t0 = System.nanoTime()
        TxnLake.deleteWhere(spark, dir, col("id") === (k * 3).toLong)
        delMs += ms(t0)
      }
      var mrgMs = 0.0
      (0 until n).foreach { k =>
        val src = (0 until 40).map(i =>
          (k * 37L + i * 11L, s"p${i % 4}", -1.0 * k)).toDF("id", "part", "v")
        val t0 = System.nanoTime()
        TxnLake.upsert(spark, dir, src, "id")
        mrgMs += ms(t0)
      }
      (updMs / n, delMs / n, mrgMs / n)
    }

    // warmup (JIT + session)
    run(changeFeed = false)
    val (updNo, delNo, mrgNo) = run(changeFeed = false)
    val (updCdc, delCdc, mrgCdc) = run(changeFeed = true)
    println(f"[cdc-tax] update x$n: no-feed ${updNo}%7.1f ms/commit | feed ${updCdc}%7.1f ms/commit | cdc delta ${updCdc - updNo}%7.1f ms")
    println(f"[cdc-tax] delete x$n: no-feed ${delNo}%7.1f ms/commit | feed ${delCdc}%7.1f ms/commit | cdc delta ${delCdc - delNo}%7.1f ms")
    println(f"[cdc-tax] merge  x$n: no-feed ${mrgNo}%7.1f ms/commit | feed ${mrgCdc}%7.1f ms/commit | cdc delta ${mrgCdc - mrgNo}%7.1f ms")
    spark.stop()
  }
}
