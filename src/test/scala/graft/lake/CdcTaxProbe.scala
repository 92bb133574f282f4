package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev driver: CHANGE-FEED WRITE TAX. Every commit on a changeFeed
  * table fills a feed entry before it publishes (explicit change rows
  * and/or byte copies), which the published record names; this
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
  * The two sides run INTERLEAVED, one commit at a time, and the side
  * that goes first flips every round, so JIT warm-up and cache state
  * fall on both alike (a whole no-feed sequence before the feed one
  * makes the feed side the warmer one, and its delta reads low or
  * negative).
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

    val kinds: Seq[(String, (String, Int) => Unit)] = Seq(
      "update" -> ((dir, k) => TxnLake.updateWhere(spark, dir,
        col("id") % 7 === (k % 7).toLong, Map("v" -> (col("v") + 1.0)))),
      "delete" -> ((dir, k) => TxnLake.deleteWhere(spark, dir, col("id") === (k * 3).toLong)),
      "merge " -> ((dir, k) => TxnLake.upsert(spark, dir, (0 until 40).map(i =>
        (k * 37L + i * 11L, s"p${i % 4}", -1.0 * k)).toDF("id", "part", "v"), "id")))

    /** ms/commit per kind, (no feed, feed): one table per side, every
      * kind's commits interleaved between the two. */
    def run(): Seq[(String, Double, Double)] = {
      val dirs = Seq(false, true).map { feed =>
        val dir = java.nio.file.Files.createTempDirectory("graft_cdctax")
          .resolve("t").toString
        TxnLake.create(spark, dir, seed, "part", changeFeed = feed)
        feed -> dir
      }.toMap
      kinds.map { case (name, op) =>
        val total = scala.collection.mutable.Map(false -> 0.0, true -> 0.0)
        (0 until n).foreach { k =>
          (if (k % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { feed =>
            val t0 = System.nanoTime()
            op(dirs(feed), k)
            total(feed) += ms(t0)
          }
        }
        (name, total(false) / n, total(true) / n)
      }
    }

    run() // warmup (JIT + session)
    run().foreach { case (name, no, cdc) =>
      println(f"[cdc-tax] $name x$n: no-feed $no%7.1f ms/commit | feed $cdc%7.1f ms/commit | cdc delta ${cdc - no}%7.1f ms")
    }
    spark.stop()
  }
}
