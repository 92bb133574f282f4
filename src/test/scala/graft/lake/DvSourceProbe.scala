package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev driver: a SELECTIVE lookup on a deletion-vectored table through
  * the `graft-txn` source ([[TxnDvRelation]]). 48 files (8 partitions ×
  * 6 appends of disjoint `id` ranges, stats column `id`), then
  * `sidecars` single-row deletes spread over the files — one DV sidecar
  * each — then a partition + `id` range lookup that one file answers.
  * Prints the lookup's wall time (plan + run of `count()`), median and
  * quartiles over the timed runs: the figure to compare across builds
  * for the cost of decoding sidecars on the driver per query.
  *
  * Run: SPARK_DRIVER_MEM=2g sbt "Test/runMain graft.lake.DvSourceProbe 48"
  */
object DvSourceProbe {
  def main(args: Array[String]): Unit = {
    val sidecars = if (args.nonEmpty) args(0).toInt else 48
    val runs = if (args.length > 1) args(1).toInt else 31
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("graft_dvsource")
      .resolve("t").toString
    for (a <- 0 until 6) {
      val df = spark.range(a * 8000L, (a + 1) * 8000L)
        .select(col("id"), (col("id") % 8).as("p"), (col("id") * 3).as("v"))
      if (a == 0) TxnLake.create(spark, dir, df, "p", Some("id"))
      else TxnLake.append(spark, dir, df)
    }
    // delete k hits the file of append (k % 6), partition (k % 8)
    (0 until sidecars).foreach { k =>
      TxnLake.deleteWhere(spark, dir, col("id") === (k % 6) * 8000L + 8 * k + k % 8)
    }
    val m = TxnLake.resolve(spark, dir).get
    val refs = m.files.flatMap(_.dv).distinct.size
    def lookup(): Long = spark.read.format("graft-txn").load(dir)
      .filter(col("p") === 3L && col("id").between(100L, 200L)).count()
    val want = lookup()
    (0 until 5).foreach(_ => lookup())
    val ms = (0 until runs).map { _ =>
      val t0 = System.nanoTime()
      assert(lookup() == want)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    def q(p: Double): Double = ms(((ms.size - 1) * p).round.toInt)
    println(f"[dv-source] files=${m.files.size} sidecars=$refs rows=$want " +
      f"lookup ms median ${q(0.5)}%.1f [q1 ${q(0.25)}%.1f, q3 ${q(0.75)}%.1f] over $runs runs")
    spark.stop()
  }
}
