package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** MULTI-COLUMN ZONE MAPS ([[TxnLake.setStatsColumns]]): per-file
  * (min, max) for every named column, recorded at staging and consulted
  * by planning-time pruning in both the file-index fast path and the
  * DV/rename fallback. */
class MultiStatsSpec extends AnyFunSuite with SparkTestSession {

  /** Three commits × 3 partitions; `price` and `qty` bands are
    * correlated with commit, so range predicates on EITHER column can
    * skip whole files. */
  private def freshTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mstats").resolve("t").toString
    def batch(p: String, base: Double, q: Long) =
      (0 until 20).map(i => (s"$p-$q-$i", p, base + i, q + i)).toDF("id", "part", "price", "qty")
    TxnLake.create(spark, dir, batch("p1", 0.0, 0L), "part",
      statsCol = Some("price"), statsCols = Seq("qty"))
    TxnLake.append(spark, dir, batch("p2", 1000.0, 1000L))
    TxnLake.append(spark, dir, batch("p3", 2000.0, 2000L))
    dir
  }

  private def lake(dir: String): DataFrame =
    spark.read.format("graft-txn").load(dir)


  test("manifest entries carry per-column bounds for every tracked column") {
    val dir = freshTable()
    val m = TxnLake.resolve(spark, dir).get
    assert(TxnLake.statsColumnsOf(spark, dir) === Seq("qty"))
    assert(m.files.forall(_.stats.contains("qty")),
      s"every staged file must carry qty bounds: ${m.files.map(_.stats)}")
    assert(m.files.forall(f => f.zmin.isDefined && f.zmax.isDefined),
      "the legacy statsCol zone map must keep working alongside")
    // bounds round-trip the log (resolve re-reads records/checkpoints)
    val f = m.files.find(_.parts.contains(Some("p3"))).get
    val (mn, mx) = f.stats("qty")
    assert(mn >= 2000.0 && mx <= 2019.0)
  }

  test("ranges on the SECOND tracked column prune files at planning time") {
    val dir = freshTable()
    val all = scannedFiles(lake(dir))
    assert(all >= 3)
    val onQty = lake(dir).filter(col("qty") >= 2000L)
    assert(scannedFiles(onQty) < all, "qty bounds must prune the scan")
    assert(onQty.count() === 20)
    // both columns conjoined prune at least as hard
    val both = lake(dir).filter(col("qty") >= 2000L && col("price") >= 2000.0)
    assert(scannedFiles(both) < all)
    assert(both.count() === 20)
    // a range matching nothing scans nothing
    assert(scannedFiles(lake(dir).filter(col("qty") > 99999L)) === 0)
  }

  test("the DV fallback prunes on multi-column stats too") {
    val dir = freshTable()
    TxnLake.deleteWhere(spark, dir, col("id") === "p1-0-0")
    val m = TxnLake.resolve(spark, dir).get
    assert(m.files.exists(_.dv.nonEmpty))
    val all = LakeScans.dvScanFiles(lake(dir)).size
    assert(LakeScans.dvScanFiles(lake(dir).filter(col("qty") >= 2000L)).size < all)
    assert(lake(dir).filter(col("qty") >= 2000L).count() === 20)
    assert(lake(dir).count() === 59)
  }

  test("property set mid-life: old files carry no bounds and are kept; new files prune") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mstats2").resolve("t").toString
    def batch(p: String, q: Long) =
      (0 until 10).map(i => (s"$p-$i", p, q + i)).toDF("id", "part", "qty")
    TxnLake.create(spark, dir, batch("p1", 0L), "part")
    TxnLake.setStatsColumns(spark, dir, Seq("qty"))
    TxnLake.append(spark, dir, batch("p2", 1000L))
    val m = TxnLake.resolve(spark, dir).get
    val (withB, without) = m.files.partition(_.stats.contains("qty"))
    assert(withB.nonEmpty && without.nonEmpty)
    // pre-property files have no bounds → always kept; results stay exact
    val q = lake(dir).filter(col("qty") >= 1000L)
    assert(q.count() === 10)
    assert(scannedFiles(q) >= without.size,
      "unbounded legacy files must be kept conservatively")
  }
}
