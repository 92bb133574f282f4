package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Every snapshot read skips files through the one manifest index
  * ([[TxnFileIndex]]): `TxnLake.read`, a DML statement's live scan and
  * the `graft-txn` relation with or without deletion vectors open only
  * the files whose partition values and zone maps may match, and an IN
  * list prunes the same whatever its length. */
class SnapshotPruningSpec extends AnyFunSuite with SparkTestSession {

  /** 4 partitions × 5 appends: append `k` holds ids [1000k, 1000k + 999]
    * spread over partitions `id % 4`, so each of the 20 files covers
    * one (append, partition) cell and the id zone maps of different
    * appends are disjoint. */
  private def gridTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_prune").resolve("t").toString
    def batch(k: Int) =
      (0 until 1000).map(i => (1000L * k + i, i % 4, s"v$k-$i")).toDF("id", "p", "v")
    TxnLake.create(spark, dir, batch(0), "p", statsCol = Some("id"))
    (1 until 5).foreach(k => TxnLake.append(spark, dir, batch(k)))
    assert(TxnLake.resolve(spark, dir).get.files.size === 20)
    dir
  }

  private def lake(dir: String): DataFrame = spark.read.format("graft-txn").load(dir)

  private val in3 = Seq(1500L, 1505L, 1510L)
  private val in11 = (1500L to 1510L).toSeq

  test("TxnLake.read prunes on partition and zone-map predicates") {
    val dir = gridTable()
    assert(scannedFiles(TxnLake.read(spark, dir)) === 20)
    val cell = TxnLake.read(spark, dir).filter(col("p") === 1 && col("id").between(1000L, 1999L))
    assert(scannedFiles(cell) === 1)
    assert(cell.count() === 250)
    assert(scannedFiles(TxnLake.read(spark, dir).filter(col("id") === 1500L)) === 4)
    assert(scannedFiles(TxnLake.read(spark, dir).filter(col("p") === 1)) === 5)
    assert(scannedFiles(TxnLake.readVersion(spark, dir, 2).filter(col("id") >= 2000L)) === 4)
    val range = TxnLake.readRange(spark, dir, 3000.0, 3099.0)
    assert(scannedFiles(range) === 4)
    assert(range.count() === 100)
  }

  test("deleteWhere reads only the files its predicate may match") {
    val dir = gridTable()
    val cell = LakeScans.filesScannedBy(spark, dir) {
      assert(TxnLake.deleteWhere(spark, dir, col("p") === 1 && col("id") === 2501L) === 1L)
    }
    assert(cell === 1)
    // a range over the DV'd snapshot: one append's 4 files, the DV'd one among them
    val range = LakeScans.filesScannedBy(spark, dir) {
      assert(TxnLake.deleteWhere(spark, dir, col("id").between(2400L, 2599L)) === 199L)
    }
    assert(range === 4)
    val left = TxnLake.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(left === (0L until 5000L).filterNot(i => i >= 2400L && i <= 2599L).toSet)
  }

  test("an 11-value IN prunes like a 3-value IN, with and without deletion vectors") {
    val dir = gridTable()
    assert(scannedFiles(lake(dir).filter(col("id").isin(in3: _*))) === 4)
    assert(scannedFiles(lake(dir).filter(col("id").isin(in11: _*))) === 4)
    assert(scannedFiles(TxnLake.read(spark, dir).filter(col("id").isin(in11: _*))) === 4)
    TxnLake.deleteWhere(spark, dir, col("id") === 1505L)
    assert(TxnLake.resolve(spark, dir).get.files.exists(_.dv.nonEmpty))
    val q3 = lake(dir).filter(col("id").isin(in3: _*))
    val q11 = lake(dir).filter(col("id").isin(in11: _*))
    assert(LakeScans.dvScanFiles(q3).size === 4)
    assert(LakeScans.dvScanFiles(q11) === LakeScans.dvScanFiles(q3))
    assert(q3.count() === 2L)
    assert(q11.count() === 10L)
  }

  test("boolean partition values prune in flat mode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_prune_bool").resolve("t").toString
    def rows(from: Int) =
      (from until from + 40).map(i => (i.toLong, i % 2 == 0, s"g${i % 3}")).toDF("id", "flag", "g")
    // the legacy-spec files of a partition evolution keep the index flat,
    // so the new column's values prune through its own conjunct analysis
    TxnLake.create(spark, dir, rows(0), "g")
    TxnLake.evolvePartitioning(spark, dir, "flag")
    TxnLake.append(spark, dir, rows(40))
    TxnLake.append(spark, dir, rows(80))
    val all = scannedFiles(TxnLake.read(spark, dir))
    val onTrue = TxnLake.read(spark, dir).filter(col("flag") === true)
    assert(scannedFiles(onTrue) < all)
    assert(onTrue.count() === 60)
  }
}
