package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** [[TxnLake.rowCount]] — the metadata-only COUNT(*) — checked against
  * a full scan at every version of a mutation history, across the
  * paths that could desynchronize the manifest counts from the data:
  * deletion vectors (sidecar subtraction), OPTIMIZE rewrites (fresh
  * counts for compacted files), checkpoint + vacuum (counts must
  * survive the materialized snapshot), and zero-copy clones (shared
  * files, divergent histories). */
class MetadataCountSpec extends AnyFunSuite with SparkTestSession {

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def assertMatchesScan(dir: String, version: Long): Unit = {
    val meta = TxnLake.rowCount(spark, dir, version)
    assert(meta.isDefined, s"rowCount undefined at v$version")
    assert(meta.get === TxnLake.readVersion(spark, dir, version).count(),
      s"metadata count != scan at v$version")
  }

  test("rowCount == scan at every version across create/append/DV-delete/optimize") {
    import spark.implicits._
    val dir = freshDir("graft_metacount")
    TxnLake.create(spark, dir,
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p2"))
        .toDF("id", "name", "part"), "part")
    TxnLake.append(spark, dir,
      Seq((5L, "e", "p2"), (6L, "f", "p3")).toDF("id", "name", "part"))
    TxnLake.deleteWhere(spark, dir, col("id") % 2 === 0) // DV sidecar
    TxnLake.optimize(spark, dir, minFiles = 1)           // rewrite + purge
    (0L to 3L).foreach(assertMatchesScan(dir, _))
    assert(TxnLake.rowCount(spark, dir).get === 3L) // 1,3,5 survive
  }

  test("DV subtraction is exact and only counts live references") {
    import spark.implicits._
    val dir = freshDir("graft_metacount_dv")
    TxnLake.create(spark, dir,
      (1L to 10L).map(i => (i, s"n$i", s"p${i % 2}")).toDF("id", "name", "part"),
      "part")
    TxnLake.deleteWhere(spark, dir, col("id") <= 3)
    assertMatchesScan(dir, 1L)
    // a second DV on the same files: disjoint dooms, both subtracted
    TxnLake.deleteWhere(spark, dir, col("id") === 10L)
    assertMatchesScan(dir, 2L)
    assert(TxnLake.rowCount(spark, dir).get === 6L)
  }

  test("DV counting is log-only: exact even with every sidecar byte gone") {
    import spark.implicits._
    val dir = freshDir("graft_metacount_nosc")
    TxnLake.create(spark, dir,
      (1L to 20L).map(i => (i, s"n$i", s"p${i % 2}")).toDF("id", "name", "part"),
      "part")
    TxnLake.deleteWhere(spark, dir, col("id") <= 4)
    TxnLake.deleteWhere(spark, dir, col("id") >= 19) // second DV accrues
    // each entry's cumulative doomed count rides the manifest, so the
    // count must not open a single sidecar — proven by DESTROYING the
    // sidecar directory (reads would now fail; rowCount must not care)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_dv"), true),
      "precondition: the table had DV sidecars to delete")
    assert(TxnLake.rowCount(spark, dir).get === 14L)
    // the doomed field survives the entry (de)serializer round-trip:
    // resolve re-reads the log from disk
    val m = TxnLake.resolve(spark, dir).get
    val dvd = m.files.filter(_.dv.nonEmpty)
    assert(dvd.nonEmpty && dvd.forall(_.doomed > 0L))
  }

  test("counts survive checkpoint + vacuum") {
    import spark.implicits._
    val dir = freshDir("graft_metacount_vac")
    TxnLake.create(spark, dir, Seq((1L, "a", "p1")).toDF("id", "name", "part"), "part")
    (2 to 5).foreach { i =>
      TxnLake.append(spark, dir, Seq((i.toLong, s"x$i", "p1")).toDF("id", "name", "part"))
    }
    TxnLake.vacuum(spark, dir, keepVersions = 2, graceMs = 0L)
    assert(TxnLake.rowCount(spark, dir).get === 5L)
    assertMatchesScan(dir, 4L)
  }

  test("clone preserves counts and diverges independently") {
    import spark.implicits._
    val src = freshDir("graft_metacount_src")
    val dst = freshDir("graft_metacount_fork")
    TxnLake.create(spark, src,
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "name", "part"), "part")
    TxnLake.clone(spark, src, dst)
    assert(TxnLake.rowCount(spark, dst).get === 2L)
    TxnLake.deleteWhere(spark, dst, col("id") === 1L)
    assert(TxnLake.rowCount(spark, dst).get === 1L)
    assert(TxnLake.rowCount(spark, src).get === 2L) // source untouched
  }
}
