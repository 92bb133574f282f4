package graft.lake

import graft.SparkTestSession
import graft.streaming.CdcFeed
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.file.Files

/** The local file system under the `faulty` scheme, refusing every
  * rename into the change-feed root: a store where moving a feed entry
  * into place fails (on object stores a rename is a copy that is not
  * atomic). Renames deeper under an entry — Spark's output committer
  * moving task files into the dir it writes — still succeed. */
class FeedRenameRefusingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getParent != null && dst.getParent.getName == TxnLake.CdcDir) false
    else super.rename(src, dst)
}

/** A commit's feed entry is complete once its record publishes: on a
  * store that refuses to rename anything into `_graft_cdc`, every DML
  * kind still returns normally and its version reads back its changes
  * — the record is the entry's only commit point. */
class FeedGapSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(c => col(c).cast("string")).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).toSeq.sorted

  test("no commit renames into _graft_cdc: deleteWhere, updateWhere and merge " +
      "return normally and each version's feed equals its changes") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl",
      classOf[FeedRenameRefusingFileSystem].getName)
    val local = Files.createTempDirectory("graft_feedgap").resolve("t").toString
    TxnLake.create(spark, local, Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"),
      (4L, "d", "p2")).toDF("id", "name", "part"), "part", changeFeed = true)
    // the same table, addressed through the refusing store
    val dir = "faulty://" + local
    val commits = Seq[() => Unit](
      () => TxnLake.deleteWhere(spark, dir, col("id") === 1L),
      () => TxnLake.updateWhere(spark, dir, col("id") === 3L, Map("name" -> lit("c2"))),
      () => TxnLake.merge(spark, dir, Seq((2L, "b2", "p1"), (4L, "d2", "p2"),
        (5L, "e", "p3")).toDF("id", "name", "part"), "id",
        deleteWhen = col("name") === "d", bySource = Nil, schemaEvolution = false))
    commits.foreach { commit =>
      commit()
      val v = TxnLake.currentVersion(spark, dir)
      val want = TxnLake.changes(spark, dir, v - 1, v, "id", preimages = true)
        .withColumn(TxnLake.VersionCol, lit(v))
      val got = CdcFeed.batch(spark, dir, v, v)
      assert(got.count() > 0L, s"version $v has no feed entry")
      assert(rowsOf(got) === rowsOf(want), s"version $v")
    }
  }
}
