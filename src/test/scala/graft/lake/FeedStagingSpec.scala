package graft.lake

import graft.SparkTestSession
import graft.streaming.CdcFeed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Records, per evaluation of a probed column, whether the log record
  * named by [[record]] already existed — executors of the local test
  * session run in this JVM, so a UDF reaches it directly. */
object FeedStagingProbe {
  @volatile var record: String = ""
  val seen = new ConcurrentLinkedQueue[java.lang.Boolean]()
}

/** The change feed's one lifecycle: every commit stages its feed entry
  * before the publish and the record it publishes names the entry; an
  * aborted commit drops everything its staging wrote. */
class FeedStagingSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_feedstage_$tag").resolve("t").toString

  private def seeded(tag: String): String = {
    val dir = fresh(tag)
    TxnLake.create(spark, dir, Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("id", "name", "part"), "part", changeFeed = true)
    dir
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(c => col(c).cast("string")).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).toSeq.sorted

  test("renamed-column table: the feed records the committed values of a " +
      "per-query expression (append and overwrite)") {
    val dir = seeded("ts")
    TxnLake.renameColumn(spark, dir, "name", "label")
    // `ts` is evaluated once per query: a feed built by running the
    // input plan again would stamp different instants than the table
    TxnLake.addColumn(spark, dir, "ts", org.apache.spark.sql.types.TimestampType)
    TxnLake.append(spark, dir, Seq((4L, "d", "p2")).toDF("id", "label", "part")
      .withColumn("ts", current_timestamp()))
    val appended = TxnLake.currentVersion(spark, dir)
    def feedAt(v: Long, kind: String) = CdcFeed.batch(spark, dir, v)
      .filter(col(TxnLake.VersionCol) === v && col(TxnLake.ChangeTypeCol) === kind)
      .drop(TxnLake.VersionCol, TxnLake.ChangeTypeCol)
    assert(rowsOf(feedAt(appended, "insert")) ===
      rowsOf(TxnLake.read(spark, dir).filter(col("id") === 4L)))
    TxnLake.overwrite(spark, dir, Seq((5L, "e", "p1"), (6L, "f", "p3"))
      .toDF("id", "label", "part").withColumn("ts", current_timestamp()))
    val replaced = TxnLake.currentVersion(spark, dir)
    assert(rowsOf(feedAt(replaced, "insert")) === rowsOf(TxnLake.read(spark, dir)))
  }

  /** Every dir and file below the data, DV and feed roots, relative
    * (the roots themselves are table layout, not staging). */
  private def listing(dir: String): Set[String] = {
    val root = Paths.get(dir)
    Seq("_graft_data", TxnLake.DvDir, TxnLake.CdcDir).map(root.resolve)
      .filter(Files.exists(_)).flatMap { d =>
        val s = Files.walk(d)
        try s.iterator().asScala.filter(_ != d)
          .map(p => root.relativize(p).toString).toList
        finally s.close()
      }.toSet
  }

  /** Run `attempt`, whose contention seam runs `rival` (a conflicting
    * commit) after the attempt staged: the roots must end as before the
    * attempt plus exactly what the rival wrote. */
  private def assertAbortLeavesNoTrace(dir: String, rival: () => Unit)
                                      (attempt: (() => Unit) => Unit): Unit = {
    val before = listing(dir)
    var rivalWrote = Set.empty[String]
    var staged = Set.empty[String]
    attempt { () =>
      val pre = listing(dir)
      staged = pre -- before
      rival()
      rivalWrote = listing(dir) -- pre
    }
    assert(staged.nonEmpty, "the attempt staged nothing")
    assert(listing(dir) === before ++ rivalWrote)
  }

  test("an aborted update, delete or append leaves _graft_data, _graft_dv " +
      "and _graft_cdc exactly as before the attempt") {
    // a rival append to p1 overlaps the update's and delete's touched
    // partitions, so their commits abort under OCC
    def rivalAppend(dir: String) = () =>
      TxnLake.append(spark, dir, Seq((9L, "z", "p1")).toDF("id", "name", "part"))
    val upd = seeded("upd")
    assertAbortLeavesNoTrace(upd, rivalAppend(upd)) { seam =>
      intercept[java.util.ConcurrentModificationException](
        TxnLake.updateWhere(spark, upd, col("id") === 1L,
          Map("name" -> lit("a2")), seam))
    }
    val del = seeded("del")
    assertAbortLeavesNoTrace(del, rivalAppend(del)) { seam =>
      intercept[java.util.ConcurrentModificationException](
        TxnLake.deleteWhere(spark, del, col("id") === 1L, seam))
    }
    // an append aborts when a rival COPY INTO loads the same source
    // files first: the loser drops its staging and reports them loaded
    val app = seeded("app")
    val src = Files.createTempDirectory("graft_feedstage_src").toString
    Seq((7L, "g", "p3")).toDF("id", "name", "part").write.parquet(s"$src/a")
    assertAbortLeavesNoTrace(app,
        () => TxnLake.copyInto(spark, app, s"$src/a")) { seam =>
      val stats = TxnLake.copyInto(spark, app, s"$src/a", "parquet", None,
        Map.empty, seam)
      assert(stats.filesLoaded === 0L)
    }
    assert(TxnLake.read(spark, app).count() === 4L)
  }

  private val probe = udf { (id: Long) =>
    FeedStagingProbe.seen.add(Files.exists(Paths.get(FeedStagingProbe.record)))
    id
  }

  /** Run `commit` with the probe watching the record of the version it
    * is about to publish; the probe must run, and never after that
    * record exists. */
  private def assertNoWorkAfterPublish(dir: String)(commit: => Unit): Unit = {
    val next = TxnLake.currentVersion(spark, dir) + 1
    FeedStagingProbe.record = TxnLake.manifestPath(dir, next).toUri.getPath
    FeedStagingProbe.seen.clear()
    commit
    assert(TxnLake.currentVersion(spark, dir) === next)
    val seen = FeedStagingProbe.seen.asScala.toSeq
    assert(seen.nonEmpty, "the probed input never ran")
    assert(!seen.exists(_.booleanValue),
      s"input evaluated after v$next was published (${seen.count(_.booleanValue)} times)")
  }

  test("no feed work after publish: a merge source and a renamed table's " +
      "overwrite input never run once the version's record exists") {
    val dir = seeded("merge")
    assertNoWorkAfterPublish(dir) {
      TxnLake.upsert(spark, dir, Seq((2L, "b2", "p1"), (4L, "d", "p2"))
        .toDF("id", "name", "part").withColumn("id", probe(col("id"))), "id")
    }
    TxnLake.renameColumn(spark, dir, "name", "label")
    val renamed = TxnLake.currentVersion(spark, dir)
    assertNoWorkAfterPublish(dir) {
      TxnLake.overwrite(spark, dir, Seq((5L, "e", "p1"))
        .toDF("id", "label", "part").withColumn("id", probe(col("id"))))
    }
    // the rename is a feed read barrier: each side reads on its own
    assert(CdcFeed.batch(spark, dir, toVersion = renamed - 1).count() === 3L + 3L)
    assert(CdcFeed.batch(spark, dir, fromVersion = renamed).count() === 5L)
  }
}
