package graft.lake

import graft.SparkTestSession
import graft.streaming.CdcFeed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** MERGE parity: for every clause family and every schema/layout shape
  * a merge meets, the snapshot, the metadata `rowCount` and the change
  * feed of the merge's version equal hand-written expected rows. Rows
  * render as `col|col|...` in table column order; feed rows as
  * `_change_type|col|...`; both compare as sorted multisets, so a row
  * written twice or a change emitted twice fails. */
class MergeParitySpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** (1,10,p1) (2,20,p1) (3,30,p2) (4,40,p3), partitioned on `part`,
    * change feed on. */
  private def table(rows: Seq[(Long, Long, String)] =
                      Seq((1L, 10L, "p1"), (2L, 20L, "p1"), (3L, 30L, "p2"), (4L, 40L, "p3"))
                   ): String = {
    val dir = Files.createTempDirectory("graft_mparity").resolve("t").toString
    TxnLake.create(spark, dir, rows.toDF("id", "v", "part"), "part", changeFeed = true)
    dir
  }

  private def render(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
      .toSeq.sorted

  /** Run `merge` as exactly one commit, then pin the snapshot, the
    * metadata count and the feed of that commit. */
  private def check(dir: String, want: Seq[String], wantFeed: Seq[String])
                   (merge: => Unit): Unit = {
    val before = TxnLake.currentVersion(spark, dir)
    merge
    val v = TxnLake.currentVersion(spark, dir)
    assert(v === before + 1, "a merge is one commit")
    assert(render(TxnLake.read(spark, dir)) === want.sorted, "snapshot")
    assert(TxnLake.rowCount(spark, dir) === Some(want.size.toLong), "rowCount")
    val feed = CdcFeed.batch(spark, dir, v, v).drop(TxnLake.VersionCol)
    val ordered = feed.select((col(TxnLake.ChangeTypeCol) +:
      feed.columns.filterNot(_ == TxnLake.ChangeTypeCol).map(col)).toIndexedSeq: _*)
    assert(render(ordered) === wantFeed.sorted, "feed")
  }

  private def upsert(dir: String, rows: DataFrame): Unit =
    TxnLake.upsert(spark, dir, rows, "id")

  private def merge(dir: String, rows: DataFrame, deleteWhen: Column,
                    bySource: Seq[TxnLake.BySourceAction] = Nil): Unit =
    TxnLake.merge(spark, dir, rows, "id", deleteWhen, bySource)

  test("matched update") {
    val dir = table()
    check(dir, Seq("1|11|p1", "2|20|p1", "3|30|p2", "4|40|p3"),
      Seq("update_preimage|1|10|p1", "update_postimage|1|11|p1")) {
      upsert(dir, Seq((1L, 11L, "p1")).toDF("id", "v", "part"))
    }
  }

  test("delete clause: the matched key's target rows go and its source rows are withheld") {
    val dir = table()
    check(dir, Seq("1|11|p1", "3|30|p2", "4|40|p3"),
      Seq("update_preimage|1|10|p1", "update_postimage|1|11|p1", "delete|2|20|p1")) {
      merge(dir, Seq((1L, 11L, "p1"), (2L, 22L, "p1")).toDF("id", "v", "part"),
        deleteWhen = col("v") >= 20L)
    }
  }

  test("insert") {
    val dir = table()
    check(dir, Seq("1|10|p1", "2|20|p1", "3|30|p2", "4|40|p3", "5|50|p2"),
      Seq("insert|5|50|p2")) {
      upsert(dir, Seq((5L, 50L, "p2")).toDF("id", "v", "part"))
    }
  }

  test("BySourceDelete and BySourceUpdate: first matching clause decides each row") {
    val dir = table()
    check(dir, Seq("1|11|p1", "3|-30|p2", "4|-40|p3"),
      Seq("update_preimage|1|10|p1", "update_postimage|1|11|p1", "delete|2|20|p1",
        "update_preimage|3|30|p2", "update_postimage|3|-30|p2",
        "update_preimage|4|40|p3", "update_postimage|4|-40|p3")) {
      merge(dir, Seq((1L, 11L, "p1")).toDF("id", "v", "part"), lit(false),
        Seq(TxnLake.BySourceDelete(Some(col("v") === 20L)),
          TxnLake.BySourceUpdate(Map("v" -> -col("v")))))
    }
  }

  test("a key that moves partition") {
    val dir = table()
    check(dir, Seq("1|10|p1", "2|20|p1", "3|31|p1", "4|40|p3"),
      Seq("update_preimage|3|30|p2", "update_postimage|3|31|p1")) {
      upsert(dir, Seq((3L, 31L, "p1")).toDF("id", "v", "part"))
    }
  }

  test("duplicate keys in the source: every source row lands once") {
    val dir = table()
    check(dir, Seq("1|11|p1", "1|12|p1", "2|20|p1", "3|30|p2", "4|40|p3", "6|60|p3", "6|61|p3"),
      Seq("update_preimage|1|10|p1", "update_postimage|1|11|p1", "update_postimage|1|12|p1",
        "insert|6|60|p3", "insert|6|61|p3")) {
      upsert(dir, Seq((1L, 11L, "p1"), (1L, 12L, "p1"), (6L, 60L, "p3"), (6L, 61L, "p3"))
        .toDF("id", "v", "part"))
    }
  }

  test("duplicate keys in the target: every target row of the key is replaced once") {
    val dir = table(Seq((1L, 10L, "p1"), (1L, 11L, "p2"), (2L, 20L, "p1"), (3L, 30L, "p3")))
    check(dir, Seq("1|99|p3", "2|20|p1", "3|30|p3"),
      Seq("update_preimage|1|10|p1", "update_preimage|1|11|p2", "update_postimage|1|99|p3")) {
      upsert(dir, Seq((1L, 99L, "p3")).toDF("id", "v", "part"))
    }
    // a delete clause decides per KEY: one target row of the key
    // satisfying it deletes all of them and withholds the source row
    val dup = table(Seq((1L, 10L, "p1"), (1L, 100L, "p2"), (2L, 20L, "p1")))
    check(dup, Seq("2|21|p1"),
      Seq("delete|1|10|p1", "delete|1|100|p2",
        "update_preimage|2|20|p1", "update_postimage|2|21|p1")) {
      merge(dup, Seq((1L, 5L, "p1"), (2L, 21L, "p1")).toDF("id", "v", "part"),
        deleteWhen = col("v") > 50L)
    }
  }

  test("an absent DEFAULTed column: matched keys keep the stored value, new keys take the default") {
    val dir = Files.createTempDirectory("graft_mparity").resolve("t").toString
    TxnLake.create(spark, dir,
      Seq((1L, 10L, "p1", "old"), (2L, 20L, "p1", null), (3L, 30L, "p2", "kept"))
        .toDF("id", "v", "part", "status"), "part", changeFeed = true)
    TxnLake.setColumnDefault(spark, dir, "status", "'new'")
    check(dir, Seq("1|11|p1|old", "2|21|p1|null", "3|30|p2|kept", "5|50|p2|new"),
      Seq("update_preimage|1|10|p1|old", "update_postimage|1|11|p1|old",
        "update_preimage|2|20|p1|null", "update_postimage|2|21|p1|null",
        "insert|5|50|p2|new")) {
      upsert(dir, Seq((1L, 11L, "p1"), (2L, 21L, "p1"), (5L, 50L, "p2")).toDF("id", "v", "part"))
    }
  }

  test("a renamed column") {
    val dir = table()
    TxnLake.renameColumn(spark, dir, "v", "amount")
    check(dir, Seq("1|11|p1", "2|20|p1", "3|30|p2", "4|40|p3", "5|50|p3"),
      Seq("update_preimage|1|10|p1", "update_postimage|1|11|p1", "insert|5|50|p3")) {
      upsert(dir, Seq((1L, 11L, "p1"), (5L, 50L, "p3")).toDF("id", "amount", "part"))
    }
    assert(TxnLake.read(spark, dir).columns.toSeq === Seq("id", "amount", "part"))
  }

  test("an added column: older rows null-fill, the feed carries the evolved schema") {
    val dir = table()
    check(dir, Seq("1|11|p1|x", "2|20|p1|null", "3|30|p2|null", "4|40|p3|null", "5|50|p2|y"),
      Seq("update_preimage|1|10|p1|null", "update_postimage|1|11|p1|x", "insert|5|50|p2|y")) {
      upsert(dir, Seq((1L, 11L, "p1", "x"), (5L, 50L, "p2", "y")).toDF("id", "v", "part", "note"))
    }
  }

  test("a legacy-spec file after evolvePartitioning") {
    val dir = Files.createTempDirectory("graft_mparity").resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 6L).map(i => (i, s"g${i % 2}", s"c${i % 3}", i * 10L)).toDF("id", "grp", "cat", "v"),
      "grp", changeFeed = true)
    TxnLake.evolvePartitioning(spark, dir, "cat")
    check(dir, Seq("1|g1|c1|10", "2|g0|c2|20", "3|g1|c0|30", "4|g0|c1|999", "5|g1|c2|50",
        "6|g0|c0|60", "7|g1|c1|70"),
      Seq("update_preimage|4|g0|c1|40", "update_postimage|4|g0|c1|999", "insert|7|g1|c1|70")) {
      TxnLake.upsert(spark, dir,
        Seq((4L, "g0", "c1", 999L), (7L, "g1", "c1", 70L)).toDF("id", "grp", "cat", "v"), "id")
    }
  }

  test("a merge over an already DV'd file") {
    val dir = table()
    assert(TxnLake.deleteWhere(spark, dir, col("id") === 2L) === 1L)
    check(dir, Seq("1|11|p1", "2|22|p1", "3|30|p2", "4|40|p3"),
      Seq("update_preimage|1|10|p1", "update_postimage|1|11|p1", "insert|2|22|p1")) {
      upsert(dir, Seq((1L, 11L, "p1"), (2L, 22L, "p1")).toDF("id", "v", "part"))
    }
  }
}
