package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** [[TxnLake.merge]] — full MERGE with a delete clause, one atomic
  * commit:
  *   WHEN MATCHED AND deleteWhen(target) THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  */
class MergeClausesSpec extends AnyFunSuite with SparkTestSession {

  private def freshTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge").resolve("t").toString
    TxnLake.create(spark, dir,
      Seq((1L, 10L, "p1"), (2L, 200L, "p1"), (3L, 30L, "p2"), (4L, 400L, "p3"))
        .toDF("id", "v", "part"),
      "part", changeFeed = true)
    dir
  }

  private def rows(dir: String): Seq[(Long, Long, String)] =
    TxnLake.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"), r.getAs[String]("part"))).toSeq

  test("matched+deleteWhen deletes, matched updates, unmatched inserts — one commit") {
    import spark.implicits._
    val dir = freshTable()
    val v0 = TxnLake.history(spark, dir).count()
    // source touches 1 (matched, v=10 small -> update), 2 (matched,
    // v=200 large -> DELETE: source row withheld), 5 (unmatched -> insert)
    TxnLake.merge(spark, dir,
      Seq((1L, 11L, "p1"), (2L, 999L, "p1"), (5L, 50L, "p2")).toDF("id", "v", "part"),
      "id", deleteWhen = col("v") > 100)
    assert(rows(dir) === Seq((1L, 11L, "p1"), (3L, 30L, "p2"), (4L, 400L, "p3"),
      (5L, 50L, "p2")))
    // exactly ONE commit for all three clauses
    assert(TxnLake.history(spark, dir).count() === v0 + 1)
  }

  test("deleteWhen evaluates the TARGET pre-image, not the source row") {
    import spark.implicits._
    val dir = freshTable()
    // source v=999 for key 1 (target v=10): target row small -> UPDATE
    // applies even though the incoming value is large
    TxnLake.merge(spark, dir,
      Seq((1L, 999L, "p1")).toDF("id", "v", "part"), "id",
      deleteWhen = col("v") > 100)
    assert(rows(dir).head === ((1L, 999L, "p1")))
  }

  test("untouched partitions keep their files; CDC carries all three classes") {
    import spark.implicits._
    val dir = freshTable()
    val before = TxnLake.resolve(spark, dir).get.files
    TxnLake.merge(spark, dir,
      Seq((1L, 11L, "p1"), (2L, 999L, "p1"), (5L, 50L, "p2")).toDF("id", "v", "part"),
      "id", deleteWhen = col("v") > 100)
    val after = TxnLake.resolve(spark, dir).get.files
    // every base file keeps its path; p1's (keys 1 and 2 doomed) gains
    // exactly one vector, p2's (only an insert lands in p2) and p3's
    // (never touched) entries are unchanged
    assert(before.map(_.path).toSet.subsetOf(after.map(_.path).toSet))
    val (p1, others) = before.partition(_.parts == Set(Option("p1")))
    val p1After = after.find(_.path == p1.head.path).get
    assert(p1After.dv.size === 1 && p1After.doomed === 2L)
    assert(others.forall(f => after.contains(f)))
    // the new files hold only the post-image of 1 and the insert of 5
    val added = after.filterNot(f => before.exists(_.path == f.path))
    assert(added.map(_.rows).sum === 2L)
    val v = TxnLake.history(spark, dir).agg(max("version")).head().getLong(0)
    val cdc = graft.streaming.CdcFeed.batch(spark, dir, fromVersion = v)
      .select(col("id"), col(TxnLake.ChangeTypeCol)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cdc === Set((1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "delete"), (5L, "insert")))
  }

  test("merge with lit(false) deleteWhen degenerates to upsert") {
    import spark.implicits._
    val dir = freshTable()
    TxnLake.merge(spark, dir,
      Seq((2L, 5L, "p1"), (6L, 60L, "p1")).toDF("id", "v", "part"), "id",
      deleteWhen = lit(false))
    assert(rows(dir) === Seq((1L, 10L, "p1"), (2L, 5L, "p1"), (3L, 30L, "p2"),
      (4L, 400L, "p3"), (6L, 60L, "p1")))
  }

  test("WHEN NOT MATCHED BY SOURCE THEN DELETE retires source-absent rows exactly once") {
    import spark.implicits._
    val dir = freshTable()
    val v0 = TxnLake.history(spark, dir).count()
    // sync-shaped merge: source = the full desired snapshot (keys 1,3
    // updated; 5 new); keys 2 and 4 are absent -> retired, same commit
    val src = Seq((1L, 11L, "p1"), (3L, 33L, "p2"), (5L, 50L, "p2"))
      .toDF("id", "v", "part")
    TxnLake.merge(spark, dir, src, "id", deleteWhen = lit(false),
      bySource = Seq(TxnLake.BySourceDelete()))
    assert(rows(dir) === Seq((1L, 11L, "p1"), (3L, 33L, "p2"), (5L, 50L, "p2")))
    assert(TxnLake.history(spark, dir).count() === v0 + 1,
      "all clause families must land in ONE commit")
    // retire is idempotent: replaying the same sync changes nothing
    TxnLake.merge(spark, dir, src, "id", deleteWhen = lit(false),
      bySource = Seq(TxnLake.BySourceDelete()))
    assert(rows(dir) === Seq((1L, 11L, "p1"), (3L, 33L, "p2"), (5L, 50L, "p2")))
    val cdc = graft.streaming.CdcFeed.batch(spark, dir, fromVersion = v0)
      .filter(col(TxnLake.ChangeTypeCol) === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(cdc === Set(2L, 4L), "retired rows emit delete pre-images once")
  }

  test("by-source clause order: first matching clause wins") {
    import spark.implicits._
    val dir = freshTable()
    // unmatched: 2 (v=200), 3 (v=30), 4 (v=400). Delete v>300 first,
    // then soft-retire the rest: 4 deleted; 2 and 3 flagged v=-1.
    TxnLake.merge(spark, dir, Seq((1L, 11L, "p1")).toDF("id", "v", "part"),
      "id", deleteWhen = lit(false),
      bySource = Seq(
        TxnLake.BySourceDelete(Some(col("v") > 300)),
        TxnLake.BySourceUpdate(Map("v" -> lit(-1L)))))
    assert(rows(dir) === Seq((1L, 11L, "p1"), (2L, -1L, "p1"), (3L, -1L, "p2")))
  }

  test("by-source UPDATE may move the partition column; CDC carries the pre/post pair") {
    import spark.implicits._
    val dir = freshTable()
    val v0 = TxnLake.history(spark, dir).agg(max("version")).head().getLong(0)
    // retire key 4 into a quarantine partition nothing else touches —
    // the rewrite must stage (and the touched set must include) the
    // DESTINATION partition, not just the pre-image's
    TxnLake.merge(spark, dir, Seq((1L, 11L, "p1")).toDF("id", "v", "part"),
      "id", deleteWhen = lit(false),
      bySource = Seq(TxnLake.BySourceUpdate(
        Map("part" -> lit("retired")), Some(col("v") > 300))))
    assert(rows(dir) === Seq((1L, 11L, "p1"), (2L, 200L, "p1"), (3L, 30L, "p2"),
      (4L, 400L, "retired")))
    val cdc = graft.streaming.CdcFeed.batch(spark, dir, fromVersion = v0 + 1)
      .filter(col("id") === 4L)
      .select(col(TxnLake.ChangeTypeCol), col("part")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(cdc === Set(("update_preimage", "p3"), ("update_postimage", "retired")))
  }

  test("by-source clauses leave unaffected partitions' files untouched") {
    import spark.implicits._
    val dir = freshTable()
    val before = TxnLake.detail(spark, dir).select("path").collect().map(_.getString(0)).toSet
    // source matches ONLY key 3 (p2); by-source delete hits ONLY key 4
    // (v=400, p3) — p1's rows 1,2 match no clause, so p1's file survives
    TxnLake.merge(spark, dir, Seq((3L, 31L, "p2")).toDF("id", "v", "part"),
      "id", deleteWhen = lit(false),
      bySource = Seq(TxnLake.BySourceDelete(Some(col("v") > 300))))
    val after = TxnLake.detail(spark, dir).select("path").collect().map(_.getString(0)).toSet
    assert((before intersect after).nonEmpty, "p1 files must ride along unrewritten")
    assert(rows(dir) === Seq((1L, 10L, "p1"), (2L, 200L, "p1"), (3L, 31L, "p2")))
  }

  test("nondeterministic by-source conditions are rejected") {
    import spark.implicits._
    val dir = freshTable()
    val e = intercept[IllegalArgumentException] {
      TxnLake.merge(spark, dir, Seq((1L, 11L, "p1")).toDF("id", "v", "part"),
        "id", deleteWhen = lit(false),
        bySource = Seq(TxnLake.BySourceDelete(Some(rand() > 0.5))))
    }
    assert(e.getMessage.contains("deterministic"))
    assert(rows(dir) === Seq((1L, 10L, "p1"), (2L, 200L, "p1"), (3L, 30L, "p2"),
      (4L, 400L, "p3")), "rejected merge must not mutate the table")
  }

  test("nondeterministic by-source SET values are rejected") {
    import spark.implicits._
    val dir = freshTable()
    val e = intercept[IllegalArgumentException] {
      TxnLake.merge(spark, dir, Seq((1L, 11L, "p1")).toDF("id", "v", "part"),
        "id", deleteWhen = lit(false),
        bySource = Seq(TxnLake.BySourceUpdate(
          Map("v" -> (rand() * 100).cast("long")))))
    }
    assert(e.getMessage.contains("deterministic"))
    assert(rows(dir) === Seq((1L, 10L, "p1"), (2L, 200L, "p1"), (3L, 30L, "p2"),
      (4L, 400L, "p3")), "rejected merge must not mutate the table")
  }

  test("by-source SET of an unknown or generated column is refused") {
    import spark.implicits._
    val dir = freshTable()
    val e = intercept[IllegalArgumentException] {
      TxnLake.merge(spark, dir, Seq((1L, 11L, "p1")).toDF("id", "v", "part"),
        "id", deleteWhen = lit(false),
        bySource = Seq(TxnLake.BySourceUpdate(Map("nope" -> lit(1)))))
    }
    assert(e.getMessage.contains("no column 'nope'"))
  }
}
