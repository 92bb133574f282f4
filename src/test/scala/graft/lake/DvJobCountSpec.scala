package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Deletion vectors cost no join and no extra job: a DV'd snapshot's
  * sidecars are decoded on the driver and applied inside the scan, so
  * building a frame over it starts no Spark job; a delete is its one
  * predicate pass (with the change feed on, the sidecar is decoded
  * from the staged pre-images and written on the driver), an update
  * adds only its post-image write, and a merge is its one
  * classification pass plus the new files' write — with or without
  * the feed. */
class DvJobCountSpec extends AnyFunSuite with SparkTestSession with AdaptiveSparkPlanHelper
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  /** 30 rows in 3 partitions, one earlier delete already on it, so
    * every read below goes through a deletion vector. */
  private def dvTable(changeFeed: Boolean): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dvjobs").resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 30L).map(i => (i, s"n$i", s"p${i % 3}")).toDF("id", "name", "part"),
      "part", changeFeed = changeFeed)
    assert(TxnLake.deleteWhere(spark, dir, col("id") % 5 === 0) === 6L)
    dir
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def joins(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) { case j: BaseJoinExec => j.nodeName }

  test("a frame over a DV'd snapshot starts no job and plans no join") {
    val dir = dvTable(changeFeed = false)
    val live = (1L to 30L).filterNot(_ % 5 == 0)
    Seq[(String, () => DataFrame)](
      "read" -> (() => TxnLake.read(spark, dir)),
      "readVersion" -> (() => TxnLake.readVersion(spark, dir, 1L))
    ).foreach { case (name, build) =>
      var df: DataFrame = null
      assert(jobsOf { df = build() } === 0, name)
      assert(ids(df) === live, name)
      assert(joins(df).isEmpty, s"$name: ${df.queryExecution.executedPlan}")
      // a filter on the frame still reaches the parquet scan
      val filtered = df.filter(col("id") === 7L)
      assert(ids(filtered) === Seq(7L))
      val pushed = collect(filtered.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "")
      }
      assert(pushed.exists(_.contains("EqualTo(id,7)")), s"$name: $pushed")
      // ...and runs before the deletion-vector probe, so only the rows
      // it keeps pay for the probe
      val conditions = collect(filtered.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition
      }
      assert(conditions.nonEmpty && conditions.forall { c =>
        val conjuncts = splitConjunctivePredicates(c)
        conjuncts.last.isInstanceOf[DvFilter] && !conjuncts.init.exists(_.isInstanceOf[DvFilter])
      }, s"$name: $conditions")
    }
    // the graft-txn source serves a DV'd snapshot through TxnDvRelation,
    // whose scan is built at planning time: that build starts no job
    val rel = spark.read.format("graft-txn").load(dir).queryExecution.analyzed
      .collectFirst { case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation }.collect { case r: TxnDvRelation => r }
      .getOrElse(fail("a DV'd snapshot must plan through TxnDvRelation"))
    var rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    assert(jobsOf {
      rdd = rel.buildScan(Array("id"),
        Array(org.apache.spark.sql.sources.EqualTo("part", "p1")))
    } === 0)
    assert(rdd.collect().map(_.getLong(0)).toSeq.sorted === live.filter(_ % 3 == 1))
  }

  test("deleteWhere is one job with or without a change feed") {
    Seq(false -> 1, true -> 1).foreach { case (feed, want) =>
      val dir = dvTable(changeFeed = feed)
      var n = 0L
      assert(jobsOf { n = TxnLake.deleteWhere(spark, dir, col("id") <= 4L) } === want,
        s"changeFeed = $feed")
      assert(n === 4L)
      assert(ids(TxnLake.read(spark, dir)) ===
        (5L to 30L).filterNot(_ % 5 == 0))
    }
  }

  test("updateWhere adds only its post-image write to the delete's jobs") {
    Seq(false -> 3, true -> 3).foreach { case (feed, want) =>
      val dir = dvTable(changeFeed = feed)
      var n = 0L
      assert(jobsOf {
        n = TxnLake.updateWhere(spark, dir, col("id") <= 4L, Map("name" -> lit("u")))
      } === want, s"changeFeed = $feed")
      assert(n === 4L)
      assert(TxnLake.read(spark, dir).filter(col("name") === "u").count() === 4L)
    }
  }

  test("upsert and merge are one classification pass plus the new files' write") {
    import spark.implicits._
    val src = Seq((1L, "u1", "p1"), (2L, "u2", "p2"), (31L, "n31", "p1"))
      .toDF("id", "name", "part")
    // (shape, jobs with or without the feed): the broadcast of the
    // source keys, the classification's shuffle and its write, the new
    // files' write (the sidecar is written on the driver from the
    // classified rows); a by-source clause's left join first dedups
    // the source keys, one more shuffle
    Seq[(String, Int, String => Unit)](
      ("upsert", 4, dir => TxnLake.upsert(spark, dir, src, "id")),
      ("delete clause", 4, dir => TxnLake.merge(spark, dir, src, "id",
        deleteWhen = col("id") === 2L)),
      ("bySource", 5, dir => TxnLake.merge(spark, dir, src, "id", deleteWhen = lit(false),
        bySource = Seq(TxnLake.BySourceUpdate(Map("name" -> lit("gone")),
          Some(col("id") === 4L)))))
    ).foreach { case (shape, want, run) =>
      Seq(false, true).foreach { feed =>
        val tag = s"$shape, changeFeed = $feed"
        val dir = dvTable(changeFeed = feed)
        assert(jobsOf(run(dir)) === want, tag)
        val names = TxnLake.read(spark, dir).select("id", "name").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(names(1L) === "u1" && names(31L) === "n31", tag)
        assert(names.get(2L) === (if (shape == "delete clause") None else Some("u2")), tag)
        assert(names(4L) === (if (shape == "bySource") "gone" else "n4"), tag)
      }
    }
  }

  test("a merged file keeps its path and gains one vector; untouched entries are unchanged") {
    import spark.implicits._
    val dir = dvTable(changeFeed = false)
    val before = TxnLake.resolve(spark, dir).get.files
    TxnLake.upsert(spark, dir, Seq((1L, "u1", "p1")).toDF("id", "name", "part"), "id")
    val after = TxnLake.resolve(spark, dir).get.files
    // id 1 lives in p1's file: same path, one more vector, one more doomed row
    val (hit, rest) = before.partition(_.parts == Set(Option("p1")))
    assert(hit.size === 1)
    val merged = after.find(_.path == hit.head.path).get
    assert(merged.dv.size === hit.head.dv.size + 1 && merged.dv.init === hit.head.dv)
    assert(merged.doomed === hit.head.doomed + 1L)
    assert(rest.forall(after.contains), "untouched entries are republished as they were")
    assert(after.size === before.size + 1, "one new file: the post-image")
  }
}
