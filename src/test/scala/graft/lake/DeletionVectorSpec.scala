package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Merge-on-read deletes via DELETION VECTORS ([[TxnLake.deleteWhere]]):
  * data files are never rewritten — doomed row positions land in a
  * `_graft_dv` sidecar and every read path subtracts them — until
  * OPTIMIZE(purgeDv) folds the vectors into fresh files. */
class DeletionVectorSpec extends AnyFunSuite with SparkTestSession {

  private def freshTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dv").resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 12L).map(i => (i, s"n$i", s"p${i % 3}")).toDF("id", "name", "part"),
      "part")
    dir
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("deleteWhere removes matching rows from reads WITHOUT rewriting any data file") {
    val dir = freshTable()
    val before = TxnLake.resolve(spark, dir).get.files
    val n = TxnLake.deleteWhere(spark, dir, col("id") % 4 === 0)
    assert(n === 3L) // 4, 8, 12
    assert(ids(TxnLake.read(spark, dir)) === (1L to 12L).filter(_ % 4 != 0))
    val after = TxnLake.resolve(spark, dir).get.files
    assert(after.map(_.path).toSet === before.map(_.path).toSet,
      "a DV delete must not add or rewrite data files")
    assert(after.exists(_.dv.nonEmpty), "touched entries must carry the sidecar")
    assert(after.filter(_.dv.nonEmpty).forall(_.dv.size === 1))
  }

  test("vectors accumulate across deletes; time travel ignores later vectors") {
    val dir = freshTable()
    TxnLake.deleteWhere(spark, dir, col("id") === 1L)
    TxnLake.deleteWhere(spark, dir, col("id") === 2L)
    assert(ids(TxnLake.read(spark, dir)) === (3L to 12L))
    // v0 = full table, v1 = first delete only
    assert(ids(TxnLake.readVersion(spark, dir, 0L)) === (1L to 12L))
    assert(ids(TxnLake.readVersion(spark, dir, 1L)) === (2L to 12L))
    // both deletes hit partition p1 (ids 1,4,7,10 / 2 is p2) — files of
    // id=1's partition carry one vector, id=2's another
    val m = TxnLake.resolve(spark, dir).get
    assert(m.files.flatMap(_.dv).distinct.size === 2)
  }

  test("deleting an already-deleted row is a no-op (vectors never double-count)") {
    val dir = freshTable()
    assert(TxnLake.deleteWhere(spark, dir, col("id") <= 3L) === 3L)
    assert(TxnLake.deleteWhere(spark, dir, col("id") <= 3L) === 0L,
      "already-dead rows must not match again")
    assert(ids(TxnLake.read(spark, dir)) === (4L to 12L))
  }

  test("a predicate matching nothing publishes no commit") {
    val dir = freshTable()
    val v0 = TxnLake.resolve(spark, dir).get.version
    assert(TxnLake.deleteWhere(spark, dir, col("id") > 100L) === 0L)
    assert(TxnLake.resolve(spark, dir).get.version === v0)
  }

  test("optimize(purgeDv) folds vectors into fresh files and restores a vector-free manifest") {
    val dir = freshTable()
    TxnLake.deleteWhere(spark, dir, col("id") % 2 === 0)
    val stats = TxnLake.optimize(spark, dir, minFiles = Int.MaxValue, purgeDv = true)
    assert(stats.partitionsCompacted > 0)
    val m = TxnLake.resolve(spark, dir).get
    assert(m.files.forall(_.dv.isEmpty), "purge must clear every vector")
    assert(ids(TxnLake.read(spark, dir)) === (1L to 12L).filter(_ % 2 == 1))
  }

  test("merge/upsert through a DV'd snapshot neither resurrects deleted rows nor loses the vectors' effect") {
    import spark.implicits._
    val dir = freshTable()
    TxnLake.deleteWhere(spark, dir, col("id") === 6L)
    // upsert touches id=6's partition (p0: 3,6,9,12) — the rewrite must
    // read THROUGH the vector, so 6 stays dead
    TxnLake.upsert(spark, dir, Seq((3L, "n3x", "p0")).toDF("id", "name", "part"), "id")
    assert(ids(TxnLake.read(spark, dir)) === (1L to 12L).filterNot(_ == 6L))
    assert(TxnLake.read(spark, dir).filter(col("id") === 3L)
      .select("name").head().getString(0) === "n3x")
  }

  test("changes() surfaces DV deletes as delete pre-images") {
    val dir = freshTable()
    TxnLake.deleteWhere(spark, dir, col("id").isin(5L, 7L))
    val diff = TxnLake.changes(spark, dir, 0L, 1L, "id")
    val dels = diff.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(dels === Seq(5L, 7L))
    assert(diff.count() === 2L, "nothing but the two deletes changed")
  }

  test("graft-txn source serves DV'd snapshots correctly (merge-on-read fallback)") {
    val dir = freshTable()
    TxnLake.deleteWhere(spark, dir, col("id") > 9L)
    val df = spark.read.format("graft-txn").load(dir)
    assert(ids(df) === (1L to 9L))
    assert(df.count() === 9L) // empty-projection scan path
    assert(df.filter(col("part") === "p1").select("id").collect()
      .map(_.getLong(0)).toSeq.sorted === Seq(1L, 4L, 7L))
  }

  test("DV deletes flow into the change feed as delete pre-images") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dv").resolve("cdc").toString
    TxnLake.create(spark, dir,
      (1L to 8L).map(i => (i, s"n$i", s"p${i % 2}")).toDF("id", "name", "part"),
      "part", changeFeed = true)
    TxnLake.deleteWhere(spark, dir, col("id") >= 7L)
    val feed = graft.streaming.CdcFeed.batch(spark, dir, fromVersion = 1L)
      .select(col("id"), col(TxnLake.ChangeTypeCol))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((7L, "delete"), (8L, "delete")),
      "a CDC consumer must see merge-on-read deletes like any other delete")
  }

  test("vacuum keeps referenced sidecars and drops unreferenced ones with their versions") {
    val dir = freshTable()
    TxnLake.deleteWhere(spark, dir, col("id") === 1L)            // v1: dv A
    TxnLake.optimize(spark, dir, minFiles = Int.MaxValue, purgeDv = true) // v2: vector-free
    TxnLake.deleteWhere(spark, dir, col("id") === 2L)            // v3: dv B
    TxnLake.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dvRoot = new org.apache.hadoop.fs.Path(dir, "_graft_dv")
    val left = fs.listStatus(dvRoot).map(_.getPath.getName).toSeq
    assert(left.size === 1, s"only v3's sidecar survives, got $left")
    assert(ids(TxnLake.read(spark, dir)) === (3L to 12L))
  }

  /** REFERENCE merge-on-read read of manifest `m`, built from the raw
    * sidecars with Spark: every referenced sidecar read as parquet,
    * each entry's positions restricted to its own path and the
    * sidecars it references, and anti-joined with the data files' rows
    * on `(file, row_index)`. Columns in logical names, plus the row's
    * `__txn_file` / `__txn_pos`. */
  private def reference(dir: String, m: TxnLake.Manifest): DataFrame = {
    import spark.implicits._
    val schema = StructType.fromDDL(m.schemaDdl)
    val rel = concat(lit("_graft_data/"),
      element_at(split(col("_metadata.file_path"), "/_graft_data/"), -1))
    val data = spark.read.schema(schema).parquet(m.files.map(_.locate(dir)): _*)
      .withColumn("__txn_file", rel)
      .withColumn("__txn_pos", col("_metadata.row_index"))
    val doomed = m.files.flatMap(e => e.dv.map(r => (TxnLake.locateDv(dir, r), e.path)))
      .map { case (sidecar, path) =>
        spark.read.parquet(sidecar).filter(col("file") === path)
          .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
      }
      .foldLeft(Seq.empty[(String, Long)].toDF("__dv_file", "__dv_pos"))(_ union _)
    val live = data.join(doomed,
      col("__txn_file") === col("__dv_file") && col("__txn_pos") === col("__dv_pos"),
      "left_anti")
    live.select(live.columns.map(c => col(c).as(m.renames.getOrElse(c, c))).toIndexedSeq: _*)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Every read path of every retained version equals the reference:
    * `readEntries` with row identity, `readVersion`, the graft-txn
    * source at that version with a pushed filter, and (at the head)
    * `read`. */
  private def checkAllVersions(dir: String, tag: String): Unit = {
    val head = TxnLake.currentVersion(spark, dir)
    (0L to head).foreach { v =>
      val m = TxnLake.resolveVersion(spark, dir, v)
      val want = reference(dir, m)
      val logical = want.columns.filterNot(_.startsWith("__txn_"))
      val got = TxnLake.readEntries(spark, dir, m, m.files, keepMeta = true)
      assert(rowsOf(got.select(want.columns.map(col).toIndexedSeq: _*)) === rowsOf(want),
        s"$tag v$v: readEntries")
      val wantRows = rowsOf(want.select(logical.map(col).toIndexedSeq: _*))
      assert(rowsOf(TxnLake.readVersion(spark, dir, v)) === wantRows, s"$tag v$v: readVersion")
      if (v == head) assert(rowsOf(TxnLake.read(spark, dir)) === wantRows, s"$tag: read")
      val pushed = col("id") > 2L && col("part") =!= "p0"
      val viaSource = spark.read.format("graft-txn").option("versionAsOf", v).load(dir)
        .filter(pushed)
      assert(rowsOf(viaSource) ===
        rowsOf(want.filter(pushed).select(logical.map(col).toIndexedSeq: _*)),
        s"$tag v$v: graft-txn source")
    }
  }

  test("the in-scan filter equals a reference anti-join over the raw sidecars, every version") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_dvref")
    val dir = root.resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 40L).map(i => (i, s"n$i", s"p${i % 4}")).toDF("id", "name", "part"), "part")
    // several sidecars on one file: p1's file takes two vectors
    TxnLake.deleteWhere(spark, dir, col("id") === 1L)
    TxnLake.deleteWhere(spark, dir, col("id").isin(5L, 2L))
    assert(TxnLake.resolve(spark, dir).get.files.exists(_.dv.size == 2))
    // a sidecar spanning p2 and p3, then p2 rewritten by OPTIMIZE: the
    // sidecar keeps positions of p2's old path, which is no longer live
    TxnLake.deleteWhere(spark, dir, col("id").isin(6L, 7L))
    TxnLake.optimize(spark, dir, minFiles = Int.MaxValue, purgeDv = true,
      where = Some(col("part") === "p2"))
    val m = TxnLake.resolve(spark, dir).get
    assert(m.files.exists(f => f.dv.nonEmpty && f.parts == Set(Some("p3"))) &&
      !m.files.exists(f => f.dv.nonEmpty && f.parts == Set(Some("p2"))))
    // a merge: p0's file gains a vector, and a clean post-image file and
    // a clean insert file land beside the DV'd ones — a mixed snapshot
    TxnLake.upsert(spark, dir, Seq((8L, "n8x", "p0"), (41L, "n41", "p2"))
      .toDF("id", "name", "part"), "id")
    val mixed = TxnLake.resolve(spark, dir).get.files
    assert(mixed.count(_.dv.nonEmpty) === 3 && mixed.count(_.dv.isEmpty) === 3)
    // clean and DV'd files ride in the one filtered scan
    val scans = TxnLake.read(spark, dir).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size === 1 &&
      scans.head.relation.location.inputFiles.map(TxnLake.dataRel).toSet ===
        mixed.map(_.path).toSet)
    // a renamed column, then a delete through the logical name
    TxnLake.renameColumn(spark, dir, "name", "label")
    TxnLake.deleteWhere(spark, dir, col("label") === "n11")
    checkAllVersions(dir, "table")
    // a clone: the source's sidecars come along as absolute refs, and
    // the clone's own delete adds a relative one
    val cloned = root.resolve("clone").toString
    TxnLake.clone(spark, dir, cloned)
    assert(TxnLake.resolve(spark, cloned).get.files.flatMap(_.dv).exists(_.startsWith("/")))
    TxnLake.deleteWhere(spark, cloned, col("id") === 15L)
    checkAllVersions(cloned, "clone")
    // OPTIMIZE(purgeDv): a vector-free head, older versions still DV'd
    TxnLake.optimize(spark, dir, minFiles = Int.MaxValue, purgeDv = true)
    assert(TxnLake.resolve(spark, dir).get.files.forall(_.dv.isEmpty))
    checkAllVersions(dir, "purged")
    assert(TxnLake.read(spark, dir).count() === 40L - 6L + 1L)
  }
}
