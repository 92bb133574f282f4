package graft.plans

import graft.{GraftExtensions, SparkTestSession}
import graft.lake.TxnLake
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** SQL DML statements on `graft-txn` tables: `spark.sql("UPDATE ...")`
  * in a parser-extension session (and [[GraftSqlDml.exec]] without
  * one) must drive the SAME transactional engines the API uses — every
  * test pins SQL-driven state against the API-driven twin table. */
class GraftSqlDmlSpec extends AnyFunSuite with SparkTestSession {


  private def freshTable(s: SparkSession, cdc: Boolean = false): String = {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_sqldml").resolve("t").toString
    TxnLake.create(s, dir,
      Seq((1L, 10L, "p1"), (2L, 200L, "p1"), (3L, 30L, "p2"), (4L, 400L, "p3"))
        .toDF("id", "v", "part"),
      "part", changeFeed = cdc)
    dir
  }

  private def rows(s: SparkSession, dir: String): Seq[(Long, Long, String)] =
    TxnLake.read(s, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"), r.getAs[String]("part"))).toSeq

  test("UPDATE statement via path addressing updates through the DV engine") {
    withExtendedSession { s =>
      val dir = freshTable(s)
      val n = s.sql(s"UPDATE graft_txn.`$dir` SET v = v + 1 WHERE id <= 2")
        .collect()(0).getLong(0)
      assert(n === 2L)
      assert(rows(s, dir) === Seq((1L, 11L, "p1"), (2L, 201L, "p1"),
        (3L, 30L, "p2"), (4L, 400L, "p3")))
    }
  }

  test("DELETE statement on a catalog table (CREATE TABLE USING graft-txn)") {
    withExtendedSession { s =>
      val dir = freshTable(s)
      val tbl = s"sqldml_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.sql(s"CREATE TABLE $tbl USING `graft-txn` OPTIONS (path '$dir')")
      try {
        val n = s.sql(s"DELETE FROM $tbl WHERE v > 100").collect()(0).getLong(0)
        assert(n === 2L)
        assert(rows(s, dir) === Seq((1L, 10L, "p1"), (3L, 30L, "p2")))
      } finally s.sql(s"DROP TABLE $tbl")
    }
  }

  test("full three-clause MERGE statement equals the API merge, CDC included") {
    withExtendedSession { s =>
      import s.implicits._
      val sqlDir = freshTable(s, cdc = true)
      val apiDir = freshTable(s, cdc = true)
      val src = Seq((1L, 11L, "p1"), (2L, 999L, "p1"), (5L, 50L, "p2"))
        .toDF("id", "v", "part")
      src.createOrReplaceTempView("sqldml_src")
      try {
        s.sql(
          s"""MERGE INTO graft_txn.`$sqlDir` AS t USING sqldml_src AS s
             |ON t.id = s.id
             |WHEN MATCHED AND t.v > 100 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        TxnLake.merge(s, apiDir, src, "id", deleteWhen = col("v") > 100)
        assert(rows(s, sqlDir) === rows(s, apiDir))
        def cdc(dir: String) = graft.streaming.CdcFeed.batch(s, dir, fromVersion = 1L)
          .select(col("id"), col(TxnLake.ChangeTypeCol)).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(cdc(sqlDir) === cdc(apiDir))
      } finally s.catalog.dropTempView("sqldml_src")
    }
  }

  test("MERGE schema evolution: UPDATE SET * / INSERT * with a source " +
      "that grew a column widens the table; strict API mode refuses") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s)
      // the CDC feed grew `score` upstream: matched key 1 updates,
      // unmatched key 5 inserts, both carrying the new column
      Seq((1L, 11L, "p1", 0.9), (5L, 50L, "p2", 0.5))
        .toDF("id", "v", "part", "score").createOrReplaceTempView("sqldml_evo")
      try {
        s.sql(
          s"""MERGE INTO graft_txn.`$dir` t USING sqldml_evo s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val got = TxnLake.read(s, dir).orderBy("id")
          .select(col("id"), col("v"), col("score")).collect()
          .map(r => (r.getLong(0), r.getLong(1),
            Option(r.getAs[Any]("score")))).toSeq
        assert(got === Seq((1L, 11L, Some(0.9)), (2L, 200L, None),
          (3L, 30L, None), (4L, 400L, None), (5L, 50L, Some(0.5))),
          "post-images/inserts carry the grown column; old rows null-fill")
        // pre-evolution snapshot keeps 3 columns (metadata commit only)
        assert(!TxnLake.readVersion(s, dir, 0L).columns.contains("score"))
        // the strict Delta-default gate: evolution off refuses loudly
        val ex = intercept[IllegalArgumentException] {
          TxnLake.upsert(s, dir,
            Seq((1L, 11L, "p1", 0.9, "x")).toDF("id", "v", "part", "score", "note"),
            "id", schemaEvolution = false)
        }
        assert(ex.getMessage.contains("schema evolution is disabled"))
        assert(!TxnLake.read(s, dir).columns.contains("note"))
      } finally s.catalog.dropTempView("sqldml_evo")
    }
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE THEN DELETE retires absent keys (sync shape)") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s)
      Seq((1L, 11L, "p1"), (3L, 33L, "p2"), (5L, 50L, "p2"))
        .toDF("id", "v", "part").createOrReplaceTempView("sqldml_sync")
      try {
        s.sql(
          s"""MERGE INTO graft_txn.`$dir` t USING sqldml_sync s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        assert(rows(s, dir) === Seq((1L, 11L, "p1"), (3L, 33L, "p2"), (5L, 50L, "p2")))
      } finally s.catalog.dropTempView("sqldml_sync")
    }
  }

  test("NOT MATCHED BY SOURCE UPDATE SET soft-retires with a condition") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s)
      Seq((1L, 11L, "p1")).toDF("id", "v", "part")
        .createOrReplaceTempView("sqldml_soft")
      try {
        s.sql(
          s"""MERGE INTO graft_txn.`$dir` t USING sqldml_soft s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED BY SOURCE AND t.v > 300 THEN UPDATE SET v = -1""".stripMargin)
        // matched 1 updated; absent 4 (v=400) flagged; absent 2,3 below
        // threshold unchanged; source had no unmatched rows to insert
        assert(rows(s, dir) === Seq((1L, 11L, "p1"), (2L, 200L, "p1"),
          (3L, 30L, "p2"), (4L, -1L, "p3")))
      } finally s.catalog.dropTempView("sqldml_soft")
    }
  }

  test("MERGE without INSERT clause never inserts unmatched source rows") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s)
      Seq((1L, 11L, "p1"), (9L, 90L, "p1")).toDF("id", "v", "part")
        .createOrReplaceTempView("sqldml_noins")
      try {
        s.sql(
          s"""MERGE INTO graft_txn.`$dir` t USING sqldml_noins s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
        assert(rows(s, dir) === Seq((1L, 11L, "p1"), (2L, 200L, "p1"),
          (3L, 30L, "p2"), (4L, 400L, "p3")), "key 9 must not appear")
      } finally s.catalog.dropTempView("sqldml_noins")
    }
  }

  test("DELETE-only MERGE leaves non-doomed matched rows untouched") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s)
      // source matches 1 (v=10, kept), 2 (v=200, doomed), and has 9 (unmatched)
      Seq((1L, 0L, "p1"), (2L, 0L, "p1"), (9L, 0L, "p1")).toDF("id", "v", "part")
        .createOrReplaceTempView("sqldml_delonly")
      try {
        s.sql(
          s"""MERGE INTO graft_txn.`$dir` t USING sqldml_delonly s ON t.id = s.id
             |WHEN MATCHED AND t.v > 100 THEN DELETE""".stripMargin)
        assert(rows(s, dir) === Seq((1L, 10L, "p1"), (3L, 30L, "p2"), (4L, 400L, "p3")),
          "2 deleted; 1 keeps its TARGET value; 9 not inserted")
      } finally s.catalog.dropTempView("sqldml_delonly")
    }
  }

  test("DML on non-graft targets passes through to stock Spark untouched") {
    withExtendedSession { s =>
      import s.implicits._
      Seq((1, "a")).toDF("id", "x").createOrReplaceTempView("sqldml_plain")
      try {
        val e = intercept[Exception] {
          s.sql("DELETE FROM sqldml_plain WHERE id = 1")
        }
        // stock Spark's own v1-table rejection, not a graft error
        assert(!e.getMessage.contains("graft"))
      } finally s.catalog.dropTempView("sqldml_plain")
    }
  }

  test("GraftSqlDml.exec drives the engines without any parser extension") {
    val dir = freshTable(spark)
    val n = GraftSqlDml.exec(spark,
      s"UPDATE graft_txn.`$dir` SET v = 0 WHERE part = 'p1'")
      .collect()(0).getLong(0)
    assert(n === 2L)
    assert(rows(spark, dir) === Seq((1L, 0L, "p1"), (2L, 0L, "p1"),
      (3L, 30L, "p2"), (4L, 400L, "p3")))
  }

  test("INSERT INTO commits transactionally; INSERT OVERWRITE replaces the snapshot") {
    withExtendedSession { s =>
      val dir = freshTable(s)
      def head = TxnLake.history(s, dir).agg(max("version")).head().getLong(0)
      val v0 = head
      s.sql(s"INSERT INTO graft_txn.`$dir` VALUES (5L, 50L, 'p2')")
      assert(head === v0 + 1,
        "INSERT must publish exactly one commit")
      assert(rows(s, dir) === Seq((1L, 10L, "p1"), (2L, 200L, "p1"),
        (3L, 30L, "p2"), (4L, 400L, "p3"), (5L, 50L, "p2")))
      // column-list form maps by NAME, any order
      s.sql(s"INSERT INTO graft_txn.`$dir` (v, part, id) VALUES (60L, 'p1', 6L)")
      assert(rows(s, dir).last === ((6L, 60L, "p1")))
      s.sql(s"INSERT OVERWRITE graft_txn.`$dir` VALUES (9L, 90L, 'p9')")
      assert(rows(s, dir) === Seq((9L, 90L, "p9")), "OVERWRITE replaces all")
      // time travel still sees the pre-overwrite snapshot (one commit each)
      assert(TxnLake.readVersion(s, dir, v0 + 2).count() === 6L)
    }
  }

  test("stock-session INSERT INTO a graft-txn catalog table fails loudly, not silently") {
    // without the parser extension, Spark plans a direct-file insert
    // that would write bytes the manifest never references — the
    // relation's write guard must refuse it (observed pre-guard: the
    // insert 'succeeded', littered the table root, and the rows were
    // invisible to every snapshot)
    val dir = freshTable(spark)
    val tbl = s"insguard_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.sql(s"CREATE TABLE $tbl USING `graft-txn` OPTIONS (path '$dir')")
    try {
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $tbl VALUES (2L, 99L, 'p1')")
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("transaction log")),
        s"expected the write-guard refusal, got: ${messages(e).mkString(" | ")}")
      assert(rows(spark, dir) === Seq((1L, 10L, "p1"), (2L, 200L, "p1"),
        (3L, 30L, "p2"), (4L, 400L, "p3")), "table must be untouched")
      assert(TxnLake.history(spark, dir).agg(max("version")).head().getLong(0) === 0L)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("duplicate SET assignments are rejected, not last-one-wins") {
    val dir = freshTable(spark)
    val e = intercept[IllegalArgumentException] {
      GraftSqlDml.exec(spark,
        s"UPDATE graft_txn.`$dir` SET v = 1, v = 2 WHERE id = 1")
    }
    assert(e.getMessage.contains("duplicate SET"))
    assert(rows(spark, dir).head === ((1L, 10L, "p1")), "no mutation")
  }

  test("a catalog database named graft_txn is not hijacked as a path") {
    // path addressing requires a path-shaped (contains '/') second
    // part; a bare table name under a graft_txn namespace falls
    // through to catalog resolution and, absent such a table, to the
    // stock resolver's own error — never a filesystem probe of "orders"
    val e = intercept[Exception] {
      GraftSqlDml.exec(spark, "DELETE FROM graft_txn.orders WHERE 1 = 1")
    }
    assert(!e.getMessage.contains("_graft_log"),
      s"must not have probed a relative dir as a txn table: ${e.getMessage}")
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF resolve graft snapshots") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s) // v0: 4 rows
      TxnLake.append(s, dir, Seq((5L, 50L, "p2")).toDF("id", "v", "part")) // v1
      TxnLake.deleteWhere(s, dir, col("id") === 1L) // v2
      assert(s.sql(s"SELECT count(*) AS n FROM graft_txn.`$dir` VERSION AS OF 0")
        .head().getLong(0) === 4L)
      assert(s.sql(s"SELECT count(*) AS n FROM graft_txn.`$dir` VERSION AS OF 1")
        .head().getLong(0) === 5L)
      assert(s.sql(s"SELECT count(*) AS n FROM graft_txn.`$dir`")
        .head().getLong(0) === 4L, "current head: v2 dropped one row")
      // time travel composes as a RELATION: old and new snapshots join
      val gone = s.sql(
        s"""SELECT o.id FROM graft_txn.`$dir` VERSION AS OF 1 o
           |LEFT ANTI JOIN graft_txn.`$dir` c ON o.id = c.id""".stripMargin)
        .collect().map(_.getLong(0)).toSeq
      assert(gone === Seq(1L))
      // TIMESTAMP AS OF now = the current snapshot
      assert(s.sql(
        s"SELECT count(*) AS n FROM graft_txn.`$dir` TIMESTAMP AS OF current_timestamp()")
        .head().getLong(0) === 4L)
      val bad = intercept[IllegalArgumentException] {
        s.sql(s"SELECT * FROM graft_txn.`$dir` VERSION AS OF 99").collect()
      }
      assert(bad.getMessage.contains("not resolvable") ||
        bad.getMessage.toLowerCase.contains("version"))
    }
  }

  test("ALTER TABLE column DDL statements drive the metadata-only engine commits") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s)
      def head = TxnLake.history(s, dir).agg(max("version")).head().getLong(0)

      s.sql(s"ALTER TABLE graft_txn.`$dir` ADD COLUMN note STRING")
      assert(head === 1L, "ADD COLUMN is one metadata commit")
      assert(TxnLake.read(s, dir).columns.toSeq === Seq("id", "v", "part", "note"))
      assert(TxnLake.read(s, dir).filter(col("note").isNotNull).isEmpty,
        "existing rows null-fill the added column")

      s.sql(s"ALTER TABLE graft_txn.`$dir` RENAME COLUMN note TO remark")
      assert(TxnLake.read(s, dir).columns.contains("remark"))

      s.sql(s"ALTER TABLE graft_txn.`$dir` ALTER COLUMN v TYPE DECIMAL(20,0)")
      assert(TxnLake.read(s, dir).schema("v").dataType ===
        org.apache.spark.sql.types.DecimalType(20, 0))
      assert(TxnLake.read(s, dir).agg(sum(col("v"))).head().getDecimal(0)
        .longValue === 640L, "widened column still reads every old file")

      s.sql(s"ALTER TABLE graft_txn.`$dir` DROP COLUMN remark")
      assert(TxnLake.read(s, dir).columns.toSeq === Seq("id", "v", "part"))

      // appends after the DDL chain land with the evolved schema
      TxnLake.append(s, dir, Seq((7L, java.math.BigDecimal.valueOf(70L), "p1"))
        .toDF("id", "v", "part"))
      assert(rows2(s, dir).last === ((7L, 70L, "p1")))

      val bad = intercept[Exception] {
        s.sql(s"ALTER TABLE graft_txn.`$dir` ALTER COLUMN part TYPE STRING")
      }
      assert(bad.getMessage.contains("partition column"),
        s"engine's own refusal expected, got: ${bad.getMessage}")
      // non-graft ALTERs pass through untouched
      assert(intercept[Exception] {
        s.sql("ALTER TABLE nonexistent_graft_tbl ADD COLUMN x INT")
      }.getMessage.toLowerCase.contains("table"))
    }
  }

  test("ALTER TABLE on a CATALOG table re-syncs the session catalog's stored schema") {
    withExtendedSession { s =>
      val dir = freshTable(s)
      val tbl = s"sqlddl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.sql(s"CREATE TABLE $tbl USING `graft-txn` OPTIONS (path '$dir')")
      try {
        s.sql(s"ALTER TABLE $tbl ADD COLUMN note STRING")
        // the manifest AND the catalog's stored schema both show the column —
        // DESCRIBE/metastore-driven reads must not drift from the lake
        assert(TxnLake.read(s, dir).columns.toSeq === Seq("id", "v", "part", "note"))
        assert(s.table(tbl).columns.toSeq === Seq("id", "v", "part", "note"))
        assert(s.sql(s"DESCRIBE $tbl").collect().map(_.getString(0)).contains("note"))

        s.sql(s"ALTER TABLE $tbl RENAME COLUMN note TO remark")
        assert(s.table(tbl).columns.toSeq === Seq("id", "v", "part", "remark"))

        s.sql(s"ALTER TABLE $tbl DROP COLUMN remark")
        assert(s.table(tbl).columns.toSeq === Seq("id", "v", "part"))

        s.sql(s"ALTER TABLE $tbl ALTER COLUMN v TYPE DECIMAL(20,0)")
        assert(s.table(tbl).schema("v").dataType ===
          org.apache.spark.sql.types.DecimalType(20, 0))
        assert(s.sql(s"SELECT sum(v) FROM $tbl").head().getDecimal(0)
          .longValue === 640L, "catalog-resolved read serves the evolved schema")
      } finally s.sql(s"DROP TABLE $tbl")
    }
  }

  test("OPTIMIZE / VACUUM / DESCRIBE HISTORY statements drive the maintenance engines") {
    withExtendedSession { s =>
      import s.implicits._
      val sqlDir = freshTable(s)
      val apiDir = freshTable(s)
      // fragment both tables identically (two more commits per table)
      for (d <- Seq(sqlDir, apiDir); k <- Seq(5L, 6L))
        TxnLake.append(s, d, Seq((k * 10, k, "p1")).toDF("id", "v", "part"))

      // OPTIMIZE == API optimize, commit for commit
      val st = s.sql(s"OPTIMIZE graft_txn.`$sqlDir`").collect()(0)
      val api = TxnLake.optimize(s, apiDir)
      assert((st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3)) ===
        ((api.filesBefore.toLong, api.filesAfter.toLong,
          api.partitionsCompacted.toLong, api.version)))
      assert(st.getLong(0) > st.getLong(1), "compaction must shrink the file count")

      // DESCRIBE HISTORY == API history (same rows, order by version)
      val sqlHist = s.sql(s"DESCRIBE HISTORY graft_txn.`$sqlDir`")
        .select("version", "touched_partitions", "n_files")
        .orderBy("version").collect().toSeq
      val apiHist = TxnLake.history(s, sqlDir)
        .select("version", "touched_partitions", "n_files")
        .orderBy("version").collect().toSeq
      assert(sqlHist === apiHist)
      assert(sqlHist.map(_.getLong(0)) === (0L to 3L))

      // VACUUM RETAIN 1 VERSIONS drops all but the optimize version
      assert(s.sql(s"VACUUM graft_txn.`$sqlDir` RETAIN 1 VERSIONS")
        .collect()(0).getString(0) === sqlDir)
      assert(s.sql(s"DESCRIBE HISTORY graft_txn.`$sqlDir`")
        .select("version").as[Long].collect().toSeq === Seq(3L))
      assert(rows(s, sqlDir) === rows(s, apiDir),
        "maintenance must never change table contents")

      // ZORDER form routes to the curve-clustering engine
      s.sql(s"OPTIMIZE graft_txn.`$apiDir` ZORDER BY (id, v)")
      assert(rows(s, apiDir).map(_._1).sorted === Seq(1L, 2L, 3L, 4L, 50L, 60L))

      // DESCRIBE DETAIL: one metadata row matching the engine's view
      val det = s.sql(s"DESCRIBE DETAIL graft_txn.`$sqlDir`").collect()(0)
      assert(det.getString(0) === "graft-txn")
      assert(det.getLong(2) === 3L, "version reflects the post-vacuum head")
      assert(det.getLong(3) > 0L, "live file count")
      assert(det.getString(5) === "part")
      assert(det.getLong(7) === 1L, "one retained version after VACUUM RETAIN 1")

      // VACUUM RETAIN n HOURS (Delta's habitual spelling) maps onto
      // version retention via in-commit timestamps: everything
      // committed inside the window is retained — on a seconds-old
      // table that's the entire history. Bare VACUUM defaults to the
      // same 168-hour window (Delta's 7 days), NOT keep-2-versions.
      val hrsDir = freshTable(s)
      val before = s.sql(s"DESCRIBE HISTORY graft_txn.`$hrsDir`").count()
      s.sql(s"VACUUM graft_txn.`$hrsDir` RETAIN 168 HOURS")
      assert(s.sql(s"DESCRIBE HISTORY graft_txn.`$hrsDir`").count() === before,
        "hour-window vacuum must retain versions committed inside the window")
      s.sql(s"VACUUM graft_txn.`$hrsDir`")
      assert(s.sql(s"DESCRIBE HISTORY graft_txn.`$hrsDir`").count() === before,
        "bare VACUUM defaults to a 7-day window, not an aggressive version count")
      // an hour window entirely in the past retains only the head
      s.sql(s"VACUUM graft_txn.`$hrsDir` RETAIN 0 HOURS")
      assert(s.sql(s"DESCRIBE HISTORY graft_txn.`$hrsDir`").count() === 1L,
        "a zero-hour window keeps only the current snapshot")

      // single-column ZORDER = sort-based compaction (Delta accepts it)
      val oneCol = s.sql(s"OPTIMIZE graft_txn.`$hrsDir` ZORDER BY (id)").collect()(0)
      assert(oneCol.getLong(3) > 0L, "1-column ZORDER commits a rewrite")
      assert(rows(s, hrsDir).nonEmpty, "contents survive the 1-d cluster")

      // VACUUM ... DRY RUN: previews the sweep, removes nothing
      val dryDir = freshTable(s)
      TxnLake.append(s, dryDir, Seq((9L, 90L, "p1")).toDF("id", "v", "part"))
      val preview = s.sql(s"VACUUM graft_txn.`$dryDir` RETAIN 1 VERSIONS DRY RUN")
      assert(preview.columns.toSeq === Seq("path", "kind"))
      val kinds = preview.collect().map(_.getString(1)).toSet
      assert(kinds.contains("log_record"),
        "retain-1 on a 2-commit table must preview dropped records")
      assert(s.sql(s"DESCRIBE HISTORY graft_txn.`$dryDir`").count() === 2L,
        "DRY RUN must not delete anything")
      // the wet run removes exactly the previewed records
      s.sql(s"VACUUM graft_txn.`$dryDir` RETAIN 1 VERSIONS")
      assert(s.sql(s"DESCRIBE HISTORY graft_txn.`$dryDir`").count() === 1L)

      // OPTIMIZE ... WHERE: partition-scoped compaction — fragment p1
      // AND p2, scope the statement to p2, p1 must keep its fragments
      val whDir = freshTable(s)
      for (k <- Seq(7L, 8L)) TxnLake.append(s, whDir,
        Seq((k * 10, k, "p2"), (k * 10 + 1, k, "p1")).toDF("id", "v", "part"))
      def filesOf(part: String): Long = TxnLake.detail(s, whDir)
        .filter(col("part_value") === part).count()
      val p1Before = filesOf("p1")
      assert(p1Before > 1, "setup: p1 fragmented")
      val scopedOpt = s.sql(
        s"OPTIMIZE graft_txn.`$whDir` WHERE part = 'p2'").collect()(0)
      assert(scopedOpt.getLong(2) === 1L,
        "only the matching partition may be rewritten")
      assert(filesOf("p2") === 1L, "p2 compacted to one file")
      assert(filesOf("p1") === p1Before,
        "out-of-scope partition keeps its fragments")
      // WHERE + ZORDER is refused loudly, not silently mis-scoped
      intercept[Exception](
        s.sql(s"OPTIMIZE graft_txn.`$whDir` WHERE part = 'p2' ZORDER BY (id, v)"))
      // non-partition column references fail analysis loudly
      intercept[Exception](
        s.sql(s"OPTIMIZE graft_txn.`$whDir` WHERE id > 5"))

      // REORG TABLE ... APPLY (PURGE): rewrite ONLY DV-bearing files
      val rgDir = freshTable(s)
      for (k <- Seq(7L, 8L)) TxnLake.append(s, rgDir,
        Seq((k * 10, k, "p1")).toDF("id", "v", "part"))
      TxnLake.deleteWhere(s, rgDir, col("id") === 3L) // DV on p2's file
      val beforeReorg = rows(s, rgDir)
      val rg = s.sql(s"REORG TABLE graft_txn.`$rgDir` APPLY (PURGE)").collect()(0)
      assert(rg.getLong(2) === 1L, "only the DV partition is rewritten")
      assert(rows(s, rgDir) === beforeReorg, "REORG must not change contents")
      // p1 stays fragmented: REORG is not OPTIMIZE
      val p1Frags = TxnLake.detail(s, rgDir)
        .filter(col("part_value") === "p1").count()
      assert(p1Frags === 3L, s"p1 fragments must survive REORG, saw $p1Frags")

      // SHOW TBLPROPERTIES surfaces the graft-level properties
      val propDir = freshTable(s)
      TxnLake.setStatsColumns(s, propDir, Seq("v"))
      TxnLake.setGeneratedColumns(s, propDir, Map.empty)
      val props = s.sql(s"SHOW TBLPROPERTIES graft_txn.`$propDir`")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props("graft.partitionColumn") === "part")
      assert(props("graft.statsColumns").split(",").contains("v"))
      assert(props("graft.changeFeed") === "false")
      // stock SHOW TBLPROPERTIES keeps stock semantics for non-graft
      intercept[Exception](
        s.sql("SHOW TBLPROPERTIES no_such_tbl_xyz").collect())

      // SHOW PARTITIONS: the manifest partition index — file counts
      // pin the commit cascade, rows are exact (a DV'd partition
      // subtracts its entries' doomed rows, never over-reporting)
      val partsDir = freshTable(s)
      TxnLake.deleteWhere(s, partsDir, col("id") === 4L) // DV on p3
      val parts = s.sql(s"SHOW PARTITIONS graft_txn.`$partsDir`")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(parts === Seq(("p1", 1L, 2L), ("p2", 1L, 1L), ("p3", 1L, 0L)))
      // stock SHOW PARTITIONS keeps stock semantics for non-graft
      intercept[Exception](
        s.sql("SHOW PARTITIONS no_such_tbl_xyz").collect())

      // a non-graft target falls through to the stock parser's error
      intercept[Exception](s.sql("OPTIMIZE not_a_graft_table"))
      // catalog addressing works for maintenance too
      val tbl = s"sqlmnt_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.sql(s"CREATE TABLE $tbl USING `graft-txn` OPTIONS (path '$sqlDir')")
      try assert(s.sql(s"DESCRIBE HISTORY $tbl").count() === 1L)
      finally s.sql(s"DROP TABLE $tbl")
    }
  }

  test("SET/UNSET TBLPROPERTIES drive the graft marker-file properties") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s) // no feed, no stats columns
      // SET: stats tracking + mid-life change-feed enable + a
      // generated column, one statement each or combined
      s.sql(s"ALTER TABLE graft_txn.`$dir` SET TBLPROPERTIES (" +
        "'graft.statsColumns' = 'v', 'graft.changeFeed' = 'true')")
      assert(TxnLake.statsColumnsOf(s, dir) === Seq("v"))
      assert(TxnLake.cdcEnabled(s, dir))
      // feed starts at the NEXT commit (Delta's mid-life CDF contract)
      TxnLake.append(s, dir, Seq((9L, 90L, "p1")).toDF("id", "v", "part"))
      assert(s.sql(s"SELECT count(*) FROM table_changes('$dir', 0)")
        .head().getLong(0) === 1L)
      // stats recorded from the property onward: the appended file now
      // carries v-bounds, so a disjoint range prunes it at planning
      // time while the three pre-property (bound-less) files stay
      val lake = s.read.format("graft-txn").load(dir)
      val total = scannedFiles(lake)
      assert(total === 4L)
      assert(scannedFiles(lake.filter(col("v") > 1000L)) === 3L,
        "the post-property file's zone map must prune")
      // generated column via property: validated retroactively, so use
      // a table whose rows already satisfy the expression
      val gdir = java.nio.file.Files.createTempDirectory("graft_sqlprops")
        .resolve("g").toString
      TxnLake.create(s, gdir,
        Seq((1L, 10L, "p1"), (2L, 20L, "p2")).toDF("id", "v", "part"), "part")
      s.sql(s"ALTER TABLE graft_txn.`$gdir` SET TBLPROPERTIES (" +
        "'graft.generatedColumns.v' = 'id * 10')")
      assert(TxnLake.generatedColumnsOf(s, gdir) === Map("v" -> "id * 10"))
      // UNSET: generated column off again; unknown keys refuse loudly
      s.sql(s"ALTER TABLE graft_txn.`$gdir` UNSET TBLPROPERTIES " +
        "('graft.generatedColumns.v')")
      assert(TxnLake.generatedColumnsOf(s, gdir) === Map.empty)
      val bad = intercept[Exception](s.sql(
        s"ALTER TABLE graft_txn.`$dir` SET TBLPROPERTIES ('graft.typo' = 'x')"))
      assert(bad.getMessage.contains("unknown graft table property"))
      val noDisable = intercept[Exception](s.sql(
        s"ALTER TABLE graft_txn.`$dir` SET TBLPROPERTIES ('graft.changeFeed' = 'false')"))
      assert(noDisable.getMessage.contains("only be enabled"))
      // IF EXISTS tolerates a missing generated column; bare UNSET refuses
      s.sql(s"ALTER TABLE graft_txn.`$dir` UNSET TBLPROPERTIES IF EXISTS " +
        "('graft.generatedColumns.nope')")
      intercept[Exception](s.sql(
        s"ALTER TABLE graft_txn.`$dir` UNSET TBLPROPERTIES ('graft.generatedColumns.nope')"))
    }
  }

  test("table_changes TVF serves the CDC feed as a relation") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s, cdc = true)                       // v0: 4 inserts
      TxnLake.append(s, dir, Seq((9L, 90L, "p1")).toDF("id", "v", "part")) // v1
      TxnLake.deleteWhere(s, dir, col("id") === 1L)             // v2: 1 delete
      // path-literal addressing, start bound only
      val byType = s.sql(
        s"SELECT _change_type AS ct, count(*) AS n FROM table_changes('$dir', 1) " +
          "GROUP BY 1 ORDER BY 1").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(byType.toSeq === Seq(("delete", 1L), ("insert", 1L)))
      // graft_txn.`path` spelling + inclusive end bound excludes the delete
      val insOnly = s.sql(
        s"SELECT count(*) FROM table_changes('graft_txn.`$dir`', 1, 1)").head().getLong(0)
      assert(insOnly === 1L)
      // TIMESTAMP bounds (Delta parity): string literals resolve
      // through IN-COMMIT timestamps — a start bound to the first
      // commit at-or-after it, an end bound to the newest at-or-before
      val hist = s.sql(s"DESCRIBE HISTORY graft_txn.`$dir`")
        .select("version", "committed_at").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC")) // session zone
      val t1 = fmt.format(hist(1L))
      assert(s.sql(s"SELECT count(*) FROM table_changes('$dir', '$t1')")
        .head().getLong(0) === 2L) // v1 insert + v2 delete
      assert(s.sql(s"SELECT count(*) FROM table_changes('$dir', '$t1', '$t1')")
        .head().getLong(0) === 1L) // window [t1, t1] = exactly v1
      val badTs = intercept[Exception](s.sql(
        s"SELECT count(*) FROM table_changes('$dir', 'not a time')").collect())
      assert(badTs.getMessage.contains("cannot parse"))
      // composes like any relation (CTE + join back to the live table)
      val joined = s.sql(
        s"""WITH ch AS (SELECT id, _commit_version FROM table_changes('$dir', 0, 1))
           |SELECT count(*) FROM ch JOIN graft_txn.`$dir` t ON ch.id = t.id""".stripMargin)
        .head().getLong(0)
      assert(joined === 4L, "v0-v1 inserts minus the deleted id=1 still joins 4")
      // the full preimage dialect rides through (delete carries the row)
      val del = s.sql(
        s"SELECT id, v FROM table_changes('$dir', 2)").collect()
      assert(del.toSeq.map(r => (r.getLong(0), r.getLong(1))) === Seq((1L, 10L)))
      // a timestamp predating every commit starts the feed at v0
      assert(s.sql(s"SELECT count(*) FROM table_changes('$dir', '2001-01-01')")
        .head().getLong(0) === s.sql(
          s"SELECT count(*) FROM table_changes('$dir', 0)").head().getLong(0))
      // a non-literal bound still gets the targeted message
      val e = intercept[Exception](s.sql(
        s"SELECT * FROM table_changes('$dir', array(1))").collect())
      assert(e.getMessage.contains("integer version or a timestamp"),
        s"expected the bound-literal message, got: ${e.getMessage}")
      // a non-graft name falls through to stock resolution (loud, not hijacked)
      intercept[Exception](
        s.sql("SELECT * FROM table_changes('no_such_table', 0)").collect())
    }
  }

  test("RESTORE TABLE statement rolls back as a forward commit, both addressing forms") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s)
      TxnLake.append(s, dir, Seq((9L, 90L, "p1")).toDF("id", "v", "part"))
      TxnLake.deleteWhere(s, dir, col("id") === 1L)
      assert(rows(s, dir).map(_._1) === Seq(2L, 3L, 4L, 9L))
      val r = s.sql(s"RESTORE TABLE graft_txn.`$dir` TO VERSION AS OF 1").collect()(0)
      assert((r.getLong(0), r.getLong(1)) === ((1L, 3L)),
        "restore to v1 mints v3 — history is never rewritten")
      assert(rows(s, dir).map(_._1) === Seq(1L, 2L, 3L, 4L, 9L))
      // timestamp form resolves through in-commit timestamps: restoring
      // to v3's own commit time is a no-op state (already that state)
      val ts = TxnLake.history(s, dir).filter(col("version") === 3L)
        .select(col("committed_at")).head().getTimestamp(0)
      s.sql(s"RESTORE graft_txn.`$dir` TO TIMESTAMP AS OF '$ts'")
      assert(rows(s, dir).map(_._1) === Seq(1L, 2L, 3L, 4L, 9L))
      // catalog addressing
      val tbl = s"sqlrst_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.sql(s"CREATE TABLE $tbl USING `graft-txn` OPTIONS (path '$dir')")
      try {
        s.sql(s"RESTORE TABLE $tbl TO VERSION AS OF 2")
        assert(rows(s, dir).map(_._1) === Seq(2L, 3L, 4L, 9L))
      } finally s.sql(s"DROP TABLE $tbl")
      // a non-graft target falls through to the stock parser's error
      intercept[Exception](s.sql("RESTORE TABLE not_a_graft_table TO VERSION AS OF 1"))
    }
  }

  test("TRUNCATE TABLE statement empties the table in one metadata commit") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s)
      def head = TxnLake.history(s, dir).agg(max("version")).head().getLong(0)
      s.sql(s"TRUNCATE TABLE graft_txn.`$dir`")
      assert(TxnLake.read(s, dir).isEmpty)
      assert(head === 1L, "TRUNCATE is ONE commit")
      assert(TxnLake.readVersion(s, dir, 0L).count() === 4L,
        "history preserved — the pre-truncate snapshot still reads")
      // the table stays writable with the same schema, and a restore
      // rolls the truncate back
      TxnLake.append(s, dir, Seq((7L, 70L, "p1")).toDF("id", "v", "part"))
      assert(rows(s, dir) === Seq((7L, 70L, "p1")))
      s.sql(s"RESTORE TABLE graft_txn.`$dir` TO VERSION AS OF 0")
      assert(rows(s, dir).map(_._1) === Seq(1L, 2L, 3L, 4L))
      // truncating an already-empty table is a no-op, not a commit
      s.sql(s"TRUNCATE TABLE graft_txn.`$dir`")
      val v = head
      s.sql(s"TRUNCATE TABLE graft_txn.`$dir`")
      assert(head === v, "truncating an empty table must not mint a version")
      // non-graft targets pass through to stock Spark's own error
      assert(intercept[Exception](
        s.sql("TRUNCATE TABLE nonexistent_graft_tbl")).getMessage
        .toLowerCase.contains("table"))
    }
  }

  test("TRUNCATE feeds delete pre-images to CDC consumers (copied and DV paths)") {
    withExtendedSession { s =>
      import s.implicits._
      val dir = freshTable(s, cdc = true)
      // a DV-bearing file: id=3's file carries a deletion vector, so
      // its pre-images must come from the explicit rewrite path (the
      // byte-copy would resurface the dead row)
      TxnLake.deleteWhere(s, dir, col("id") === 3L)
      s.sql(s"TRUNCATE TABLE graft_txn.`$dir`")
      val feed = graft.streaming.CdcFeed.batch(s, dir, fromVersion = 2L)
        .select(col("id"), col(TxnLake.ChangeTypeCol)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(feed === Set((1L, "delete"), (2L, "delete"), (4L, "delete")),
        "every LIVE row (and no DV-dead row) must feed as a delete pre-image")
      // consumers applying the feed converge on the empty table
      assert(TxnLake.read(s, dir).isEmpty)
    }
  }

  private def rows2(s: SparkSession, dir: String): Seq[(Long, Long, String)] =
    TxnLake.read(s, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"),
        r.getAs[java.math.BigDecimal]("v").longValue,
        r.getAs[String]("part"))).toSeq

  test("unsupported shapes and subqueries fail loudly, before any commit") {
    val dir = freshTable(spark)
    val v0 = TxnLake.history(spark, dir).count()
    val bySourceNoUpdate = intercept[IllegalArgumentException] {
      GraftSqlDml.exec(spark,
        s"""MERGE INTO graft_txn.`$dir` t USING (SELECT 1L AS id) s ON t.id = s.id
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(bySourceNoUpdate.getMessage.contains("UPDATE SET *"))
    val subquery = intercept[IllegalArgumentException] {
      GraftSqlDml.exec(spark,
        s"DELETE FROM graft_txn.`$dir` WHERE id IN (SELECT 1L)")
    }
    assert(subquery.getMessage.contains("subqueries"))
    assert(TxnLake.history(spark, dir).count() === v0, "no commit published")
  }
}
