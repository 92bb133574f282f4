package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The `graft-txn` data source: snapshot fidelity, planning-time file
  * skipping off manifest zone maps / partition values, SQL-catalog
  * reachability, time travel, and schema-evolution null-fill. */
class TxnLakeSourceSpec extends AnyFunSuite with SparkTestSession {

  private def freshDir(): String =
    Files.createTempDirectory("graft_txnsrc").resolve("t").toString

  /** Orders-shaped table: 3 partitions × well-separated price bands so
    * zone maps are discriminating; created over several commits so the
    * snapshot spans multiple files. */
  private def priceTable(): String = {
    import spark.implicits._
    val dir = freshDir()
    def batch(p: String, base: Double) =
      (0 until 20).map(i => (s"$p-$i", p, base + i)).toDF("id", "part", "price")
    TxnLake.create(spark, dir, batch("p1", 0.0), "part", statsCol = Some("price"))
    TxnLake.append(spark, dir, batch("p2", 1000.0))
    TxnLake.append(spark, dir, batch("p3", 2000.0))
    dir
  }

  private def lake(dir: String): DataFrame =
    spark.read.format("graft-txn").load(dir)

  /** Post-execution scanned-file count from the scan node's metric —
    * the ground truth for planning-time pruning. */

  test("format read equals the bespoke snapshot read") {
    val dir = priceTable()
    val viaFormat = lake(dir).orderBy("id").collect().toSeq
    val viaApi = TxnLake.read(spark, dir).orderBy("id").collect().toSeq
    assert(viaFormat === viaApi)
  }

  test("zone-map pruning: a stats-column range scans only intersecting files") {
    val dir = priceTable()
    val all = scannedFiles(lake(dir))
    assert(all >= 3, s"expected >=3 files across 3 commits, saw $all")
    val filtered = lake(dir).filter(col("price") >= 2000.0)
    assert(scannedFiles(filtered) < all,
      "planning-time zone-map pruning must drop non-intersecting files")
    // pruning is an optimization, never a result change
    assert(filtered.count() === 20)
    assert(lake(dir).filter(col("price").between(1000.0, 1019.0)).count() === 20)
  }

  test("partition pruning: equality on the partition column skips other partitions") {
    val dir = priceTable()
    val all = scannedFiles(lake(dir))
    val one = lake(dir).filter(col("part") === "p2")
    assert(scannedFiles(one) < all)
    assert(one.count() === 20)
    // IN-set prunes too; an untracked predicate shape must NOT prune
    assert(lake(dir).filter(col("part").isin("p1", "p3")).count() === 40)
    assert(lake(dir).filter(length(col("part")) === 2).count() === 60)
  }

  test("parquet pushdown survives: PushedFilters reaches the scan") {
    val dir = priceTable()
    val df = lake(dir).filter(col("price") > 2005.0).select("id")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(price"),
      s"stats predicate must also push into the parquet reader:\n$plan")
    assert(df.count() === 14)
  }

  test("versionAsOf time-travels; snapshot stays bound under later commits") {
    import spark.implicits._
    val dir = priceTable()
    val v0 = spark.read.format("graft-txn").option("versionAsOf", "0").load(dir)
    assert(v0.count() === 20)
    val head = lake(dir)
    TxnLake.append(spark, dir,
      Seq(("x-0", "p9", 9000.0)).toDF("id", "part", "price"))
    assert(head.count() === 60, "bound snapshot must not see the new commit")
    assert(lake(dir).count() === 61)
    assert(v0.orderBy("id").collect().toSeq ===
      TxnLake.readVersion(spark, dir, 0).orderBy("id").collect().toSeq)
  }

  test("timestampAsOf time-travels off the log's own publish clock") {
    import spark.implicits._
    val dir = freshDir()
    TxnLake.create(spark, dir,
      Seq((1L, "p1", 1.0)).toDF("id", "part", "price"), "part")
    Thread.sleep(1200) // distinct publish mtimes at second granularity
    TxnLake.append(spark, dir, Seq((2L, "p2", 2.0)).toDF("id", "part", "price"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def mtime(v: Long) = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(dir, f"_graft_log/v$v%08d.json")).getModificationTime
    assert(mtime(1L) > mtime(0L), "publish times must order the versions")
    val mid = (mtime(0L) + mtime(1L)) / 2
    assert(TxnLake.versionAsOfTimestamp(spark, dir, mid) === 0L)
    assert(TxnLake.readAsOf(spark, dir, mid).count() === 1L)
    // IN-COMMIT TIMESTAMPS: the clock lives INSIDE the records, strictly
    // monotonic — mtime may truncate to coarser granularity, so the
    // records' own clock is the query boundary
    def ict(v: Long) = TxnLake.readRecord(fs,
      new org.apache.hadoop.fs.Path(dir, f"_graft_log/v$v%08d.json")).ts
    assert(spark.read.format("graft-txn")
      .option("timestampAsOf", mid.toString).load(dir).count() === 1L)
    assert(spark.read.format("graft-txn")
      .option("timestampAsOf", java.time.Instant.ofEpochMilli(ict(1L)).toString)
      .load(dir).count() === 2L)
    intercept[IllegalArgumentException] {
      TxnLake.versionAsOfTimestamp(spark, dir, ict(0L) - 10000L)
    }
    assert(ict(0L) > 0L && ict(1L) > ict(0L),
      "records must carry monotonic in-commit timestamps")
    val logNio = java.nio.file.Paths.get(dir, "_graft_log")
    val bogus = java.nio.file.attribute.FileTime.fromMillis(ict(1L) + 3600000L)
    java.nio.file.Files.list(logNio).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, bogus)) // simulate distcp/rsync
    assert(TxnLake.versionAsOfTimestamp(spark, dir, mid) === 0L,
      "timestamp travel must resolve off in-commit timestamps, not mtimes")
    assert(TxnLake.versionAsOfTimestamp(spark, dir, ict(1L)) === 1L)
    // history surfaces the same clock, strictly increasing
    val hist = TxnLake.history(spark, dir).orderBy("version")
      .select("committed_at").collect().map(_.getTimestamp(0).getTime).toSeq
    assert(hist === Seq(ict(0L), ict(1L)))
  }

  test("DV fallback keeps manifest pruning: files drop BEFORE any data read") {
    val dir = priceTable()
    TxnLake.deleteWhere(spark, dir, col("id") === "p1-0")
    val m = TxnLake.resolve(spark, dir).get
    assert(m.files.exists(_.dv.nonEmpty), "precondition: a DV is outstanding")
    // the files the DV relation's scan opens, planned before any read
    val all = LakeScans.dvScanFiles(lake(dir)).size
    assert(all >= 3)
    assert(LakeScans.dvScanFiles(lake(dir).filter(col("price") >= 2000.0)).size < all,
      "zone maps must keep pruning under outstanding DVs")
    assert(LakeScans.dvScanFiles(lake(dir).filter(col("part") === "p2")).size < all,
      "partition values must keep pruning under outstanding DVs")
    // pruning is conservative: results through the fallback stay exact
    assert(lake(dir).filter(col("price") >= 2000.0).count() === 20)
    assert(lake(dir).filter(col("part") === "p1").count() === 19)
    assert(lake(dir).count() === 59)
  }

  test("rename fallback prunes on stats/partition predicates and serves logical names") {
    val dir = priceTable()
    TxnLake.renameColumn(spark, dir, "id", "doc_id")
    val all = LakeScans.dvScanFiles(lake(dir)).size
    assert(LakeScans.dvScanFiles(lake(dir).filter(col("part") === "p3")).size < all,
      "a rename elsewhere must not disable partition pruning")
    val got = lake(dir).filter(col("part") === "p3").select("doc_id")
    assert(got.columns.toSeq === Seq("doc_id"))
    assert(got.count() === 20)
  }

  test("SQL catalog: CREATE TABLE USING graft-txn answers spark.sql with pruning") {
    val dir = priceTable()
    spark.sql(s"CREATE TABLE txnsrc_sql USING `graft-txn` OPTIONS (path '$dir')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM txnsrc_sql WHERE price >= 2000.0")
        .collect().head.getLong(0)
      assert(n === 20)
      val agg = spark.sql(
        """SELECT part, CAST(sum(price) AS DOUBLE) AS s
          |FROM txnsrc_sql GROUP BY part ORDER BY part""".stripMargin).collect()
      assert(agg.map(_.getString(0)).toSeq === Seq("p1", "p2", "p3"))
    } finally spark.sql("DROP TABLE txnsrc_sql")
  }

  test("tableDetail reports primary + additive stats columns from one snapshot") {
    import spark.implicits._
    val dir = freshDir()
    TxnLake.create(spark, dir,
      Seq((1L, "p1", 10.0), (2L, "p2", 20.0)).toDF("id", "part", "price"),
      "part", statsCol = Some("price"))
    TxnLake.setStatsColumns(spark, dir, Seq("id"))
    TxnLake.append(spark, dir, Seq((3L, "p1", 30.0)).toDF("id", "part", "price"))
    val d = TxnLake.tableDetail(spark, dir).collect()(0)
    assert(d.getAs[String]("format") === "graft-txn")
    assert(d.getAs[Long]("version") === 1L)
    assert(d.getAs[Long]("num_rows") === 3L)
    assert(d.getAs[String]("partition_column") === "part")
    assert(d.getAs[Seq[String]]("stats_columns") === Seq("price", "id"),
      "the PRIMARY zone-map column must be reported alongside the additive set")
    assert(d.getAs[Long]("retained_versions") === 2L)
  }

  test("SQL catalog: CTAS (CREATE TABLE ... AS SELECT) commits through the manifest") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "p1", 10.0), (2L, "p2", 20.0), (3L, "p1", 30.0))
      .toDF("id", "part", "price").createOrReplaceTempView("txnsrc_ctas_src")
    spark.sql(
      s"""CREATE TABLE txnsrc_ctas USING `graft-txn`
         |OPTIONS (path '$dir', partCol 'part')
         |AS SELECT * FROM txnsrc_ctas_src""".stripMargin)
    try {
      // the CTAS write went through the CreatableRelationProvider ->
      // TxnLake.create: a transaction log exists and both addressing
      // forms serve the same snapshot
      assert(new java.io.File(dir, "_graft_log").exists(),
        "CTAS must commit through the manifest, not write bare files")
      assert(TxnLake.read(spark, dir).count() === 3L)
      assert(spark.table("txnsrc_ctas").count() === 3L)
      assert(TxnLake.history(spark, dir).count() === 1L, "CTAS is ONE commit")
      // without partCol the source refuses CTAS up front (no partial state)
      val e = intercept[Exception](spark.sql(
        s"""CREATE TABLE txnsrc_ctas2 USING `graft-txn`
           |OPTIONS (path '${freshDir()}')
           |AS SELECT * FROM txnsrc_ctas_src""".stripMargin))
      assert(e.getMessage.contains("partCol"))
    } finally {
      spark.sql("DROP TABLE txnsrc_ctas")
      spark.catalog.dropTempView("txnsrc_ctas_src")
    }
  }

  test("schema evolution: old files null-fill manifest-added columns") {
    import spark.implicits._
    val dir = freshDir()
    TxnLake.create(spark, dir,
      Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("id", "part", "price"),
      "part", statsCol = Some("price"))
    TxnLake.upsert(spark, dir,
      Seq((2L, "p2", 2.5, "fresh")).toDF("id", "part", "price", "note"), "id")
    val got = lake(dir).orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), Option(r.getAs[String]("note")))).toSeq
    assert(got === Seq(1L -> None, 2L -> Some("fresh")),
      "files predating the evolved schema must read as NULL for added columns")
  }

  test("write path: create via partCol option, then append, each one commit") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("id", "part", "price")
      .write.format("graft-txn").option("partCol", "part")
      .option("statsCol", "price").save(dir)
    Seq((3L, "p2", 3.0)).toDF("id", "part", "price")
      .write.format("graft-txn").mode("append").save(dir)
    assert(lake(dir).orderBy("id").collect().map(_.getAs[Long]("id")).toSeq ===
      Seq(1L, 2L, 3L))
    assert(TxnLake.history(spark, dir).count() === 2) // v0 create + v1 append
  }

  test("write path: overwrite atomically replaces, old version still readable") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("id", "part", "price")
      .write.format("graft-txn").option("partCol", "part")
      .option("changeFeed", "true").save(dir)
    Seq((9L, "p9", 9.0)).toDF("id", "part", "price")
      .write.format("graft-txn").mode("overwrite").save(dir)
    assert(lake(dir).collect().map(_.getAs[Long]("id")).toSeq === Seq(9L))
    assert(spark.read.format("graft-txn").option("versionAsOf", "0").load(dir)
      .orderBy("id").collect().map(_.getAs[Long]("id")).toSeq === Seq(1L, 2L))
    // the change feed records the replacement: full deletes + inserts
    val feed = graft.streaming.CdcFeed.batch(spark, dir, fromVersion = 1L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String](TxnLake.ChangeTypeCol))).toSet
    assert(feed === Set((1L, "delete"), (2L, "delete"), (9L, "insert")))
  }

  test("write path: ErrorIfExists refuses an existing table; Ignore is a no-op") {
    import spark.implicits._
    val dir = freshDir()
    val df = Seq((1L, "p1", 1.0)).toDF("id", "part", "price")
    df.write.format("graft-txn").option("partCol", "part").save(dir)
    intercept[IllegalArgumentException] {
      df.write.format("graft-txn").mode("errorifexists").save(dir)
    }
    Seq((2L, "p1", 2.0)).toDF("id", "part", "price")
      .write.format("graft-txn").mode("ignore").save(dir)
    assert(lake(dir).count() === 1) // ignore wrote nothing
  }

  // NOTE: `SELECT * FROM \`graft-txn\`.\`<path>\`` direct-path SQL is not
  // available — Spark's ResolveSQLOnFile restricts that syntax to
  // FileFormat-based sources. CREATE TABLE ... USING `graft-txn` (tested
  // above) is the supported SQL-catalog surface, matching what the Delta
  // connector required before its own catalog plugin.

  test("_metadata.file_modification_time agrees between synthesized statuses and listing") {
    val dir = priceTable()
    // FileStatus synthesized from the manifest
    val fast = lake(dir)
      .select(col("_metadata.file_path"), col("_metadata.file_modification_time"))
      .distinct().collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).getTime).toMap
    // FileStatus from the file system itself, for every live file
    val fs = TxnLake.fsOf(spark, dir)
    val listed = TxnLake.resolve(spark, dir).get.files.map { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f.locate(dir)))
      st.getPath.toString -> st.getModificationTime
    }.toMap
    assert(fast.keySet === listed.keySet,
      "file_path must be scheme-qualified like the file system's own status")
    // manifest mtime is captured from the staging statuses, and
    // committed files are immutable — the user-queryable metadata
    // column must equal what the file system reports
    assert(fast === listed)
    assert(fast.values.forall(_ > 0L), "mtime must be real, not epoch 0")
  }
}
