package graft.streaming

import graft.SparkTestSession
import graft.lake.TxnLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The commit-time change feed vs its two independent counterparts:
  * the snapshot-diff [[TxnLake.changes]] (post-hoc file diff — a
  * different computation of the same facts) and the streamed form of
  * the feed itself (the `readChangeFeed` stream == batch), plus
  * downstream replication with replay idempotence. */
class CdcFeedSpec extends AnyFunSuite with SparkTestSession {

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  /** create → append → upsert → delete: a 3-commit mutation history on
    * top of v0. */
  private def mutatedTable(): String = {
    import spark.implicits._
    val dir = freshDir("graft_cdc")
    TxnLake.create(spark, dir,
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")).toDF("id", "name", "part"),
      "part", changeFeed = true)
    TxnLake.append(spark, dir, Seq((4L, "d", "p2"), (5L, "e", "p3")).toDF("id", "name", "part"))
    TxnLake.upsert(spark, dir,
      Seq((2L, "b2", "p1"), (6L, "f", "p3")).toDF("id", "name", "part"), "id")
    TxnLake.delete(spark, dir, Seq(1L, 6L).toDF("id"), "id")
    dir
  }

  /** Drain the `readChangeFeed` stream of `dir`, with the reader
    * `options`, into the memory table `name` and return it. */
  private def drainFeed(dir: String, name: String,
                        options: (String, String)*): DataFrame = {
    val reader = spark.readStream.format("graft-txn").option("readChangeFeed", "true")
    options.foreach { case (k, v) => reader.option(k, v) }
    reader.load(dir).writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.table(name)
  }

  /** Messages along `t`'s cause chain. */
  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .flatMap(c => Option(c.getMessage)).toSeq

  private def changeSet(df: DataFrame): Set[(Long, String, String, String, Long)] =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
      r.getAs[String]("part"), r.getAs[String](TxnLake.ChangeTypeCol),
      r.getAs[Long](TxnLake.VersionCol))).toSet

  private def snapshotSet(df: DataFrame): Set[(Long, String, String)] =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
      r.getAs[String]("part"))).toSet

  test("batch feed equals the expected change history exactly") {
    val dir = mutatedTable()
    assert(changeSet(CdcFeed.batch(spark, dir)) === Set(
      (1L, "a", "p1", "insert", 0L), (2L, "b", "p1", "insert", 0L), (3L, "c", "p2", "insert", 0L),
      (4L, "d", "p2", "insert", 1L), (5L, "e", "p3", "insert", 1L),
      (2L, "b", "p1", "update_preimage", 2L),
      (2L, "b2", "p1", "update_postimage", 2L), (6L, "f", "p3", "insert", 2L),
      (1L, "a", "p1", "delete", 3L), (6L, "f", "p3", "delete", 3L)))
  }

  /** Every row of `df` as one string over its columns in name order,
    * sorted: a multiset comparison that ignores column order. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(c => col(c).cast("string")).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).toSeq.sorted

  /** One history per group of commit kinds, each on a fresh feed
    * table. Keys are unique per version, every update changes a value
    * and the overwrites replace every key with a new one, so the
    * snapshot diff speaks the feed's dialect row for row. */
  private def histories(): Seq[(String, String)] = {
    import spark.implicits._
    def rows(rs: (Long, String, String)*): DataFrame = rs.toDF("id", "name", "part")
    def seeded(tag: String): String = {
      val dir = freshDir(s"graft_cdc_$tag")
      TxnLake.create(spark, dir, rows((1L, "a", "p1"), (2L, "b", "p1"),
        (3L, "c", "p2"), (4L, "d", "p2")), "part", changeFeed = true)
      dir
    }
    // create → append → upsert → delete-by-keys
    val keyed = mutatedTable()
    // deleteWhere and updateWhere leave deletion vectors on the seed
    // files they touch: truncate reads those back and byte-copies the
    // rest (at least the update's post-image file)
    val dml = seeded("dml")
    TxnLake.deleteWhere(spark, dml, col("id") === 1L)
    TxnLake.updateWhere(spark, dml, col("id") === 3L, Map("name" -> lit("c2")))
    TxnLake.truncate(spark, dml)
    // appendOnce → overwrite → MERGE with a delete clause and
    // by-source delete and update clauses
    val writes = seeded("writes")
    TxnLake.appendOnce(spark, writes, rows((5L, "e", "p3")), "app", 1L)
    TxnLake.overwrite(spark, writes, rows((10L, "j", "p1"), (11L, "k", "p1"),
      (12L, "l", "p2"), (13L, "m", "p2"), (14L, "n", "p3")))
    TxnLake.merge(spark, writes,
      rows((10L, "j2", "p1"), (11L, "k2", "p1"), (15L, "o", "p3")), "id",
      deleteWhen = col("name") === "k",
      bySource = Seq(TxnLake.BySourceDelete(Some(col("id") === 12L)),
        TxnLake.BySourceUpdate(Map("name" -> lit("m2")), Some(col("part") === "p2"))))
    // a renamed column: every feed image must be in logical names
    val renamed = seeded("renamed")
    TxnLake.renameColumn(spark, renamed, "name", "label")
    def lrows(rs: (Long, String, String)*): DataFrame = rs.toDF("id", "label", "part")
    TxnLake.append(spark, renamed, lrows((5L, "e", "p3")))
    TxnLake.updateWhere(spark, renamed, col("id") === 2L, Map("label" -> lit("b2")))
    TxnLake.deleteWhere(spark, renamed, col("id") === 3L)
    TxnLake.upsert(spark, renamed, lrows((4L, "d2", "p2"), (6L, "f", "p3")), "id")
    TxnLake.overwrite(spark, renamed, lrows((7L, "g", "p1"), (8L, "h", "p2")))
    TxnLake.truncate(spark, renamed)
    Seq("keyed" -> keyed, "dml" -> dml, "writes" -> writes, "renamed" -> renamed)
  }

  test("feed matches the snapshot-diff changes() version by version") {
    histories().foreach { case (name, dir) =>
      val head = TxnLake.currentVersion(spark, dir)
      def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      val current = columns(TxnLake.read(spark, dir))
      def schemaAt(v: Long) = columns(TxnLake.readVersion(spark, dir, v))
      // the diff spans only versions at the head's schema (a rename is
      // a metadata-only commit and a diff barrier)
      val comparable = (0L to head).filter(v =>
        schemaAt(v) == current && (v == 0L || schemaAt(v - 1) == current))
      assert(comparable.contains(head) && comparable.size >= 4, s"$name: $comparable")
      val diffed = comparable.map { v =>
        // v0 has no predecessor to diff — its feed entry is the
        // snapshot as inserts, pinned against readVersion
        (if (v == 0L) TxnLake.readVersion(spark, dir, 0L)
           .withColumn(TxnLake.ChangeTypeCol, lit("insert"))
         else TxnLake.changes(spark, dir, v - 1, v, "id", preimages = true))
          .withColumn(TxnLake.VersionCol, lit(v))
      }.reduce(_ unionByName _)
      // a rename is also a feed read barrier: read from the first
      // comparable version
      val feed = CdcFeed.batch(spark, dir, comparable.min)
        .filter(col(TxnLake.VersionCol).isin(comparable: _*))
      assert(rowsOf(feed) === rowsOf(diffed), s"history '$name'")
    }
  }

  test("a feed range across a renameColumn fails with the rename's version; " +
      "each side of it reads in its own names") {
    import spark.implicits._
    val dir = freshDir("graft_cdc_rename")
    TxnLake.create(spark, dir, Seq((1L, "a", "p1")).toDF("id", "name", "part"),
      "part", changeFeed = true)                                        // v0
    TxnLake.renameColumn(spark, dir, "name", "label")                   // v1
    TxnLake.append(spark, dir, Seq((2L, "b", "p1")).toDF("id", "label", "part")) // v2
    val e = intercept[CdcRenameBarrierException](CdcFeed.batch(spark, dir).collect())
    assert(e.renameVersion === 1L && e.entryVersion === 0L && e.schemaVersion === 2L)
    assert(e.getMessage.contains("version 1"))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drainFeed(dir, "cdc_rename_barrier"))
    assert(Iterator.iterate(failed: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[CdcRenameBarrierException]), failed)
    // either side alone reads every row in the names of its own version
    assert(CdcFeed.batch(spark, dir, fromVersion = 1L)
      .select("id", "label").as[(Long, String)].collect().toSeq === Seq((2L, "b")))
    assert(CdcFeed.batch(spark, dir, toVersion = 0L)
      .select("id", "name").as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("records name their entries; files store no _commit_version") {
    val dir = mutatedTable()
    val log = TxnLake.feedLog(spark, dir)
    assert(log.map(_.version) === Seq(0L, 1L, 2L, 3L))
    val entries = log.flatMap(_.entry)
    assert(entries.size === 4 && entries.forall(_.matches(TxnLake.CdcDir + "/c[0-9a-f]+")),
      entries)
    // every dir under the feed root is an entry some record names
    assert(new java.io.File(dir, TxnLake.CdcDir).list().toSeq.sorted ===
      entries.map(_.stripPrefix(TxnLake.CdcDir + "/")).sorted)
    entries.foreach(e => assert(
      !spark.read.parquet(s"$dir/$e").columns.contains(TxnLake.VersionCol), e))
  }

  test("streamed feed equals the batch feed (stream == batch)") {
    val dir = mutatedTable()
    assert(changeSet(drainFeed(dir, "cdc_feed_stream", "maxVersionsPerTrigger" -> "2")) ===
      changeSet(CdcFeed.batch(spark, dir)))
  }

  test("replicate() converges the replica to the source head snapshot") {
    val dir = mutatedTable()
    val target = freshDir("graft_cdc_replica")
    val ckpt = freshDir("graft_cdc_ckpt")
    CdcFeed.replicate(spark, dir, target, "id", "part", ckpt).awaitTermination()
    assert(snapshotSet(TxnLake.read(spark, target)) ===
      snapshotSet(TxnLake.read(spark, dir)))
    assert(snapshotSet(TxnLake.read(spark, target)) ===
      Set((2L, "b2", "p1"), (3L, "c", "p2"), (4L, "d", "p2"), (5L, "e", "p3")))
  }

  test("applyCdc replay is idempotent: re-applying the full feed changes nothing") {
    val dir = mutatedTable()
    val target = freshDir("graft_cdc_replay")
    val feed = CdcFeed.batch(spark, dir)
    CdcFeed.applyCdc(feed, target, "id", "part")
    val once = snapshotSet(TxnLake.read(spark, target))
    CdcFeed.applyCdc(feed, target, "id", "part") // the foreachBatch replay
    assert(snapshotSet(TxnLake.read(spark, target)) === once)
    assert(once === snapshotSet(TxnLake.read(spark, dir)))
  }

  test("streamed incremental-view fold == batch fold == full rebuild (st15 shape)") {
    import spark.implicits._
    import graft.lake.IncrementalView
    val dir = freshDir("graft_cdc_mv")
    TxnLake.create(spark, dir,
      Seq((1L, 10L, "p1"), (2L, 20L, "p1"), (3L, 30L, "p2")).toDF("id", "v", "part"),
      "part", changeFeed = true)
    TxnLake.append(spark, dir, Seq((4L, 40L, "p2")).toDF("id", "v", "part"))
    // update 2 (subtractable only via the preimage dialect) + insert 5
    TxnLake.upsert(spark, dir, Seq((2L, 25L, "p1"), (5L, 50L, "p3")).toDF("id", "v", "part"), "id")
    TxnLake.delete(spark, dir, Seq(3L).toDF("id"), "id")
    val g = Seq("part"); val sums = Seq("v")
    def viewSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getAs[String]("part"), r.getAs[Long]("n"),
        r.getAs[Number]("sum_v").longValue())).toSet
    val empty = IncrementalView.build(TxnLake.read(spark, dir).limit(0), g, sums)
    val batchFold = IncrementalView.applyChanges(empty, CdcFeed.batch(spark, dir), g, sums)
    val rebuild = IncrementalView.build(TxnLake.read(spark, dir), g, sums)
    assert(viewSet(batchFold) === viewSet(rebuild))
    assert(viewSet(rebuild) === Set(("p1", 2L, 35L), ("p2", 1L, 40L), ("p3", 1L, 50L)))
    // the STREAMED fold: one commit per micro-batch, folded in
    // foreachBatch — the continuous MV-maintenance deployment shape
    var view = empty.localCheckpoint(true)
    val q = spark.readStream.format("graft-txn").option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load(dir)
      .writeStream.option("checkpointLocation", freshDir("graft_cdc_mv_ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        view = IncrementalView.applyChanges(view, b, g, sums).localCheckpoint(true)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(viewSet(view) === viewSet(rebuild))
  }

  /** mutatedTable + one more append = a 5-commit history (v0..v4). */
  private def fiveCommitTable(): String = {
    import spark.implicits._
    val dir = mutatedTable()
    TxnLake.append(spark, dir, Seq((7L, "g", "p1")).toDF("id", "name", "part"))
    dir
  }

  test("late-attach startingVersion replays exactly that suffix (stream == batch)") {
    val dir = fiveCommitTable()
    drainFeed(dir, "cdc_feed_sv", "startingVersion" -> "2")
    assert(changeSet(spark.table("cdc_feed_sv")) ===
      changeSet(CdcFeed.batch(spark, dir, fromVersion = 2L)))
    // pinned: nothing from v0/v1, everything from v2 on
    assert(changeSet(spark.table("cdc_feed_sv")) === Set(
      (2L, "b", "p1", "update_preimage", 2L),
      (2L, "b2", "p1", "update_postimage", 2L), (6L, "f", "p3", "insert", 2L),
      (1L, "a", "p1", "delete", 3L), (6L, "f", "p3", "delete", 3L),
      (7L, "g", "p1", "insert", 4L)))
  }

  test("startingTimestamp resolves through in-commit timestamps to the exact commit") {
    val dir = fiveCommitTable()
    val ict = TxnLake.history(spark, dir).select("version", "committed_at").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    // ICTs are strictly monotonic, so v3's own ICT is a deterministic
    // boundary: exactly versions 3 and 4 are at-or-after it
    assert(changeSet(drainFeed(dir, "cdc_feed_st",
      "startingTimestamp" -> ict(3L).toString)) ===
      changeSet(CdcFeed.batch(spark, dir, fromVersion = 3L)))
    // past the newest commit there is nothing to replay — refuse loudly
    val e = intercept[Exception](drainFeed(dir, "cdc_feed_st_late",
      "startingTimestamp" -> (ict(4L) + 1L).toString))
    assert(messages(e).exists(_.contains("no commit at or after")), messages(e))
    // the two attach options are mutually exclusive
    val both = intercept[Exception](drainFeed(dir, "cdc_feed_st_both",
      "startingVersion" -> "1", "startingTimestamp" -> ict(2L).toString))
    assert(messages(both).exists(_.contains("mutually exclusive")), messages(both))
  }

  test("change capture is opt-in: a default table pays nothing and has no feed") {
    import spark.implicits._
    val dir = freshDir("graft_cdc_off")
    TxnLake.create(spark, dir, Seq((1L, "a", "p1")).toDF("id", "name", "part"), "part")
    TxnLake.upsert(spark, dir, Seq((1L, "a2", "p1")).toDF("id", "name", "part"), "id")
    assert(!TxnLake.cdcEnabled(spark, dir))
    assert(!new java.io.File(dir, TxnLake.CdcDir).exists())
    val e = intercept[IllegalArgumentException](CdcFeed.batch(spark, dir))
    assert(e.getMessage.contains("no " + TxnLake.CdcDir))
    // enabling mid-history captures from the NEXT commit on
    TxnLake.enableChangeFeed(spark, dir)
    TxnLake.append(spark, dir, Seq((2L, "b", "p2")).toDF("id", "name", "part"))
    assert(changeSet(CdcFeed.batch(spark, dir)) === Set((2L, "b", "p2", "insert", 2L)))
  }

  test("pure-insert feed entries are byte copies of the data files, not rewrites") {
    import spark.implicits._
    val dir = freshDir("graft_cdc_copy")
    TxnLake.create(spark, dir,
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "name", "part"),
      "part", changeFeed = true)
    val dataFiles = TxnLake.detail(spark, dir).select("path").collect()
      .map(r => new java.io.File(dir, r.getString(0)))
    val v0 = TxnLake.feedLog(spark, dir).head.entry.get
    val feedFiles = new java.io.File(dir, v0).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(feedFiles.nonEmpty)
    // every feed file's bytes equal SOME staged data file's bytes
    def bytes(f: java.io.File) = java.nio.file.Files.readAllBytes(f.toPath).toSeq
    val dataBytes = dataFiles.map(bytes).toSet
    assert(feedFiles.forall(f => dataBytes.contains(bytes(f))))
  }

  test("row-preserving OPTIMIZE emits no feed entry") {
    import spark.implicits._
    val dir = freshDir("graft_cdc_opt")
    TxnLake.create(spark, dir, Seq((1L, "a", "p1")).toDF("id", "name", "part"), "part",
      changeFeed = true)
    TxnLake.append(spark, dir, Seq((2L, "b", "p1")).toDF("id", "name", "part"))
    TxnLake.append(spark, dir, Seq((3L, "c", "p1")).toDF("id", "name", "part"))
    val stats = TxnLake.optimize(spark, dir, minFiles = 1)
    assert(stats.version === 3L)
    val feed = CdcFeed.batch(spark, dir)
    assert(feed.agg(max(col(TxnLake.VersionCol))).head().getLong(0) === 2L)
    assert(feed.count() === 3L) // the three appended rows, nothing rewritten
  }

  test("a fresh feed (enabled, no commit yet) reads as empty — no glob error, " +
      "no FileStreamSink probe stack trace") {
    import spark.implicits._
    val dir = freshDir("graft_cdc_fresh")
    TxnLake.create(spark, dir, Seq((1L, "a", "p1")).toDF("id", "name", "part"), "part")
    TxnLake.enableChangeFeed(spark, dir)
    val df = CdcFeed.batch(spark, dir)
    assert(df.count() === 0L)
    assert(df.columns.toSeq === CdcFeed.schemaOf(spark, dir).fieldNames.toSeq)
  }

  test("startingTimestamp rejects compact dates / tiny epochs instead of " +
      "silently replaying from 1970") {
    // '20240101' parses as a bare long (~Jan 1970) — must error, not
    // start the stream from version 0
    intercept[IllegalArgumentException](
      CdcFeed.parseStartingTimestamp(spark, "20240101"))
    intercept[IllegalArgumentException](
      CdcFeed.parseStartingTimestamp(spark, "12345"))
    // real epoch millis and Delta's string forms still parse
    assert(CdcFeed.parseStartingTimestamp(spark, "1700000000000") === 1700000000000L)
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val want = java.time.LocalDate.of(2024, 1, 1).atStartOfDay(zone)
      .toInstant.toEpochMilli
    assert(CdcFeed.parseStartingTimestamp(spark, "2024-01-01") === want)
  }

  test("vacuum drops feed entries of dropped versions; later reads survive") {
    val dir = mutatedTable()
    TxnLake.vacuum(spark, dir, keepVersions = 2, graceMs = 0L)
    // versions 0 and 1 dropped => their feed dirs go; 2..3 retained
    val vs = CdcFeed.batch(spark, dir)
      .select(TxnLake.VersionCol).distinct().collect().map(_.getLong(0)).toSet
    assert(vs === Set(2L, 3L))
  }
}
