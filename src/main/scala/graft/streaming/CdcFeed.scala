package graft.streaming

import graft.lake.TxnLake
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Streaming CHANGE-DATA-CAPTURE feed over a [[TxnLake]] table — the
  * incremental feed [[graft.lake.IncrementalView]] consumes in batch,
  * delivered as a Structured Streaming source.
  *
  * Every row-changing commit materializes its change rows in the full
  * preimage dialect (insert / update_preimage / update_postimage /
  * delete pre-images — subtractable, so the feed can maintain
  * aggregates downstream) under `_graft_cdc/v<version>`
  * at commit time, O(changed rows). Tailing the table is therefore a
  * plain checkpointed parquet FILE STREAM over that directory — Spark's
  * file source discovers each commit's new files, tracks them in the
  * stream checkpoint (exactly-once within the engine), and re-globs per
  * micro-batch, so new versions flow with no custom `MicroBatchStream`:
  * the declarative source Spark already has expresses "tail the log
  * version-by-version" exactly. Row-preserving commits (OPTIMIZE,
  * Z-order) emit nothing — a CDC consumer never re-processes rewritten
  * ride-along rows, which is what makes the feed O(logical change) while
  * snapshot diffs are O(rewritten files).
  *
  * Scale shape at 100 TB: feed volume tracks the MUTATION rate, not
  * table size; the stream scans only never-seen files (no listing of
  * data dirs, no snapshot diff); and downstream apply is one
  * partition-pruned transactional upsert + delete per micro-batch via
  * [[applyCdc]] — the same idempotent discipline as
  * [[UpsertSink.applyBatchTxn]], so replayed batches cannot drift the
  * replica.
  */
object CdcFeed {

  /** The feed's schema: the table's schema at `version` (the CURRENT
    * one when negative; older feed files null-fill later columns,
    * exactly like the table's own readers) plus the change-type and
    * commit-version columns. */
  def schemaOf(spark: SparkSession, dir: String, version: Long = -1L): StructType =
    (if (version < 0) TxnLake.read(spark, dir) else TxnLake.readVersion(spark, dir, version))
      .schema
      .add(TxnLake.ChangeTypeCol, StringType)
      .add(TxnLake.VersionCol, LongType)

  private def feedGlob(dir: String): String = s"$dir/${TxnLake.CdcDir}/v*"

  /** The feed READ BARRIER at a column rename (Delta CDF's rule for
    * non-additive schema changes): feed entries keep the logical names
    * of their own version, and a reader binds one schema, so entries on
    * the far side of a [[TxnLake.renameColumn]] from `schemaVersion`
    * would read the renamed column as NULL. Fails with
    * [[CdcRenameBarrierException]] naming the rename's version when any
    * of `entryVersions` sits across one. Metadata only. */
  private[graft] def requireNoRenameBetween(spark: SparkSession, dir: String,
                                            entryVersions: Seq[Long],
                                            schemaVersion: Long): Unit = {
    if (entryVersions.isEmpty) return
    val names = TxnLake.columnNamesByVersion(spark, dir)
    def at(v: Long): Option[Map[String, String]] =
      names.takeWhile(_._1 <= v).lastOption.map(_._2)
    at(schemaVersion).foreach { target =>
      def differs(m: Map[String, String]): Boolean =
        m.exists { case (p, l) => target.get(p).exists(_ != l) }
      entryVersions.distinct.sorted.foreach { v =>
        if (at(v).exists(differs)) {
          val (lo, hi) = (math.min(v, schemaVersion), math.max(v, schemaVersion))
          val renamed = names.sliding(2).collectFirst {
            case Seq((_, a), (u, b)) if u > lo && u <= hi && a != b => u
          }.getOrElse(hi)
          throw new CdcRenameBarrierException(dir, renamed, v, schemaVersion)
        }
      }
    }
  }

  /** Retained feed versions at or after `fromVersion`, with their
    * dirs, ascending — one listing of the feed root. */
  private def feedDirs(spark: SparkSession, dir: String,
                       fromVersion: Long): Seq[(Long, String)] = {
    val root = new Path(dir, TxnLake.CdcDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(st => (st.getPath.getName.drop(1).toLong, st.getPath.toString))
      .filter(_._1 >= fromVersion)
      .sortBy(_._1)
  }

  private def requireFeed(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir, TxnLake.CdcDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root),
      s"$dir has no ${TxnLake.CdcDir} feed — the table predates change capture; " +
        "use TxnLake.changes for a snapshot diff")
  }

  /** Feed files never store `_commit_version`: every commit stages its
    * entry before it knows its version and renames the stage to
    * `v<N>` after the publish ([[TxnLake]] `publishFeed`), so the
    * version comes from the `v<N>` dir name. Whole-file images (a
    * create's, append's or overwrite's inserts, an overwrite's or
    * TRUNCATE's deletes, UPDATE's post-images) are byte copies of data
    * files ([[TxnLake]] `stageFeedImages` — zero write amplification),
    * so they carry no `_change_type` either: the schema-by-name read
    * null-fills both and this projection derives them — the type from
    * the controlled basename prefix (`ins_*` = 'insert', `del_*` =
    * 'delete', `upd_*` = 'update_postimage'; anchored on the basename
    * so a table PATH containing either substring cannot flip it).
    * Explicitly-written change rows keep their stored `_change_type`,
    * and entries written with `_commit_version` baked in (the layout
    * of older feed dirs) keep theirs — both coalesces are no-ops
    * there. */
  private[graft] def derive(df: DataFrame): DataFrame =
    df.withColumn("__cdc_file", col("_metadata.file_path"))
      .withColumn(TxnLake.VersionCol, coalesce(col(TxnLake.VersionCol),
        regexp_extract(col("__cdc_file"),
          "/" + TxnLake.CdcDir + "/v(\\d+)/", 1).cast("long")))
      .withColumn(TxnLake.ChangeTypeCol,
        coalesce(col(TxnLake.ChangeTypeCol),
          when(regexp_extract(col("__cdc_file"),
            "/del_\\d+\\.parquet$", 0) =!= "", lit("delete"))
            .when(regexp_extract(col("__cdc_file"),
              "/upd_\\d+\\.parquet$", 0) =!= "", lit("update_postimage"))
            .otherwise(lit("insert"))))
      .drop("__cdc_file")

  /** Batch read of the feed: every retained change from `fromVersion`
    * to `toVersion` (the head when negative), one row per changed row
    * per commit, tagged `_change_type` in the preimage dialect and
    * `_commit_version`, in the column names of `toVersion`. A range
    * holding entries from the other side of a column rename fails with
    * [[CdcRenameBarrierException]] ([[requireNoRenameBetween]]). */
  def batch(spark: SparkSession, dir: String, fromVersion: Long = 0L,
            toVersion: Long = -1L): DataFrame = {
    requireFeed(spark, dir)
    val head = TxnLake.currentVersion(spark, dir)
    val end = if (toVersion >= 0) math.min(toVersion, head) else head
    // ONE driver listing resolves the v-dirs, and the read takes the
    // CONCRETE dir list instead of the glob: an empty feed early-returns
    // (the glob would throw), version pruning drops pre-cutoff dirs
    // before the scan ever lists their files, and a multi-path read
    // skips Spark's FileStreamSink metadata probe — which, fed the
    // glob, logged a FileNotFoundException stack trace per read
    val vDirs = feedDirs(spark, dir, fromVersion).filter(_._1 <= end)
    if (vDirs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf(spark, dir))
    requireNoRenameBetween(spark, dir, vDirs.map(_._1), end)
    val schema = schemaOf(spark, dir, if (end == head) -1L else end)
    derive(spark.read.schema(schema).parquet(vDirs.map(_._2).toIndexedSeq: _*))
      .filter(col(TxnLake.VersionCol) >= fromVersion)
  }

  /** The feed as a streaming source. `maxFilesPerTrigger` caps each
    * micro-batch's file intake (backfill pacing); version ordering
    * within the stream follows file order (the v-dirs sort by version).
    * Pair with [[applyCdc]] in `foreachBatch` — or any stateful
    * pipeline — and the checkpoint makes delivery exactly-once
    * end-to-end against an idempotent sink.
    *
    * A LATE-ATTACHING consumer picks its replay point with
    * `startingVersion` (changes of that commit and later — Delta CDF's
    * option of the same name) or `startingTimestamp` (the first commit
    * whose IN-COMMIT timestamp is at or after it — resolved through
    * the ICT in each log record, so the boundary survives file-mtime
    * rewrites; epoch millis). Mutually exclusive; default replays the
    * whole retained feed. The cutoff rides the per-row
    * `_commit_version`, so the stream's first batch lists the retained
    * feed dirs once and discards pre-cutoff rows; every later batch
    * touches only never-seen files.
    *
    * Retained entries across a column rename from the head fail the
    * start ([[requireNoRenameBetween]]). A rename committed while the
    * stream runs is not seen by this file stream; the version-granular
    * `readChangeFeed` source ([[graft.lake.TxnCdcStream]]) checks every
    * batch. */
  def stream(spark: SparkSession, dir: String,
             maxFilesPerTrigger: Option[Int] = None,
             startingVersion: Option[Long] = None,
             startingTimestamp: Option[Long] = None): DataFrame = {
    requireFeed(spark, dir)
    require(startingVersion.isEmpty || startingTimestamp.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    val from = startingVersion.orElse(
      startingTimestamp.map(firstVersionAtOrAfter(spark, dir, _)))
    val head = TxnLake.currentVersion(spark, dir)
    requireNoRenameBetween(spark, dir,
      feedDirs(spark, dir, from.getOrElse(0L)).map(_._1), head)
    val reader = spark.readStream.schema(schemaOf(spark, dir))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val df = derive(reader.parquet(feedGlob(dir)))
    from.fold(df)(v => df.filter(col(TxnLake.VersionCol) >= v))
  }

  /** Parse a `startingTimestamp` OPTION value — Delta accepts both a
    * timestamp string (`yyyy-MM-dd HH:mm:ss[.f]`) and a date
    * (`yyyy-MM-dd`); epoch millis are kept as a convenience form.
    * Anything else raises a descriptive error naming the accepted
    * formats rather than an opaque NumberFormatException. String forms
    * bind wall time in the SPARK SESSION's timezone (Delta's
    * behavior) — java.sql.Timestamp.valueOf would silently use the JVM
    * default zone, starting the stream hours off when the two
    * differ. */
  private[graft] def parseStartingTimestamp(spark: org.apache.spark.sql.SparkSession,
                                            s: String): Long = {
    val t = s.trim
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    def local(ldt: java.time.LocalDateTime): Long =
      ldt.atZone(zone).toInstant.toEpochMilli
    val fmt = java.time.format.DateTimeFormatter.ofPattern(
      "yyyy-MM-dd HH:mm:ss[.SSS][.SS][.S]")
    // string forms FIRST: a compact date like '20240101' parses as a
    // bare long too (~20M ms past epoch — Jan 1 1970), and epoch-first
    // ordering would silently start the stream from version 0 instead
    // of raising the descriptive format error. The epoch convenience
    // form additionally requires a sanity floor (1e11 ms ≈ 1973) — no
    // in-commit timestamp predates the log format, so a smaller value
    // is a mistyped date, not a replay point.
    scala.util.Try(local(java.time.LocalDateTime.parse(t, fmt)))
      .orElse(scala.util.Try(local(
        java.time.LocalDate.parse(t).atStartOfDay())))
      .orElse(scala.util.Try(t.toLong).filter(_ >= 100000000000L))
      .getOrElse(throw new IllegalArgumentException(
        s"startingTimestamp '$s' is not a timestamp — expected " +
          "'yyyy-MM-dd HH:mm:ss[.f]', 'yyyy-MM-dd', or epoch millis " +
          "(>= 100000000000, i.e. after 1973)"))
  }

  /** Earliest commit whose in-commit timestamp is >= `tsMillis`
    * (Delta's `startingTimestamp` contract). Log-scale driver work —
    * one history replay, no data files touched. */
  private[graft] def firstVersionAtOrAfter(spark: SparkSession, dir: String,
                                    tsMillis: Long): Long = {
    val r = TxnLake.history(spark, dir)
      .filter(col("committed_at") >= new java.sql.Timestamp(tsMillis))
      .agg(min(col("version"))).head()
    require(!r.isNullAt(0),
      s"no commit at or after timestamp $tsMillis in $dir's retained history")
    r.getLong(0)
  }

  /** Apply one micro-batch of feed rows to a downstream [[TxnLake]]
    * replica: reduce to the LAST change per key (version order; the
    * payload struct breaks pathological same-version ties the same
    * deterministic way [[UpsertSink]] dedups), then one transactional
    * upsert for surviving post-images and one keyed delete for doomed
    * keys. Idempotent: a replayed batch upserts identical values and
    * deletes already-absent keys, so the replica converges instead of
    * drifting — foreachBatch's at-least-once becomes exactly-once. */
  def applyCdc(batch: DataFrame, targetDir: String, key: String, partCol: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // update_preimage rows exist for aggregate maintenance (they make
    // sums subtractable); for key-based replication the post-image
    // alone is the truth — drop preimages before the per-key reduction
    // so an update's OLD value can never win the last-change struct
    val latest = lastChangePerKey(
      batch.filter(col(TxnLake.ChangeTypeCol) =!= "update_preimage"), key)
    val dataCols = batch.columns
      .filterNot(c => c == TxnLake.ChangeTypeCol || c == TxnLake.VersionCol)
    val upserts = latest.filter(col(TxnLake.ChangeTypeCol) =!= "delete")
      .select(dataCols.map(col).toIndexedSeq: _*)
    val deletes = latest.filter(col(TxnLake.ChangeTypeCol) === "delete")
      .select(col(key))
    if (!TxnLake.isTxnTable(spark, targetDir)) {
      // first batch bootstraps the replica; deletes of keys it never
      // held are vacuous (the key sets are disjoint after reduction)
      if (!upserts.isEmpty) TxnLake.create(spark, targetDir, upserts, partCol)
    } else {
      TxnLake.upsert(spark, targetDir, upserts, key) // empty set commits nothing
      TxnLake.delete(spark, targetDir, deletes, key) // ditto
    }
  }

  /** One-call replication: tail `sourceDir`'s feed and maintain a
    * transactional replica at `targetDir`. AvailableNow by default so
    * backfills drain and stop; pass `oneShot = false` for a continuous
    * tail. The replica equals the source snapshot at every drained
    * point (pinned stream==batch in CdcFeedSpec). */
  def replicate(spark: SparkSession, sourceDir: String, targetDir: String,
                key: String, partCol: String, checkpointDir: String,
                oneShot: Boolean = true): StreamingQuery = {
    val writer = stream(spark, sourceDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyCdc(batch, targetDir, key, partCol)
      }
    (if (oneShot) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  private def lastChangePerKey(batch: DataFrame, key: String): DataFrame = {
    val payload = batch.columns.filterNot(_ == key)
    // the version column LEADS the struct, so lexicographic max = the
    // latest change for the key within this batch
    val ordered = TxnLake.VersionCol +: payload.filterNot(_ == TxnLake.VersionCol)
    batch.groupBy(col(key))
      .agg(max(struct(ordered.map(col).toIndexedSeq: _*)).as("__chg"))
      .select(col(key) +: payload.map(c => col(s"__chg.$c").as(c)): _*)
      .select(batch.columns.map(col).toIndexedSeq: _*)
  }
}

/** A change-feed read whose range crosses a [[TxnLake.renameColumn]]:
  * the entry at `entryVersion` was written under other column names
  * than the schema the read binds (that of `schemaVersion`), the
  * rename committing at `renameVersion` between them. Read the feed
  * from `renameVersion` on (or up to the version before it). */
final class CdcRenameBarrierException(val dir: String, val renameVersion: Long,
                                      val entryVersion: Long, val schemaVersion: Long)
    extends IllegalStateException(
      s"change feed of $dir crosses the column rename committed at version " +
        s"$renameVersion: the entry of version $entryVersion was written under " +
        s"other column names than the schema of version $schemaVersion the read " +
        s"binds; read from version $renameVersion on")
