package graft.streaming

import graft.lake.TxnLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The CHANGE-DATA-CAPTURE feed of a [[TxnLake]] table — the
  * incremental feed [[graft.lake.IncrementalView]] consumes in batch
  * and `readChangeFeed` ([[graft.lake.TxnCdcStream]]) streams.
  *
  * Every row-changing commit materializes its change rows in the full
  * preimage dialect (insert / update_preimage / update_postimage /
  * delete pre-images — subtractable, so the feed can maintain
  * aggregates downstream) in its own `_graft_cdc/c<id>` entry at
  * commit time, O(changed rows), and the commit's log record names the
  * entry. Readers map versions to entries through the log
  * ([[TxnLake.feedLog]]) and read the range as one parquet scan.
  * Row-preserving commits (OPTIMIZE, Z-order) emit nothing — a CDC
  * consumer never re-processes rewritten ride-along rows, which is
  * what makes the feed O(logical change) while snapshot diffs are
  * O(rewritten files).
  *
  * Scale shape at 100 TB: feed volume tracks the MUTATION rate, not
  * table size; a read touches only the entries of its version range
  * (no listing of data dirs, no snapshot diff); and downstream apply is
  * one partition-pruned transactional upsert + delete per micro-batch
  * via [[applyCdc]] — the same idempotent discipline as
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

  /** The feed READ BARRIER at a column rename (Delta CDF's rule for
    * non-additive schema changes): feed entries keep the logical names
    * of their own version, and a reader binds one schema, so entries on
    * the far side of a [[TxnLake.renameColumn]] from `schemaVersion`
    * would read the renamed column as NULL. Fails with
    * [[CdcRenameBarrierException]] naming the rename's version when any
    * entry of `entries` sits across one. `log` covers every version
    * from the lowest of `entries` and `schemaVersion` to the highest.
    * Metadata only. */
  private[graft] def requireNoRenameBetween(dir: String, log: Seq[TxnLake.FeedVersion],
                                            entries: Seq[TxnLake.FeedVersion],
                                            schemaVersion: Long): Unit = {
    def at(v: Long): Option[Map[String, String]] =
      log.takeWhile(_.version <= v).lastOption.map(_.names)
    at(schemaVersion).foreach { target =>
      def differs(m: Map[String, String]): Boolean =
        m.exists { case (p, l) => target.get(p).exists(_ != l) }
      entries.foreach { e =>
        if (differs(e.names)) {
          val (lo, hi) = (math.min(e.version, schemaVersion),
            math.max(e.version, schemaVersion))
          val renamed = log.sliding(2).collectFirst {
            case Seq(a, b) if b.version > lo && b.version <= hi && a.names != b.names =>
              b.version
          }.getOrElse(hi)
          throw new CdcRenameBarrierException(dir, renamed, e.version, schemaVersion)
        }
      }
    }
  }

  /** One parquet scan of the feed `entries` under `schema`. Feed files
    * never store `_commit_version`: an entry is staged before its commit
    * knows its version, and the record that publishes it names it, so
    * the version comes from a driver-built map from entry name to
    * version. Whole-file images (a create's, append's or overwrite's
    * inserts, an overwrite's or TRUNCATE's deletes, UPDATE's
    * post-images) are byte copies of data files ([[TxnLake]]
    * `stageFeedImages` — zero write amplification), so they carry no
    * `_change_type` either: the schema-by-name read null-fills it and
    * this projection derives it from the controlled basename prefix
    * (`ins_*` = 'insert', `del_*` = 'delete', `upd_*` =
    * 'update_postimage'; anchored on the basename so a table PATH
    * containing either substring cannot flip it). Explicitly-written
    * change rows keep their stored `_change_type`. */
  private[graft] def readFeed(spark: SparkSession, dir: String,
                              entries: Seq[TxnLake.FeedVersion],
                              schema: StructType): DataFrame = {
    val located = entries.flatMap(e => e.entry.map(_ -> e.version))
    if (located.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // entries are flat dirs with commit-unique names: a file's parent
    // dir name keys its version (cut with substring_index — a regex
    // anchored at the path's end backtracks through every segment and
    // doubled the scan's cost)
    val versionOf = located.map { case (e, v) => e.substring(e.lastIndexOf('/') + 1) -> v }
    val file = col("_metadata.file_path")
    spark.read.schema(schema).parquet(located.map(e => s"$dir/${e._1}"): _*)
      .withColumn(TxnLake.VersionCol, typedLit(versionOf.toMap).apply(
        substring_index(substring_index(file, "/", -2), "/", 1)))
      .withColumn(TxnLake.ChangeTypeCol,
        coalesce(col(TxnLake.ChangeTypeCol),
          when(regexp_extract(file, "/del_\\d+\\.parquet$", 0) =!= "", lit("delete"))
            .when(regexp_extract(file, "/upd_\\d+\\.parquet$", 0) =!= "",
              lit("update_postimage"))
            .otherwise(lit("insert"))))
  }

  /** Batch read of the feed: every retained change from `fromVersion`
    * to `toVersion` (the head when negative), one row per changed row
    * per commit, tagged `_change_type` in the preimage dialect and
    * `_commit_version`, in the column names of `toVersion`. A range
    * holding entries from the other side of a column rename fails with
    * [[CdcRenameBarrierException]] ([[requireNoRenameBetween]]). */
  def batch(spark: SparkSession, dir: String, fromVersion: Long = 0L,
            toVersion: Long = -1L): DataFrame = {
    val log = TxnLake.feedLog(spark, dir, fromVersion,
      if (toVersion >= 0) toVersion else Long.MaxValue)
    val end = log.lastOption.fold(-1L)(_.version)
    val entries = log.filter(_.entry.isDefined)
    requireNoRenameBetween(dir, log, entries, end)
    readFeed(spark, dir, entries, schemaOf(spark, dir, if (toVersion < 0) -1L else end))
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

  /** One-call replication: tail `sourceDir`'s feed through
    * `readChangeFeed` (whole commits per micro-batch) and maintain a
    * transactional replica at `targetDir`. AvailableNow by default so
    * backfills drain and stop; pass `oneShot = false` for a continuous
    * tail. The replica equals the source snapshot at every drained
    * point (pinned stream==batch in CdcFeedSpec). */
  def replicate(spark: SparkSession, sourceDir: String, targetDir: String,
                key: String, partCol: String, checkpointDir: String,
                oneShot: Boolean = true): StreamingQuery = {
    val writer = spark.readStream.format("graft-txn").option("readChangeFeed", "true")
      .load(sourceDir).writeStream
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
