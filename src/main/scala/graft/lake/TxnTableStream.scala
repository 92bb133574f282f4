package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.types.StructType

/** Direct `spark.readStream.format("graft-txn").load(dir)` — the TABLE
  * itself as a streaming source, Delta-parity (VERDICT r15 #2). Until
  * now only tables with the CHANGE FEED enabled could be tailed
  * ([[graft.streaming.CdcFeed]]); this source streams any graft-txn
  * table straight off its commit LOG, version by version, no feed
  * required.
  *
  * Model (Delta's DeltaSource shape, re-expressed on the V1 `Source`
  * API so `getBatch` can return a declarative DataFrame and every
  * downstream layer — vectorized parquet reader, in-scan DV filter,
  * name-mapping projection — is the lake's existing batch machinery):
  *
  *  - INITIAL SNAPSHOT: with no checkpoint and no `startingVersion` /
  *    `startingTimestamp`, the stream first serves the table's live
  *    rows as of stream start (the snapshot's file list, deletion
  *    vectors applied), then tails commits after that version —
  *    Delta's default. Either starting option (mutually exclusive;
  *    the timestamp resolves through in-commit timestamps to the
  *    earliest commit at-or-after it) skips the snapshot and tails
  *    from there.
  *  - TAIL: each later version contributes exactly its committed ADD
  *    entries, in deterministic (version, path-sorted index) order.
  *    Offsets are `(version, index, snapshot)` — the position of the
  *    last consumed file — so replay after restart reconstructs any
  *    batch purely from the immutable log, and `maxFilesPerTrigger`
  *    paces backfills at file granularity.
  *  - NON-APPEND commits while tailing, the Delta option set:
  *    row-preserving rewrites (OPTIMIZE / ZORDER / REORG — the new
  *    `dataChange=false` log flag) are skipped silently; delete-only
  *    commits fail the stream unless `ignoreDeletes`; rewrite commits
  *    fail unless `ignoreChanges` (re-streams the rewritten files'
  *    live rows — documented duplicates) or `skipChangeCommits`
  *    (skips them entirely).
  *  - a schema/rename/tombstone change committed WHILE the stream runs
  *    fails the stream loudly ("restart to adopt the new schema") —
  *    the Delta non-additive rule; after restart the new source binds
  *    the current schema and the replay range reads old files under it
  *    (null-fill / frozen physical names make that well-defined).
  *
  * Scale shape at 100 TB: per micro-batch driver work is O(new
  * versions) log reads — no directory listing of data dirs, no
  * snapshot diffing; executors read only the new files. Retention
  * contract: the checkpoint's versions must outlive [[TxnLake.vacuum]]
  * retention, exactly as with Delta.
  */
private[graft] class TxnTableStream(spark: SparkSession, dir: String,
                                    options: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val opts = options.map { case (k, v) => k.toLowerCase -> v }
  require(!(opts.contains("startingversion") && opts.contains("startingtimestamp")),
    "startingVersion and startingTimestamp are mutually exclusive")
  /** Tail start: an explicit version, or a timestamp resolved to the
    * earliest commit whose IN-COMMIT timestamp is at or after it
    * (epoch millis — the same [[graft.streaming.CdcFeed
    * .firstVersionAtOrAfter]] resolution the CDF stream uses, one
    * history replay, no data files touched). Either form skips the
    * initial snapshot, Delta's table-stream contract for both. */
  private val startingVersion: Option[Long] = opts.get("startingversion").map(_.toLong)
    .orElse(opts.get("startingtimestamp").map(ts =>
      graft.streaming.CdcFeed.firstVersionAtOrAfter(spark, dir,
        graft.streaming.CdcFeed.parseStartingTimestamp(spark, ts))))
  private val maxFilesPerTrigger: Int =
    opts.get("maxfilespertrigger").map(_.toInt).filter(_ > 0).getOrElse(Int.MaxValue)
  /** Delta's soft byte cap: a batch stops ADDING files once its
    * accumulated manifest bytes (each entry's recorded `bytes`) pass
    * the cap, but always takes at least one file (a single oversized
    * file must still flow). */
  private val maxBytesPerTrigger: Long =
    opts.get("maxbytespertrigger").map(_.toLong).filter(_ > 0).getOrElse(Long.MaxValue)
  private val ignoreDeletes = opts.get("ignoredeletes").exists(_.toBoolean)
  private val ignoreChanges = opts.get("ignorechanges").exists(_.toBoolean)
  private val skipChangeCommits = opts.get("skipchangecommits").exists(_.toBoolean)

  private val fs = TxnLake.fsOf(spark, dir)
  /** The manifest this run binds to: schema, renames, and (when no
    * checkpoint/startingVersion exists) the initial-snapshot version. */
  private val sourceManifest: TxnLake.Manifest =
    TxnLake.resolve(fs, dir).getOrElse(throw new IllegalArgumentException(
      s"$dir is not a txn table (no _graft_log)"))
  override val schema: StructType = StructType(
    StructType.fromDDL(sourceManifest.schemaDdl).fields.map(f =>
      f.copy(name = sourceManifest.renames.getOrElse(f.name, f.name))))

  startingVersion.foreach { sv =>
    require(sv >= 0, s"startingVersion must be >= 0, got $sv")
  }

  // per-version caches: records are immutable once published
  private val addsCache = scala.collection.mutable.Map.empty[Long, Seq[TxnLake.FileEntry]]
  private val snapCache = scala.collection.mutable.Map.empty[Long, Seq[TxnLake.FileEntry]]
  private var lastOffered: Option[TxnTableStreamOffset] = None

  /** Trigger.AvailableNow (the FileStreamSource discipline): pin the
    * log head at prepare time so `maxFilesPerTrigger` still paces the
    * drain across MULTIPLE micro-batches, each checkpointed — without
    * this, Spark's generic wrapper would take one rate-limited
    * getOffset as "all available" and stop after a single batch. */
  private var headCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    headCap = Some(TxnLake.currentVersion(spark, dir))

  private def snapshotFiles(v: Long): Seq[TxnLake.FileEntry] =
    snapCache.getOrElseUpdate(v, TxnLake.resolveAt(fs, dir, v).files.sortBy(_.path))

  /** The add-entries version `v` contributes to the stream, after the
    * Delta non-append rules. Throws (failing the stream) on commits the
    * options don't allow past. */
  private def addsOf(v: Long): Seq[TxnLake.FileEntry] = addsCache.getOrElseUpdate(v, {
    val r = TxnLake.readRecord(fs, TxnLake.manifestPath(dir, v))
    def refuse(kind: String, fix: String): Nothing =
      throw new UnsupportedOperationException(
        s"streaming $dir hit a $kind at version $v; $fix (or restart from a " +
          "fresh checkpoint past it)")
    if (v > sourceManifest.version &&
        (r.schemaDdl != sourceManifest.schemaDdl ||
         r.renames != sourceManifest.renames ||
         r.tombstones != sourceManifest.tombstones))
      refuse("schema change", "restart the stream to adopt the new schema")
    if (!r.dataChange) Seq.empty // OPTIMIZE/ZORDER/REORG: rows unchanged
    else if (r.remove.isEmpty) r.add.sortBy(_.path)
    else if (r.add.isEmpty) {
      if (ignoreDeletes || skipChangeCommits) Seq.empty
      else refuse("delete-only commit", "set ignoreDeletes=true to keep streaming inserts")
    } else {
      if (skipChangeCommits) Seq.empty
      else if (ignoreChanges) r.add.sortBy(_.path) // documented duplicates
      else refuse("data-changing rewrite (UPDATE/DELETE/MERGE)",
        "set skipChangeCommits=true to skip it or ignoreChanges=true to re-stream " +
          "the rewritten files")
    }
  })

  /** Consume up to `maxFilesPerTrigger` tail files after position
    * (`lastV`, `lastI`) — last consumed add of `lastV`; -1 = nothing of
    * `lastV` yet. Versions contributing zero files (skipped commits)
    * are walked over without moving the offset; the emitted offset
    * always points at a version that actually contributed. None =
    * nothing new. */
  private def tailAdvance(lastV: Long, lastI: Long,
                          head: Long): Option[TxnTableStreamOffset] = {
    var fileBudget = maxFilesPerTrigger.toLong
    var byteBudget = maxBytesPerTrigger
    var posV = lastV
    var posI = lastI
    var moved = false
    var v = lastV
    while (v <= head && fileBudget > 0 && (byteBudget > 0 || !moved)) {
      val files = addsOf(v)
      var i = (if (v == lastV) lastI else -1L) + 1L
      while (i < files.size && fileBudget > 0 && (byteBudget > 0 || !moved)) {
        byteBudget -= files(i.toInt).bytes
        fileBudget -= 1
        posV = v
        posI = i
        moved = true
        i += 1
      }
      v += 1
    }
    if (moved) Some(TxnTableStreamOffset(posV, posI, snapshot = false)) else None
  }

  /** Files to take from `files` after index `fromIdx` under both caps
    * (snapshot-phase pacing; ≥1 when any remain — the soft-max rule). */
  private def takeUnderCaps(files: Seq[TxnLake.FileEntry], fromIdx: Long): Long = {
    var fileBudget = maxFilesPerTrigger.toLong
    var byteBudget = maxBytesPerTrigger
    var i = fromIdx + 1L
    var taken = 0L
    while (i < files.size && fileBudget > 0 && (byteBudget > 0 || taken == 0L)) {
      byteBudget -= files(i.toInt).bytes
      fileBudget -= 1
      taken += 1
      i += 1
    }
    taken
  }

  /** Walk forward from `from` along the indexed-file sequence, taking
    * at most `maxFilesPerTrigger` files; a batch never mixes the
    * snapshot phase with the tail phase. Returns `from` unchanged when
    * nothing new is available. */
  private def advance(from: Option[TxnTableStreamOffset]): Option[TxnTableStreamOffset] = {
    val head = headCap.getOrElse(TxnLake.currentVersion(spark, dir))
    from match {
      case None =>
        startingVersion match {
          case Some(sv) => if (sv > head) None else tailAdvance(sv, -1L, head)
          case None =>
            val snapV = sourceManifest.version
            val take = takeUnderCaps(snapshotFiles(snapV), -1L)
            // 0 files → index -1: "snapshot consumed, zero files" — the
            // offset still pins snapV into the checkpoint
            Some(TxnTableStreamOffset(snapV, take - 1, snapshot = true))
        }
      case Some(o) if o.snapshot =>
        val files = snapshotFiles(o.version)
        if (o.index < files.size - 1) {
          val take = takeUnderCaps(files, o.index)
          Some(TxnTableStreamOffset(o.version, o.index + take, snapshot = true))
        } else tailAdvance(o.version + 1, -1L, head).orElse(from)
      case Some(o) => tailAdvance(o.version, o.index, head).orElse(from)
    }
  }

  override def getOffset: Option[OffsetV1] = synchronized {
    val next = advance(lastOffered)
    lastOffered = next
    next
  }

  /** Admission-control twin of [[getOffset]] (the engine calls THIS
    * once a source advertises SupportsTriggerAvailableNow): same
    * pacing, `startOffset` seeds the position after a restart. The
    * ReadLimit is ignored — `maxFilesPerTrigger` is already folded
    * into [[advance]], and it is this source's only limit kind. */
  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = synchronized {
    if (lastOffered.isEmpty && startOffset != null)
      lastOffered = Some(TxnTableStreamOffset.of(startOffset))
    val next = advance(lastOffered)
    lastOffered = next
    next.orNull
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    if (maxFilesPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger)
  }

  /** The entries strictly after `start` up to and including `end`,
    * reconstructed deterministically from the immutable log — replay
    * after restart yields byte-identical batches. */
  private def entriesBetween(start: Option[TxnTableStreamOffset],
                             end: TxnTableStreamOffset): Seq[TxnLake.FileEntry] = {
    if (end.snapshot) {
      val files = snapshotFiles(end.version)
      val fromIdx = start.map(_.index).getOrElse(-1L)
      require(start.forall(s => s.snapshot && s.version == end.version),
        s"snapshot batch with a non-snapshot start: $start -> $end")
      files.slice(fromIdx.toInt + 1, end.index.toInt + 1)
    } else {
      val (firstV, firstI) = start match {
        case None => (startingVersion.getOrElse(
          throw new IllegalStateException(
            s"tail batch with no start offset and no startingVersion at $dir")), -1L)
        case Some(s) if s.snapshot => (s.version + 1, -1L)
        case Some(s) => (s.version, s.index)
      }
      (firstV to end.version).flatMap { v =>
        val adds = addsOf(v)
        val lo = if (v == firstV) firstI else -1L
        val hi = if (v == end.version) end.index else adds.size - 1L
        adds.slice(lo.toInt + 1, hi.toInt + 1)
      }
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endO = TxnTableStreamOffset.of(end)
    val startO = start.map(TxnTableStreamOffset.of)
    synchronized {
      // restart recovery: the engine replays the last uncommitted batch
      // before asking for new offsets — fold it into the pacing state
      if (lastOffered.forall(o => compare(o, endO) < 0)) lastOffered = Some(endO)
    }
    val entries = entriesBetween(startO, endO)
    val batch =
      if (entries.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else TxnLake.readEntries(spark, dir, sourceManifest, entries)
    org.apache.spark.sql.graft.StreamingFrameBridge.asStreaming(spark, batch)
  }

  private def compare(a: TxnTableStreamOffset, b: TxnTableStreamOffset): Int = {
    // snapshot phase precedes the tail phase
    val phase = java.lang.Boolean.compare(b.snapshot, a.snapshot)
    if (phase != 0) phase
    else if (a.version != b.version) java.lang.Long.compare(a.version, b.version)
    else java.lang.Long.compare(a.index, b.index)
  }

  override def commit(end: OffsetV1): Unit = () // the log is the truth
  override def stop(): Unit = ()
  override def toString: String = s"TxnTableStream[$dir]"
}

/** Stream position: the last consumed indexed file — `snapshot=true`
  * rows index the initial snapshot's path-sorted file list at
  * `version`; tail rows index the ADD list of `version`. `index = -1`
  * marks a phase entered with nothing consumed (empty snapshot). */
private[graft] case class TxnTableStreamOffset(version: Long, index: Long,
                                               snapshot: Boolean) extends OffsetV1 {
  override def json: String =
    s"""{"version":$version,"index":$index,"snapshot":$snapshot}"""
}

private[graft] object TxnTableStreamOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def of(o: org.apache.spark.sql.connector.read.streaming.Offset): TxnTableStreamOffset =
    o match {
      case t: TxnTableStreamOffset => t
      case other => parse(other.json())
    }

  def parse(j: String): TxnTableStreamOffset = {
    val n = mapper.readTree(j)
    TxnTableStreamOffset(n.get("version").asLong(), n.get("index").asLong(),
      n.get("snapshot").asBoolean())
  }
}
