package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("graft-txn").option("readChangeFeed",
  * "true").load(dir)` — Delta CDF's streaming front door and the one
  * stream reader of the commit-time change feed (the `_graft_cdc/c<id>`
  * entries the log records name, [[graft.streaming.CdcFeed]]'s
  * storage), served as a first-class V1 `Source`.
  *
  * Offsets are COMMIT VERSIONS, so every micro-batch carries whole
  * commits: "apply each commit's changes atomically" is the DEFAULT
  * consumer contract, the shape incremental view maintenance wants,
  * and no batch splits one commit's change files.
  *
  * Options: `startingVersion` (changes of that commit and later) or
  * `startingTimestamp` (first commit whose in-commit timestamp is at
  * or after it — epoch millis), mutually exclusive, default = the
  * whole retained feed; `maxVersionsPerTrigger` paces backfills at
  * commit granularity. Offsets are plain version numbers, so restart
  * replay reconstructs batches purely from the log and its immutable
  * entries. Retention contract: checkpointed versions must outlive
  * [[TxnLake.vacuum]], as with Delta CDF. A batch holding entries
  * across a column rename from the version the stream's schema binds
  * fails ([[graft.streaming.CdcFeed.requireNoRenameBetween]]), a
  * rename committed while the stream runs included. */
private[graft] class TxnCdcStream(spark: SparkSession, dir: String,
                                  options: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import graft.streaming.CdcFeed

  private val opts = options.map { case (k, v) => k.toLowerCase -> v }
  require(!(opts.contains("startingversion") && opts.contains("startingtimestamp")),
    "startingVersion and startingTimestamp are mutually exclusive")
  private val startFrom: Long = opts.get("startingversion").map(_.toLong)
    .orElse(opts.get("startingtimestamp").map(ts =>
      CdcFeed.firstVersionAtOrAfter(spark, dir,
        CdcFeed.parseStartingTimestamp(spark, ts))))
    .getOrElse(0L)
  private val maxVersionsPerTrigger: Long =
    opts.get("maxversionspertrigger").map(_.toLong).filter(_ > 0)
      .getOrElse(Long.MaxValue)

  // the version whose column names `schema` binds: every batch's
  // entries must share them (the rename read barrier)
  private val schemaVersion: Long = TxnLake.currentVersion(spark, dir)
  override val schema: StructType = CdcFeed.schemaOf(spark, dir)

  private var lastOffered: Option[Long] = None
  private var headCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    headCap = Some(entryVersions(None).lastOption.getOrElse(-1L))

  /** The first version a stream positioned at `after` has not read. */
  private def firstAfter(after: Option[Long]): Long =
    after.fold(startFrom)(v => math.max(startFrom, v + 1))

  /** Versions after `after` whose commits staged a feed entry,
    * ascending — read through the log ([[TxnLake.feedLog]]). */
  private def entryVersions(after: Option[Long]): Seq[Long] =
    TxnLake.feedLog(spark, dir, firstAfter(after))
      .collect { case e if e.entry.isDefined => e.version }

  private def advance(from: Option[Long]): Option[Long] = {
    val avail = entryVersions(from)
    val capped = headCap.fold(avail)(h => avail.filter(_ <= h))
    if (capped.isEmpty) from
    else Some(capped.take(
      math.min(capped.size.toLong, maxVersionsPerTrigger).toInt).last)
  }

  override def getOffset: Option[OffsetV1] = synchronized {
    val next = advance(lastOffered)
    lastOffered = next
    next.map(TxnCdcStreamOffset(_))
  }

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = synchronized {
    if (lastOffered.isEmpty && startOffset != null)
      lastOffered = Some(TxnCdcStreamOffset.of(startOffset).version)
    val next = advance(lastOffered)
    lastOffered = next
    next.map(TxnCdcStreamOffset(_)).orNull
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = TxnCdcStreamOffset.of(end).version
    val fromV = start.map(TxnCdcStreamOffset.of(_).version)
    synchronized {
      if (lastOffered.forall(_ < endV)) lastOffered = Some(endV)
    }
    // whole commits between the offsets, reconstructed from the log
    // and its immutable entries — replay-identical after restart. The
    // log read spans the schema's version too, for the rename barrier
    val lo = firstAfter(fromV)
    val log = TxnLake.feedLog(spark, dir, math.min(lo, schemaVersion),
      math.max(endV, schemaVersion))
    val entries = log.filter(e => e.version >= lo && e.version <= endV && e.entry.isDefined)
    CdcFeed.requireNoRenameBetween(dir, log, entries, schemaVersion)
    val batch = CdcFeed.readFeed(spark, dir, entries, schema)
    org.apache.spark.sql.graft.StreamingFrameBridge.asStreaming(spark, batch)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxnCdcStream[$dir]"
}

/** Feed position: the newest fully-consumed commit version. */
private[graft] case class TxnCdcStreamOffset(version: Long) extends OffsetV1 {
  override def json: String = s"""{"version":$version}"""
}

private[graft] object TxnCdcStreamOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def of(o: org.apache.spark.sql.connector.read.streaming.Offset): TxnCdcStreamOffset =
    o match {
      case t: TxnCdcStreamOffset => t
      case other =>
        TxnCdcStreamOffset(mapper.readTree(other.json()).get("version").asLong())
    }
}
