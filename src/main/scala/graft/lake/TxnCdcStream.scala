package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("graft-txn").option("readChangeFeed",
  * "true").load(dir)` — Delta CDF's streaming front door, served as a
  * first-class V1 `Source` over the commit-time change feed
  * (`_graft_cdc/v<version>` dirs, [[graft.streaming.CdcFeed]]'s
  * storage).
  *
  * Why a dedicated source when [[graft.streaming.CdcFeed.stream]]
  * already tails the feed as a checkpointed FILE stream: offsets here
  * are COMMIT VERSIONS, so every micro-batch carries whole commits —
  * the file source's batches can split one commit's change files
  * across triggers (`maxFilesPerTrigger` cuts mid-commit), which
  * forces downstream consumers to handle partial-commit batches. A
  * version-granular source makes "apply each commit's changes
  * atomically" the DEFAULT consumer contract, the shape incremental
  * view maintenance wants. `CdcFeed.stream` remains for file-paced
  * backfills.
  *
  * Options: `startingVersion` (changes of that commit and later) or
  * `startingTimestamp` (first commit whose in-commit timestamp is at
  * or after it — epoch millis), mutually exclusive, default = the
  * whole retained feed; `maxVersionsPerTrigger` paces backfills at
  * commit granularity. Offsets are plain version numbers, so restart
  * replay reconstructs batches purely from the immutable feed dirs.
  * Retention contract: checkpointed versions must outlive
  * [[TxnLake.vacuum]], as with Delta CDF. A batch holding entries
  * across a column rename from the version the stream's schema binds
  * fails ([[graft.streaming.CdcFeed.requireNoRenameBetween]]). */
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

  private val fs = TxnLake.fsOf(spark, dir)
  private val cdcRoot = new Path(dir, TxnLake.CdcDir)
  require(fs.exists(cdcRoot),
    s"$dir has no ${TxnLake.CdcDir} feed — create the table with " +
      "changeFeed = true (or use the plain table stream)")

  // the version whose column names `schema` binds: every batch's
  // entries must share them (the rename read barrier)
  private val schemaVersion: Long = TxnLake.currentVersion(spark, dir)
  override val schema: StructType = CdcFeed.schemaOf(spark, dir)

  private var lastOffered: Option[Long] = None
  private var headCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    headCap = Some(feedVersions().lastOption.getOrElse(-1L))

  /** Retained feed (version, dir name) pairs, ascending — one listing
    * of the cdc root (version-count scale, no data files touched).
    * Dir names come back verbatim (they are zero-padded, `v00000003`),
    * never rebuilt from the parsed number. */
  private def feedEntries(): Seq[(Long, String)] =
    fs.listStatus(cdcRoot).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit))
      .map(n => n.drop(1).toLong -> n).filter(_._1 >= startFrom).sortBy(_._1)

  private def feedVersions(): Seq[Long] = feedEntries().map(_._1)

  private def advance(from: Option[Long]): Option[Long] = {
    val avail = feedVersions()
    val capped = headCap.fold(avail)(h => avail.filter(_ <= h))
    val fresh = from.fold(capped)(f => capped.filter(_ > f))
    if (fresh.isEmpty) from
    else Some(fresh.take(
      math.min(fresh.size.toLong, maxVersionsPerTrigger).toInt).last)
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
    // whole commits between the offsets, reconstructed from the
    // immutable v-dirs — replay-identical after restart
    val entries = feedEntries().filter { case (v, _) => fromV.forall(v > _) && v <= endV }
    CdcFeed.requireNoRenameBetween(spark, dir, entries.map(_._1), schemaVersion)
    val dirs = entries.map { case (_, name) => s"$dir/${TxnLake.CdcDir}/$name" }
    val batch =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else CdcFeed.derive(
        spark.read.schema(schema).parquet(dirs: _*))
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
