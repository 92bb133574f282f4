package graft.lake

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import scala.collection.mutable

/** One staged file's statistics, gathered row by row as the writer
  * emits it. Partition values are kept as Catalyst internal values (the
  * driver renders them); bounds are in the cast-to-double unit the
  * pruners compare against; `words` are the bloom bits. */
private[lake] final class FileStats(nBounds: Int, bloomWords: Int) extends Serializable {
  var rows = 0L
  val parts = mutable.HashSet.empty[Any]
  val lo = new Array[Double](nBounds)
  val hi = new Array[Double](nBounds)
  val seen = new Array[Boolean](nBounds)
  val words: Array[Long] = if (bloomWords > 0) new Array[Long](bloomWords) else null

  def bounds(i: Int): Option[(Double, Double)] =
    if (seen(i)) Some((lo(i), hi(i))) else None
}

/** The staging write's statistics hook: [[TxnLake.stageFiles]] hands it
  * to the write, each task feeds it the rows it writes, and the driver
  * collects one [[FileStats]] per committed file keyed by
  * `<partition dir>/<file name>` — the part of the path the commit
  * protocol's move from task attempt to final location keeps.
  *
  * `dataSchema` is the written row's schema (the staged frame minus the
  * partition-token column). `boundCols` must be numeric or timestamp;
  * their min/max follow Spark's `min`/`max` over `cast(c as double)`
  * (NULLs ignored, NaN above every number), with -0.0 read as 0.0. */
private[lake] final class FileStatsTracker(dataSchema: StructType, partCol: String,
    boundCols: Seq[String], bloom: Option[(String, Int)]) extends WriteJobStatsTracker {
  import FileStatsTracker._

  private val partIdx = dataSchema.fieldIndex(partCol)
  private val partType = dataSchema(partCol).dataType
  private val boundIdx = boundCols.map(dataSchema.fieldIndex).toArray
  private val boundTypes = boundCols.map(dataSchema(_).dataType).toArray
  private val bloomIdx = bloom.map { case (c, _) =>
    require(dataSchema(c).dataType == StringType, s"bloom column '$c' must be STRING")
    dataSchema.fieldIndex(c)
  }.getOrElse(-1)
  private val bloomBits = bloom.map(_._2).getOrElse(0)

  @transient private var collected: Map[String, FileStats] = Map.empty

  /** The committed files' statistics (driver side, after the write). */
  def files: Map[String, FileStats] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val byPath = mutable.HashMap.empty[String, FileStats]
    private var curPath: String = _
    private var cur: FileStats = _

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = {
      cur = new FileStats(boundIdx.length, bloomBits / 64)
      curPath = filePath
      byPath(filePath) = cur
    }
    override def closeFile(filePath: String): Unit = ()
    override def newRow(filePath: String, row: InternalRow): Unit = {
      // concurrent output writers may interleave files within a task
      val s = if (filePath eq curPath) cur else byPath(filePath)
      s.rows += 1
      val pv = if (row.isNullAt(partIdx)) null else normalized(row.get(partIdx, partType))
      // the row's buffer is reused: copy a value only when it is new
      if (!s.parts.contains(pv)) s.parts += InternalRow.copyValue(pv)
      var i = 0
      while (i < boundIdx.length) {
        if (!row.isNullAt(boundIdx(i))) {
          val v = asDouble(row, boundIdx(i), boundTypes(i))
          if (!s.seen(i)) { s.lo(i) = v; s.hi(i) = v; s.seen(i) = true }
          else {
            if (java.lang.Double.compare(v, s.lo(i)) < 0) s.lo(i) = v
            if (java.lang.Double.compare(v, s.hi(i)) > 0) s.hi(i) = v
          }
        }
        i += 1
      }
      if (bloomIdx >= 0) {
        val v = if (row.isNullAt(bloomIdx)) null else row.getUTF8String(bloomIdx)
        TxnLake.bloomPositionsOf(v, bloomBits).foreach(p =>
          s.words(p / 64) |= 1L << (p % 64))
      }
    }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(byPath.iterator.map { case (p, s) => fileKey(p) -> s }.toMap)
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case TaskFiles(fs) => fs }.toMap
}

private[lake] object FileStatsTracker {
  final case class TaskFiles(files: Map[String, FileStats]) extends WriteTaskStats

  /** `df.write.partitionBy(partCol).parquet(path)` with `tracker` fed
    * every written row — Spark's file writer called directly, as Delta's
    * `TransactionalWrite` does, since the DataFrame writer takes no
    * stats trackers. Runs under its own SQL execution id, so SQL
    * listeners still see the write, and fails if `path` exists (the
    * `SaveMode.ErrorIfExists` check). */
  def writeParquet(spark: SparkSession, df: DataFrame, path: String, partCol: String,
                   options: Map[String, String], tracker: FileStatsTracker): Unit = {
    val session = spark.asInstanceOf[ClassicSession]
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val out = new Path(path)
    val fs = out.getFileSystem(hadoopConf)
    val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (fs.exists(qualified))
      throw new FileAlreadyExistsException(s"staging path $qualified already exists")
    val committer = FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = qualified.toString)
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graftStagingWrite")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified.toString, Map.empty, plan.output),
        hadoopConf, plan.output.filter(_.name == partCol), bucketSpec = None,
        Seq(tracker), options)
    }
  }

  /** `<partition dir>/<file name>` of a staged file's path. */
  def fileKey(path: String): String = {
    val p = new Path(path)
    s"${p.getParent.getName}/${p.getName}"
  }

  // grouping by a float column folds -0.0 into 0.0; so do the value
  // sets and bounds recorded here
  private def normalized(v: Any): Any = v match {
    case d: Double if d == 0.0d => 0.0d
    case f: Float if f == 0.0f => 0.0f
    case other => other
  }

  private def asDouble(row: InternalRow, i: Int, dt: DataType): Double = {
    val d = dt match {
      case ByteType => row.getByte(i).toDouble
      case ShortType => row.getShort(i).toDouble
      case IntegerType => row.getInt(i).toDouble
      case LongType => row.getLong(i).toDouble
      case FloatType => row.getFloat(i).toDouble
      case DoubleType => row.getDouble(i)
      case t: DecimalType => row.getDecimal(i, t.precision, t.scale).toDouble
      case TimestampType => row.getLong(i) / 1e6 // Spark's timestamp -> double cast
      case other => throw new IllegalArgumentException(s"no double bounds for $other")
    }
    if (d == 0.0d) 0.0d else d
  }
}
