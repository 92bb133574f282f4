package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.util.control.NonFatal

/** Batch ingest pipeline — the reference's `handleRequest` flow
  * (`CSVIngest.java:211-278`) as a Spark job:
  *
  *   raw zone (text) → [validate header vs manifest] → line massage
  *   (O3-O5) → processed zone (text), plus a *promoted* path the
  *   reference only gestures at (its manifest carries `type` and
  *   `partition_key` it never uses): proper CSV parse → typed cast per
  *   manifest → partitioned Parquet.
  *
  * Error channel (O11): exceptions are caught into [[IngestResult]], the
  * analog of the reference returning the failure message as its Lambda
  * result (`CSVIngest.java:270-277`) — except validation failures are
  * fatal here by default, where the reference computed the boolean and
  * ignored it (`CSVIngest.java:237`).
  *
  * Scale posture: the massage stage is a narrow (shuffle-free) pipeline of
  * codegen'd string expressions — at 100 TB it parallelizes by input
  * split with zero exchanges. Only the header peek (`limit(1)`) and the
  * final text/parquet write touch the driver, both O(1) in data size.
  */
object CsvIngestJob {

  sealed trait IngestResult
  final case class Ok(outputPath: String, rows: Long) extends IngestResult
  final case class Failed(error: String) extends IngestResult

  /** List the concrete data files behind an input path, in name order,
    * and read each one's first line (driver-side, metadata scale) —
    * header validation must check EVERY arriving file like the
    * reference's per-object invocation did; a distributed limit(1) would
    * check one arbitrary split. Like Spark's own listing, names starting
    * with `_` or `.` (`_SUCCESS`, checksums) are not data. */
  private def fileHeaders(spark: SparkSession, inPath: String): Seq[(String, Option[String])] = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath)
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .sortBy(_.getName).toSeq
      else Seq(p)
    // lazy: promote only needs the first header
    files.to(LazyList).map { f =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(f), "UTF-8"))
      try f.toString -> Option(in.readLine())
      finally in.close()
    }
  }

  /** Faithful line-level ingest: text in → massaged text out.
    *
    * @param singleFile coalesce output to one part, preserving the
    *   reference's one-object-in/one-object-out shape
    *   (`CSVIngest.java:265-269`). Leave false at scale — order of the
    *   processed zone is not semantically meaningful to the engine.
    */
  def massageFile(spark: SparkSession, inPath: String, outPath: String,
                  mode: IngestMode = IngestMode.Actual,
                  manifest: Option[SchemaManifest] = None,
                  strictValidation: Boolean = true,
                  singleFile: Boolean = false): IngestResult =
    try {
      val raw: Dataset[String] = spark.read.textFile(inPath)
      manifest.foreach { m =>
        val headers = fileHeaders(spark, inPath)
        if (headers.isEmpty || headers.forall(_._2.isEmpty))
          throw new SchemaValidationException(s"empty input: $inPath")
        headers.foreach { case (file, headerOpt) =>
          val header = headerOpt.getOrElse(
            throw new SchemaValidationException(s"empty file: $file"))
          val fields = SchemaValidator.headerFields(header)
          if (strictValidation) SchemaValidator.assertValid(fields, m)
          else if (!SchemaValidator.isValid(fields, m))
            spark.log.warn(s"advisory schema validation failed for $file")
        }
      }
      val massaged = raw.select(LineMassager.massage(col("value"), mode).as("value"))
      val out = if (singleFile) massaged.coalesce(1) else massaged
      out.write.mode(SaveMode.Overwrite).text(outPath)
      // count the WRITTEN output (one scan of the result) rather than
      // re-running the whole read+massage pipeline a second time
      Ok(outPath, spark.read.textFile(outPath).count())
    } catch {
      case e: SchemaValidationException => Failed(s"schema: ${e.getMessage}")
      case NonFatal(e)                  => Failed(e.toString)
    }

  /** Promoted ingest: parse the massaged (or raw) CSV with a real CSV
    * parser, cast every column to its manifest type, write Parquet
    * partitioned by the manifest's `partition_key` columns — the lake
    * layout the reference's schema format exists to feed (SURVEY §1.3).
    *
    * With `quarantineDir` set, rows whose non-string values fail their
    * typed cast are diverted there in raw string form (the
    * badRecordsPath-style error channel of SURVEY O11) instead of
    * silently landing as nulls. */
  def promote(spark: SparkSession, inPath: String, outPath: String,
              manifest: SchemaManifest,
              quarantineDir: Option[String] = None): IngestResult =
    try {
      val rawSchema = StructType(manifest.keys.map(StructField(_, StringType, nullable = true)))
      // the header is the first line of the first file; CSV `header=true`
      // would instead drop the first line of EVERY file, and every part of
      // a multi-part massaged zone but the first starts with data. So
      // lines equal to the header are dropped (as Spark's CSV parse of a
      // Dataset[String] does) — a driver-side read, no extra Spark job
      val header = fileHeaders(spark, inPath).flatMap(_._2).headOption
      val lines = spark.read.textFile(inPath)
      val parsed: DataFrame = spark.read
        .option("mode", "PERMISSIVE")
        .schema(rawSchema)
        .csv(header.fold(lines)(h => lines.filter(col("value") =!= h)))
      val good = quarantineDir match {
        // strict path: under ANSI a malformed value fails the job (-> Failed),
        // which is the right default when no quarantine is provided
        case None => parsed.select(manifest.fields.map(f =>
          col(f.key).cast(f.dataType).as(f.key)): _*)
        case Some(qd) =>
          val casts = manifest.fields.map(f => col(f.key).try_cast(f.dataType).as(f.key))
          // a row is bad iff some present value dies in its typed cast
          val badCond = manifest.fields
            .filter(_.dataType != StringType)
            .map(f => col(f.key).isNotNull && col(f.key).try_cast(f.dataType).isNull)
            .reduceOption(_ || _).getOrElse(lit(false))
          val flagged = parsed.withColumn("__bad", badCond)
          flagged.filter(col("__bad")).drop("__bad")
            .write.mode(SaveMode.Overwrite).parquet(qd)
          flagged.filter(!col("__bad")).drop("__bad").select(casts: _*)
      }
      val writer = good.write.mode(SaveMode.Overwrite)
      val pk = manifest.partitionColumns
      (if (pk.nonEmpty) writer.partitionBy(pk: _*) else writer).parquet(outPath)
      // parquet count is row-group-metadata only — no recompute, no scan
      Ok(outPath, spark.read.parquet(outPath).count())
    } catch {
      case e: SchemaValidationException => Failed(s"schema: ${e.getMessage}")
      case NonFatal(e)                  => Failed(e.toString)
    }

  private implicit class SparkLog(private val spark: SparkSession) extends AnyVal {
    def log = org.apache.logging.log4j.LogManager.getLogger("graft.ingest")
  }
}
