package graft.perfbench

import graft.ingest.{CsvIngestJob, IngestMode, SchemaManifest}
import graft.lake.TxnLake
import graft.streaming.CdcFeed
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._

import scala.collection.mutable

/** One workload: builds its initial state, runs one op at a time, and
  * after the timed phase writes what the correctness checks need. */
trait Workload {
  /** Builds inputs the set-up opens; runs once, before the set-ups. */
  def prepare(): Unit = ()
  /** Builds or opens the state the ops run on, in a fresh place per `i`
    * (a new table, or a copy no earlier call has opened); the op loop
    * uses the last one. */
  def setup(i: Int): Unit
  def run(op: JValue, rec: OpRec): Unit
  /** Writes the check inputs under `out`; returns extra run facts. */
  def finish(out: String): Map[String, Any]
}

object Workload {
  def str(op: JValue, k: String): String = (op \ k).asInstanceOf[JString].s
  def bool(op: JValue, k: String): Boolean = (op \ k).asInstanceOf[JBool].value
  def long(op: JValue, k: String): Long = (op \ k) match {
    case JInt(v) => v.toLong
    case JLong(v) => v
    case other => throw new IllegalArgumentException(s"$k is not an integer: $other")
  }

  /** Plans, then collects, `df` under separate spans; the answer rows
    * and the data scans' SQL metrics (deletion-vector scans left out) go
    * into `rec`. */
  def collect(t: Tracer, kind: String, df: DataFrame, rec: OpRec): Array[Row] = {
    t.span("query", s"plan.$kind")(df.queryExecution.executedPlan)
    val rows = t.span("query", s"exec.$kind")(df.collect())
    val scans = fileScans(df.queryExecution.executedPlan).filterNot(
      _.relation.location.rootPaths.exists(_.toString.contains(graft.lake.LakeCounters.DvDir)))
    def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
    rec.extra("scan_files") = metric("numFiles")
    rec.extra("scan_rows") = metric("numOutputRows")
    rec.extra("result_rows") = rows.length
    rows
  }

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
  }

  /** Copies a directory tree byte for byte, modification times included. */
  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (java.nio.file.Paths.get(from), java.nio.file.Paths.get(to))
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def fileCount(spark: SparkSession, dir: String, version: Long): Long =
    TxnLake.detail(spark, dir, version).select("path").distinct().count()

  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }
}

/** Ingest and every commit kind against a landmarks table (partitioned by
  * BOROUGH, CDC on, stats on OBJECTID, bloom filter on LP_NUMBER) and an
  * events table fed by idempotent micro-batch appends. */
final class LakeWrite(spark: SparkSession, plan: JValue, work: String, t: Tracer) extends Workload {
  import Workload._
  private val manifest = SchemaManifest.parse(
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(str(plan, "manifest"))), "UTF-8"))
  private var landmarks = ""
  private var events = ""
  private var staged = 0

  /** massageFile → promote; returns the promoted parquet path and its
    * row count. */
  private def ingest(csv: String, singleFile: Boolean): (String, Long) = {
    staged += 1
    val massaged = s"$work/stage/m$staged"
    val promoted = s"$work/stage/p$staged"
    t.span("ingest", "massageFile")(CsvIngestJob.massageFile(spark, csv, massaged,
      IngestMode.NormalizeWkt, Some(manifest), singleFile = singleFile)) match {
      case CsvIngestJob.Failed(e) => throw new IllegalStateException(s"massageFile: $e")
      case _ => ()
    }
    t.span("ingest", "promote")(CsvIngestJob.promote(spark, massaged, promoted, manifest)) match {
      case CsvIngestJob.Failed(e) => throw new IllegalStateException(s"promote: $e")
      case CsvIngestJob.Ok(_, rows) => (promoted, rows)
    }
  }

  /** Both tables, empty, with their layout and properties. */
  def setup(i: Int): Unit = {
    landmarks = s"$work/lake/w$i/landmarks"
    events = s"$work/lake/w$i/events"
    def empty(schema: StructType) =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    TxnLake.create(spark, landmarks, empty(manifest.toStructType), "BOROUGH",
      statsCol = Some("OBJECTID"), changeFeed = true, bloomCol = Some("LP_NUMBER"))
    TxnLake.create(spark, events, empty(spark.read.parquet(str(plan, "events_schema")).schema),
      "event_type")
  }

  def run(op: JValue, rec: OpRec): Unit = {
    val kind = str(op, "kind")
    val key = col("OBJECTID")
    lazy val inRange = col("BOROUGH") === str(op, "borough") && key.between(long(op, "lo"), long(op, "hi"))
    kind match {
      case "ingest" =>
        val (promoted, landed) = ingest(str(op, "csv"), bool(op, "single_file"))
        rec.extra("landed_rows") = landed
        t.span("lake.commit", "append")(TxnLake.append(spark, landmarks, spark.read.parquet(promoted)))
      case "append" =>
        rec.extra("committed") = t.span("lake.commit", "appendOnce")(TxnLake.appendOnce(
          spark, events, spark.read.parquet(str(op, "batch")), str(op, "app"), long(op, "batch_id")))
      case "merge" =>
        t.span("lake.commit", "upsert")(TxnLake.upsert(spark, landmarks,
          spark.read.parquet(str(op, "src")), "OBJECTID"))
      case "update" =>
        rec.extra("rows") = t.span("lake.commit", "updateWhere")(TxnLake.updateWhere(
          spark, landmarks, inRange, Map("STATUS_OF_" -> lit(str(op, "status")))))
      case "delete" =>
        rec.extra("rows") = t.span("lake.commit", "deleteWhere")(
          TxnLake.deleteWhere(spark, landmarks, inRange))
      case "optimize" =>
        t.span("lake.commit", "optimize")(TxnLake.optimize(spark, landmarks,
          where = Some(col("BOROUGH") === str(op, "borough"))))
    }
    rec.extra("table") = if (kind == "append") "events" else "landmarks"
  }

  /** After each op (outside its timing): the version it left and whether
    * that version carries a checkpoint. */
  def versionOf(rec: OpRec): Unit = {
    val dir = if (rec.kind == "append") events else landmarks
    val v = TxnLake.currentVersion(spark, dir)
    rec.extra("version") = v
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    rec.extra("checkpoint") = fs.exists(new Path(dir, f"_graft_log/v$v%08d.ckpt.json"))
  }

  def finish(out: String): Map[String, Any] = {
    val tables = Seq("landmarks" -> landmarks, "events" -> events)
    tables.foreach { case (n, d) => TxnLake.read(spark, d).write.parquet(s"$out/final/$n") }
    Map(
      "tables" -> tables.toMap,
      "row_count" -> tables.map { case (n, d) => n -> TxnLake.rowCount(spark, d).getOrElse(-1L) }.toMap,
      "table_bytes" -> tables.map { case (n, d) => n -> dirBytes(spark, d) }.toMap,
      "plain_bytes" -> tables.map { case (n, _) => n -> dirBytes(spark, s"$out/final/$n") }.toMap)
  }
}

/** Reads of one lineitem-shaped table with checkpoints, a log tail,
  * deletion vectors and a CDC feed; nothing writes during the loop. */
final class LakeRead(spark: SparkSession, plan: JValue, work: String, t: Tracer) extends Workload {
  import Workload._
  private var dir = ""
  /** Version left by each history step (step 0 = create). */
  private var versions = IndexedSeq.empty[Long]
  private val answers = mutable.ArrayBuffer.empty[(Int, Array[Row])]

  spark.conf.set("spark.graft.txnlake.checkpointInterval", long(plan, "checkpoint_interval"))

  /** The table and its history: an input of this workload, built once,
    * then copied once per set-up. TxnLake's snapshot caches are keyed by
    * the table's path, so each set-up opens a table no earlier call has
    * read. */
  override def prepare(): Unit = {
    val source = s"$work/lake/lineitem"
    TxnLake.create(spark, source, spark.read.parquet(str(plan, "base")), "l_linenumber",
      statsCol = Some("l_orderkey"), changeFeed = true)
    val vs = mutable.ArrayBuffer(TxnLake.currentVersion(spark, source))
    (plan \ "history").children.foreach { h =>
      str(h, "kind") match {
        case "append" => TxnLake.append(spark, source, spark.read.parquet(str(h, "src")))
        case "delete" => TxnLake.deleteWhere(spark, source, col("l_orderkey").between(long(h, "lo"), long(h, "hi")))
        case "merge" => TxnLake.upsert(spark, source, spark.read.parquet(str(h, "src")), "l_id")
      }
      vs += TxnLake.currentVersion(spark, source)
    }
    versions = vs.toIndexedSeq
    (0 until Main.SetupRepeats).foreach(i => copyTree(source, s"$work/lake/lineitem-$i"))
  }

  /** Opens copy `i` of the table: resolves its head snapshot and the
    * feed's schema. The ops run on the last copy opened. */
  def setup(i: Int): Unit = {
    dir = s"$work/lake/lineitem-$i"
    TxnLake.read(spark, dir)
    CdcFeed.schemaOf(spark, dir)
  }

  private def totals(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"), sum("l_orderkey").as("keys"))

  def run(op: JValue, rec: OpRec): Unit = {
    val kind = str(op, "kind")
    def head = t.span("lake.read", "read")(TxnLake.read(spark, dir))
    val df = kind match {
      case "lookup" =>
        head.filter(col("l_orderkey") === long(op, "key"))
          .select("l_id", "l_linenumber", "l_quantity").orderBy("l_id")
      case "prune" =>
        totals(head.filter(col("l_linenumber") === long(op, "part") &&
          col("l_orderkey").between(long(op, "lo"), long(op, "hi"))))
      case "scan" =>
        head.groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
          .orderBy("l_returnflag", "l_linestatus")
      case "timetravel" =>
        val v = versions(long(op, "step").toInt)
        rec.extra("version") = v
        totals(t.span("lake.read", "readVersion")(TxnLake.readVersion(spark, dir, v)))
      case "cdc" =>
        val (from, to) = (versions(long(op, "from_step").toInt), versions(long(op, "to_step").toInt))
        t.span("streaming", "CdcFeed.batch")(CdcFeed.batch(spark, dir, from))
          .filter(col(TxnLake.VersionCol) <= to)
          .groupBy(TxnLake.VersionCol, TxnLake.ChangeTypeCol)
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
          .orderBy(TxnLake.VersionCol, TxnLake.ChangeTypeCol)
    }
    answers += rec.i -> collect(t, kind, df, rec)
  }

  def finish(out: String): Map[String, Any] = {
    val w = new java.io.PrintWriter(s"$out/answers.jsonl", "UTF-8")
    try answers.foreach { case (i, rows) => w.println(J(Map("i" -> i, "rows" -> rows))) }
    finally w.close()
    Map("versions" -> versions,
      "files_per_version" -> versions.map(v => fileCount(spark, dir, v)))
  }
}

/** Lake reads and graft's analytics queries, interleaved; nothing writes
  * during the loop. */
final class Read(spark: SparkSession, plan: JValue, work: String, t: Tracer) extends Workload {
  private val lake = new LakeRead(spark, plan, work, t)
  private val queries = new Analytics(spark, plan, t)

  override def prepare(): Unit = lake.prepare()

  def setup(i: Int): Unit = {
    lake.setup(i)
    queries.setup(i)
  }

  def run(op: JValue, rec: OpRec): Unit =
    if (rec.kind == "query") queries.run(op, rec) else lake.run(op, rec)

  def finish(out: String): Map[String, Any] = lake.finish(out) ++ queries.finish(out)
}

/** graft's registered queries over the generated tables, one query per
  * op; the full result is collected. */
final class Analytics(spark: SparkSession, plan: JValue, t: Tracer) extends Workload {
  import Workload._
  private val tables = str(plan, "tables")
  private val queries = graft.SparkEntry.queries
  /** Distinct results per query, in first-seen order. */
  private val results = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Array[Row], StructType)]]

  /** Opens every table: lists it and reads its footers. */
  def setup(i: Int): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(n => spark.read.parquet(s"$tables/$n.parquet"))

  def run(op: JValue, rec: OpRec): Unit = {
    val name = str(op, "name")
    rec.extra("query") = name
    val df = t.span("analytics", "build")(queries(name)(spark, tables))
    val rows = collect(t, name.takeWhile(_.isLetter), df, rec)
    val seen = results.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
    val k = seen.indexWhere(_._1.sameElements(rows))
    rec.extra("result") = if (k >= 0) k else { seen += rows -> df.schema; seen.size - 1 }
  }

  def finish(out: String): Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      J(results.keys.map(n => n -> oracle.getOrElse(n, null)).toMap))
    for ((name, rs) <- results; ((rows, schema), k) <- rs.zipWithIndex)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$out/results/$name/$k")
    Map.empty
  }
}
