package graft.lake

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.util.QueryExecutionListener

/** What the scans of a lake table open — the file-skipping assertions
  * of the specs that cannot see a `FileSourceScanExec` in the frame
  * they hold: a DML statement's internal scan, and the scan
  * [[TxnDvRelation]] builds beneath its relation scan. */
object LakeScans {

  /** The file scans in `p`, through adaptive plans, query stages and
    * subqueries. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  /** Files the scans over the table at `dir` opened (their `numFiles`)
    * in every query `body` ran. A marker query follows the body; the
    * listener bus delivers query ends in order, so once the marker's
    * has arrived every earlier one has too. */
  def filesScannedBy(spark: SparkSession, dir: String)(body: => Unit): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val opened = new java.util.concurrent.atomic.AtomicLong()
    val marker = spark.range(1)
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq marker.queryExecution) markerSeen = true
        else fileScans(qe.executedPlan)
          .filter(_.relation.location.rootPaths.contains(root))
          .foreach(s => opened.addAndGet(s.metrics("numFiles").value))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      marker.collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "the marker query's end never reached the listener")
      opened.get()
    } finally spark.listenerManager.unregister(listener)
  }

  /** The data files (table-relative paths) the scans that
    * `TxnDvRelation.buildScan` built for `df` open: the file partitions
    * of the parquet scan under each relation scan's RDD. */
  def dvScanFiles(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: RowDataSourceScanExec if s.relation.isInstanceOf[TxnDvRelation] => s
    }
    assert(scans.nonEmpty, s"expected a TxnDvRelation scan in the plan:\n$plan")
    def files(rdd: RDD[_]): Seq[String] = rdd match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(_.toPath.toString))
      case other => other.dependencies.flatMap(d => files(d.rdd))
    }
    val root = new org.apache.hadoop.fs.Path(scans.head.relation
      .asInstanceOf[TxnDvRelation].dir).toUri.getPath
    scans.flatMap(s => files(s.rdd)).map { p =>
      val abs = new org.apache.hadoop.fs.Path(p).toUri.getPath
      abs.stripPrefix(root).stripPrefix("/")
    }.toSet
  }
}
