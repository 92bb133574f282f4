package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (per-suite sessions
  * cost ~10s each). */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.lake.TxnCboStats.install(s)
    graft.lake.GeneratedPartitionPruning.install(s)
    s
  }
}

trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.get
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Run `f` against a session built WITH GraftExtensions (the
    * injectParser path), restoring the shared session afterwards —
    * the one helper the SQL-surface specs share. */
  def withExtendedSession[A](f: SparkSession => A): A = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extended = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      f(extended)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** Execute `df` and sum `numFiles` over its file scans — the shared
    * planning-time file-skipping assertion (the lake specs' common
    * helper; was six private copies). Fails loudly when the plan has
    * NO file scan at all, so a future source/plan migration can't
    * silently return 0 and make every `pruned < total` assertion
    * vacuously true. */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"expected a FileSourceScanExec in the plan:\n$plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  /** Spark jobs `body` starts on this thread. A marker job follows the
    * body; the listener bus delivers events in order, so once the
    * marker's start has arrived every earlier job start has too. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tagKey = "graft.spec.jobTag"
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$tag-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tagKey))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def tagged(t: String)(f: => Unit): Unit = {
        sc.setLocalProperty(tagKey, t)
        try f finally sc.setLocalProperty(tagKey, null)
      }
      tagged(tag)(body)
      tagged(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "the marker job's start never reached the listener")
      seen.toArray.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }
}
