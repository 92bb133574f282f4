package graft.lake

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Staging is the write and nothing else: file statistics ride the
  * write's own tasks, so `stageFiles` launches exactly one Spark job for
  * a driver-local input of every [[StatsShapes]] shape — bloom columns,
  * NaN floats and commits of more than 64 files included — and a
  * shuffled input costs exactly the jobs of the plain partitioned write. */
class StageJobCountSpec extends AnyFunSuite with SparkTestSession {
  import StatsShapes._

  private val TagKey = "graft.spec.jobTag"

  /** Spark jobs `body` starts on this thread. A marker job follows the
    * body; the listener bus delivers events in order, so once the
    * marker's start has arrived every earlier job start has too. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"stage-${java.util.UUID.randomUUID()}"
    val marker = s"$tag-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def tagged(t: String)(f: => Unit): Unit = {
        sc.setLocalProperty(TagKey, t)
        try f finally sc.setLocalProperty(TagKey, null)
      }
      tagged(tag)(body)
      tagged(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "the marker job's start never reached the listener")
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft_stagejobs").resolve("t").toString

  /** Stage `shape` once more into a table created from it (the table
    * supplies the stats-columns property) and return the job count. */
  private def stagingJobs(shape: Shape): Int = withConf(spark, shape.conf) {
    val dir = freshDir()
    shape.create(spark, dir)
    val df = shape.data(spark)
    var staged = Seq.empty[TxnLake.FileEntry]
    val jobs = jobsOf {
      staged = TxnLake.stageFiles(spark, dir, df, shape.partCol, 4, shape.statsCol,
        shape.bloomCol, shape.bloomBits)
    }
    assert(staged.nonEmpty)
    jobs
  }

  localShapes.foreach { shape =>
    test(s"${shape.name}: stageFiles launches exactly one job") {
      assert(stagingJobs(shape) === 1)
    }
  }

  test("distributed input: stageFiles launches the jobs of the plain partitioned write") {
    val plain = jobsOf {
      distributed.data(spark)
        .withColumn("__txn_pk", hex(xxhash64(col(distributed.partCol).cast("string"))))
        .repartition(4, col(distributed.partCol))
        .write.partitionBy("__txn_pk").parquet(freshDir())
    }
    assert(stagingJobs(distributed) === plain)
  }
}
