package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Staging is the write and nothing else: file statistics ride the
  * write's own tasks, so `stageFiles` launches exactly one Spark job for
  * a driver-local input of every [[StatsShapes]] shape — bloom columns,
  * NaN floats and commits of more than 64 files included — and a
  * shuffled input costs exactly the jobs of the plain partitioned write. */
class StageJobCountSpec extends AnyFunSuite with SparkTestSession {
  import StatsShapes._

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
