package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Manifest-recorded FILE SIZES (the Delta per-file `size` field):
  * every staged entry carries the bytes the staging write produced, so
  * size questions — `DESCRIBE DETAIL`, the DV relation's plan-time
  * `sizeInBytes` — are LOG-ONLY, no per-file stat sweep. Staging
  * records them (FooterStatsSpec compares them with the file lengths
  * for every staging shape) and they must survive checkpoints; a log
  * entry without them is refused at read (TxnLogShapeSpec). */
class FileSizeStatsSpec extends AnyFunSuite with SparkTestSession {

  private def freshDir(): String =
    Files.createTempDirectory("graft_fsz").resolve("t").toString

  private def mk(dir: String, n: Int = 60): Unit = {
    import spark.implicits._
    TxnLake.create(spark, dir,
      (0 until n).map(i => (s"p${i % 3}", i.toLong, i * 1.0))
        .toDF("part", "id", "v"), "part", statsCol = Some("v"))
  }

  test("DESCRIBE DETAIL reports size_bytes from the log alone") {
    val dir = freshDir()
    mk(dir)
    val det = TxnLake.tableDetail(spark, dir).collect()(0)
    val expected = TxnLake.resolve(spark, dir).get.files.map(_.bytes).sum
    assert(det.getAs[Long]("size_bytes") === expected)
    // SQL surface agrees
    val viaSql = graft.plans.GraftSqlDml
      .exec(spark, s"DESCRIBE DETAIL graft_txn.`$dir`").collect()(0)
    assert(viaSql.getAs[Long]("size_bytes") === expected)
  }

  test("bytes survive checkpoints and version chains") {
    import spark.implicits._
    val dir = freshDir()
    spark.conf.set("spark.graft.txnlake.checkpointInterval", "3")
    try {
      mk(dir, 30)
      (1 to 6).foreach { k =>
        TxnLake.append(spark, dir,
          Seq((s"p${k % 3}", 1000L + k, k * 1.0)).toDF("part", "id", "v"))
      }
      val m = TxnLake.resolve(spark, dir).get
      assert(m.files.forall(_.bytes > 0L),
        "checkpoint round-trip must preserve every entry's bytes")
    } finally spark.conf.unset("spark.graft.txnlake.checkpointInterval")
  }

  test("DV-path relation sizes from the manifest without listing") {
    val dir = freshDir()
    mk(dir)
    TxnLake.deleteWhere(spark, dir, col("id") === 0L)
    val df = spark.read.format("graft-txn").load(dir)
    val rel = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.head.relation
    assert(rel.isInstanceOf[TxnDvRelation])
    val expected = TxnLake.resolve(spark, dir).get.files.map(_.bytes).sum
    assert(rel.sizeInBytes === expected,
      "the estimate must be the manifest sum")
  }

  test("byte-targeted OPTIMIZE packs to spark.graft.txnlake.targetFileBytes") {
    import spark.implicits._
    val dir = freshDir()
    // one partition fragmented across 4 commits with fat string payloads
    def batch(k: Int) = (0 until 2000)
      .map(i => ("p0", k * 10000L + i, "x" * 64)).toDF("part", "id", "pad")
    TxnLake.create(spark, dir, batch(0), "part", statsCol = Some("id"))
    (1 to 3).foreach(k => TxnLake.append(spark, dir, batch(k)))
    val totalBytes = TxnLake.resolve(spark, dir).get.files.map(_.bytes).sum
    val target = totalBytes / 6
    spark.conf.set("spark.graft.txnlake.targetFileBytes", target.toString)
    try {
      val st = TxnLake.optimize(spark, dir)
      assert(st.filesAfter > 1,
        s"a target of total/6 must split the compaction output, got ${st.filesAfter}")
      val m = TxnLake.resolve(spark, dir).get
      // packed files land near the target (parquet framing gives slack)
      m.files.map(_.bytes).foreach(b =>
        assert(b <= target * 3,
          s"packed file $b bytes overshoots the $target target beyond framing slack"))
      assert(TxnLake.read(spark, dir).count() === 8000L)
    } finally spark.conf.unset("spark.graft.txnlake.targetFileBytes")
  }
}
