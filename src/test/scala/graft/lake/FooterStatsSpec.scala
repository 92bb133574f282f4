package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Commit file statistics have one source: the staging write's
  * [[FileStatsTracker]]. For every input shape ([[StatsShapes]]) the
  * manifest the table resolves to must equal, field for field, the
  * reference recomputed from the staged files themselves — partition
  * values, zone maps, stats-column bounds, rows, bytes, partition spec
  * and the bloom strings byte for byte. */
class FooterStatsSpec extends AnyFunSuite with SparkTestSession {
  import StatsShapes._

  private def freshDir(): String =
    Files.createTempDirectory("graft_footerstats").resolve("t").toString

  private def assertMatchesReference(dir: String, shape: Shape): Seq[TxnLake.FileEntry] = {
    val entries = TxnLake.resolve(spark, dir).get.files
    assert(entries.nonEmpty)
    assert(entries.map(fields).sortBy(_._1) ===
      reference(spark, dir, shape, entries).sortBy(_._1))
    assert(bloomsAdmitTheirValues(spark, dir, shape, entries))
    entries
  }

  /** Create a table from `shape` (plus `appends` appended commits) and
    * compare its manifest with the reference. */
  private def check(shape: Shape, appends: Int = 0): Seq[TxnLake.FileEntry] =
    withConf(spark, shape.conf) {
      val dir = freshDir()
      shape.create(spark, dir)
      (1 to appends).foreach(_ => TxnLake.append(spark, dir, shape.data(spark)))
      assertMatchesReference(dir, shape)
    }

  test("numeric stats + string partition: identical manifests") {
    check(numeric, appends = 1)
  }

  test("long partition column and negative/zero doubles: identical manifests") {
    check(longPart)
  }

  test("multi-column stats (setStatsColumns): identical manifests") {
    val entries = check(multiColumn, appends = 1)
    assert(entries.forall(_.stats.contains("qty")))
  }

  test("nullable stats column incl. an all-null file: identical manifests") {
    // p1 rows carry only null v -> that file must record NO bounds
    assert(check(nullStats).exists(f => f.zmin.isEmpty && f.zmax.isEmpty),
      "an all-null stats column must yield a bounds-free entry")
  }

  test("decimal stats column: identical manifests") {
    check(decimal)
  }

  test("INT96 timestamp stats column: identical manifests") {
    assert(check(int96).forall(f => f.zmin.isDefined && f.zmax.isDefined),
      "INT96 timestamps must still record bounds")
  }

  test("null partition values: identical manifests") {
    assert(check(nullPartition).exists(_.parts.contains(None)))
  }

  test("bloom-tracked table: bloom strings equal the reference byte for byte") {
    assert(check(bloom, appends = 1).forall(_.bloom.isDefined))
  }

  test("NaN floats in partition and stats values: identical manifests") {
    val dir = freshDir()
    nanFloats.create(spark, dir)
    val entries = assertMatchesReference(dir, nanFloats)
    assert(entries.exists(_.parts == Set(Some("NaN"))))
    assert(entries.exists(_.parts == Set(Some("0.0"))), "-0.0 records as 0.0")
    assert(entries.exists(_.zmin.exists(_.isNaN)), "an all-NaN file's bounds are NaN")
    // a NaN bound keeps its file: range reads equal a plain filter
    val lake = spark.read.format("graft-txn").load(dir)
    val plain = spark.read.parquet(entries.map(_.locate(dir)): _*)
    for (p <- Seq(col("v") >= 0.5 && col("v") <= 20.0, col("v") >= 50.0))
      assert(lake.filter(p).count() === plain.filter(p).count(), p.toString)
    assert(TxnLake.readRange(spark, dir, 0.5, 20.0).count() ===
      plain.filter(col("v").cast("double").between(0.5, 20.0)).count())
  }

  test("forced token collision: one file records both partition values") {
    assert(check(collision).exists(_.parts.size == 2),
      "the fall-back instants share a token, so one file holds both")
  }

  test("NULL bloom values: identical manifests") {
    check(nullBloom)
  }

  test("a commit of more than 64 files: identical manifests") {
    assert(check(manyFiles).size === 70)
  }

  test("maxRecordsPerFile splits: every split file carries its own stats") {
    assert(check(maxRecords).size === 6)
  }

  test("distributed (shuffled) staging: identical manifests") {
    check(distributed, appends = 1)
  }

  test("zone-map pruning still fires on write-time bounds") {
    import spark.implicits._
    val dir = freshDir()
    def batch(base: Double) =
      (0 until 20).map(i => (s"p${i % 2}", base.toLong + i, base + i)).toDF("part", "id", "v")
    TxnLake.create(spark, dir, batch(0.0), "part", statsCol = Some("v"))
    TxnLake.append(spark, dir, batch(1000.0))
    TxnLake.append(spark, dir, batch(2000.0))
    val m = TxnLake.resolve(spark, dir).get
    assert(m.files.forall(f => f.zmin.isDefined && f.rows > 0))
    val hit = spark.read.format("graft-txn").load(dir).filter(col("v") >= 2000.0)
    assert(scannedFiles(hit) === 2L, "only the last commit's two files hold v >= 2000")
    assert(hit.count() === 20)
    assert(TxnLake.rowCount(spark, dir) === Some(60L),
      "metadata-only COUNT(*) rides the recorded per-file row counts")
  }
}
