package graft.lake

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `vacuumDryRun` and `vacuum` share one selection: what the dry run
  * reports is exactly what the sweep then removes, abandoned stages
  * included. */
class VacuumSelectionSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  /** Every regular file below `root` except checksums (a deleted
    * file's `.crc` goes with it). */
  private def files(root: Path): Set[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .toSet
    finally s.close()
  }

  test("the dry run reports exactly what vacuum removes, abandoned feed and DV " +
      "stages included") {
    val root = Files.createTempDirectory("graft_vacsel").resolve("t")
    val dir = root.toString
    TxnLake.create(spark, dir, (1L to 6L).map(i => (i, s"n$i", s"p${i % 2}"))
      .toDF("id", "n", "part"), "part", changeFeed = true)
    TxnLake.append(spark, dir, Seq((7L, "n7", "p1")).toDF("id", "n", "part"))
    TxnLake.upsert(spark, dir, Seq((2L, "m2", "p0")).toDF("id", "n", "part"), "id")
    TxnLake.append(spark, dir, Seq((8L, "n8", "p0")).toDF("id", "n", "part"))
    // a merge staged and never committed (its writer crashed): data
    // files, a DV sidecar and a feed entry that no record names
    val staged = TxnLake.stageMerge(spark, dir, TxnLake.resolve(spark, dir).get,
      Seq((4L, "m4", "p0")).toDF("id", "n", "part"), "id").get
    assert(staged.stagedDirs.exists(_.startsWith(TxnLake.DvDir + "/")) &&
      staged.stagedDirs.exists(_.startsWith(TxnLake.CdcDir + "/")))
    val report = TxnLake.vacuumDryRun(spark, dir, keepVersions = 2, graceMs = 0L)
      .collect().map(r => Paths.get(new java.net.URI(r.getString(0)).getPath) -> r.getString(1))
    val kinds = report.map(_._2).toSet
    assert(Set("log_record", "data_file", "dv_sidecar_dir", "cdc_dir").subsetOf(kinds), kinds)
    val before = files(root)
    TxnLake.vacuum(spark, dir, keepVersions = 2, graceMs = 0L)
    val removed = before -- files(root)
    val reported = report.map(_._1).toSet
    reported.foreach(p => assert(!Files.exists(p), s"reported but kept: $p"))
    removed.foreach(p => assert(reported.exists(r => p.startsWith(r)),
      s"removed but not reported: $p"))
    assert(TxnLake.read(spark, dir).count() === 8L)
  }
}
