package graft.lake

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** Commit integrity checksums: every published record/checkpoint gets a
  * `.crc` sidecar (size + CRC32 of the exact published bytes), verified
  * on every read. The detection target is the SILENT corruption class —
  * a changed byte that still parses as valid JSON — which no other
  * check would ever catch before data files are read on the damaged
  * manifest's say-so. */
class TxnLogChecksumSpec extends AnyFunSuite with SparkTestSession {

  private def freshTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_crc").resolve("t").toString
    TxnLake.create(spark, dir,
      Seq((1L, 10L, "p1"), (2L, 20L, "p2")).toDF("id", "v", "part"), "part")
    TxnLake.append(spark, dir,
      Seq((3L, 30L, "p1")).toDF("id", "v", "part"))
    dir
  }

  private def logFiles(dir: String): Seq[Path] = {
    val log = Paths.get(dir, "_graft_log")
    val s = Files.list(log)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
    } finally s.close()
  }

  /** Flip one digit of the record's in-commit timestamp: the file stays
    * VALID JSON with the same schema — exactly the corruption a JSON
    * parse can never catch. */
  private def flipDigit(p: Path): Unit = {
    val text = Files.readString(p)
    val i = text.indexOf("\"version\"")
    require(i >= 0, s"no version field in $p")
    val j = text.indexWhere(_.isDigit, i)
    val flipped = if (text(j) == '9') '1' else (text(j) + 1).toChar
    Files.writeString(p, text.updated(j, flipped))
  }

  test("every record and checkpoint publish writes a .crc sidecar") {
    val dir = freshTable()
    val names = logFiles(dir).map(_.getFileName.toString)
    val records = names.filter(_.matches("v\\d{8}(\\.ckpt)?\\.json"))
    assert(records.nonEmpty)
    records.foreach(r => assert(names.contains(r + ".crc"),
      s"missing sidecar for $r in $names"))
  }

  test("a flipped byte that keeps the JSON valid raises the typed corruption error") {
    val dir = freshTable()
    val rec = logFiles(dir).find(_.getFileName.toString == "v00000001.json").get
    flipDigit(rec)
    val e = intercept[TxnLake.TxnLogCorruptedException] {
      TxnLake.read(spark, dir).count()
    }
    assert(e.getMessage.contains("integrity"))
  }

  test("timestamp time travel over a damaged record fails typed, not on mtime") {
    val dir = freshTable()
    flipDigit(Paths.get(dir, "_graft_log", "v00000001.json"))
    // the commit instant is the record's own `ts`: a record that fails
    // its integrity check has none, and the file's mtime is no stand-in
    intercept[TxnLake.TxnLogCorruptedException] {
      TxnLake.versionAsOfTimestamp(spark, dir, Long.MaxValue)
    }
  }

  test("corrupting a checkpoint is detected on resolve") {
    import spark.implicits._
    val dir = freshTable()
    // force a checkpoint, then damage it
    (0 until 12).foreach { i =>
      TxnLake.append(spark, dir, Seq((100L + i, 1L, "p1")).toDF("id", "v", "part"))
    }
    val ckpt = logFiles(dir).filter(_.getFileName.toString.matches("v\\d{8}\\.ckpt\\.json"))
      .sortBy(_.getFileName.toString).lastOption
    assume(ckpt.isDefined, "checkpoint interval not reached")
    flipDigit(ckpt.get)
    intercept[TxnLake.TxnLogCorruptedException] {
      TxnLake.read(spark, dir).count()
    }
  }

  test("a record without a sidecar (pre-checksum table) still reads") {
    val dir = freshTable()
    logFiles(dir).filter(_.getFileName.toString.endsWith(".crc"))
      .foreach(Files.delete)
    assert(TxnLake.read(spark, dir).count() === 3L)
  }

  test("vacuum removes the sidecars of dropped records") {
    import spark.implicits._
    val dir = freshTable()
    (0 until 12).foreach { i =>
      TxnLake.append(spark, dir, Seq((200L + i, 1L, "p2")).toDF("id", "v", "part"))
    }
    TxnLake.vacuum(spark, dir, keepVersions = 2, graceMs = 0L)
    val names = logFiles(dir).map(_.getFileName.toString)
    val orphans = names.filter(n => n.endsWith(".json.crc") &&
      !names.contains(n.stripSuffix(".crc")))
    assert(orphans.isEmpty, s"orphan sidecars after vacuum: $orphans")
  }
}
