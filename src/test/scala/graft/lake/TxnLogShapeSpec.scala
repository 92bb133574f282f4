package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import java.nio.file.{Files, Paths}

/** The log has one shape, and the reader refuses any other: every entry
  * carries `rows`, `bytes` and `mtime`, a DV'd entry its `doomed`
  * count, every record its `ts`, a `vN.json` is a delta (never a full
  * `files` manifest), and a parquet checkpoint has no null in those
  * columns. Each shape below is hand-edited into a fresh table's log,
  * and every reading surface must fail with the typed
  * [[TxnLake.TxnLogCorruptedException]] naming the file, the version
  * and the missing field — none may answer from a guess. */
class TxnLogShapeSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def freshDir(): String =
    Files.createTempDirectory("graft_logshape").resolve("t").toString

  /** v0 create (lands the v0 checkpoint) + v1 `second`: v1's record is
    * the one every resolution replays, so that is the file edited. */
  private def twoVersions(second: String => Unit): String = {
    val dir = freshDir()
    TxnLake.create(spark, dir,
      (1L to 6L).map(i => (i, s"p${i % 2}")).toDF("id", "part"), "part")
    second(dir)
    dir
  }

  private def appended(dir: String): Unit =
    TxnLake.append(spark, dir, Seq((7L, "p1")).toDF("id", "part"))

  private def deleted(dir: String): Unit =
    TxnLake.deleteWhere(spark, dir, col("id") === 2L)

  /** Rewrite v1's record through `edit` and drop its checksum sidecar
    * (the edit is deliberate; the integrity check is another spec's). */
  private def editRecord(dir: String)(edit: ObjectNode => Unit): Unit = {
    val rec = Paths.get(dir, "_graft_log", "v00000001.json")
    val root = mapper.readTree(rec.toFile).asInstanceOf[ObjectNode]
    edit(root)
    Files.write(rec, mapper.writeValueAsBytes(root))
    Files.delete(Paths.get(rec.toString + ".crc"))
    TxnLake.clearCrcCacheForTests()
  }

  private def stripFromAdds(field: String)(root: ObjectNode): Unit =
    root.withArray("add").forEach {
      case o: ObjectNode => o.remove(field); ()
      case _ => ()
    }

  /** v0 lands a PARQUET checkpoint whose payload is then rewritten with
    * NULL `bytes` on every entry (same entry count, so the header's
    * part-loss guard still agrees). */
  private def nullBytesCheckpoint(): String = {
    val dir = freshDir()
    spark.conf.set("spark.graft.txnlake.parquetCheckpointThreshold", "1")
    try TxnLake.create(spark, dir,
      (1L to 6L).map(i => (i, s"p${i % 2}")).toDF("id", "part"), "part")
    finally spark.conf.unset("spark.graft.txnlake.parquetCheckpointThreshold")
    val payload = s"$dir/_graft_log/v00000000.ckpt.files"
    val tmp = s"$dir/_payload_rewrite"
    spark.read.parquet(payload).withColumn("bytes", lit(null).cast("long"))
      .write.parquet(tmp)
    val fs = TxnLake.fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(payload), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(payload)))
    dir
  }

  /** (shape, the table, the field its error must name, the log file and
    * version the error must name). Each shape gets a FRESH table. */
  private val shapes: Seq[(String, () => String, String, String, Long)] = Seq(
    ("an entry without rows", () => {
      val d = twoVersions(appended); editRecord(d)(stripFromAdds("rows")); d
    }, "rows", "v00000001.json", 1L),
    ("an entry without bytes", () => {
      val d = twoVersions(appended); editRecord(d)(stripFromAdds("bytes")); d
    }, "bytes", "v00000001.json", 1L),
    ("an entry without mtime", () => {
      val d = twoVersions(appended); editRecord(d)(stripFromAdds("mtime")); d
    }, "mtime", "v00000001.json", 1L),
    ("a DV'd entry without doomed", () => {
      val d = twoVersions(deleted); editRecord(d)(stripFromAdds("doomed")); d
    }, "doomed", "v00000001.json", 1L),
    ("a record without ts", () => {
      val d = twoVersions(appended); editRecord(d)(r => { r.remove("ts"); () }); d
    }, "ts", "v00000001.json", 1L),
    ("a record holding a full files manifest", () => {
      val d = twoVersions(appended)
      editRecord(d) { r =>
        r.set[ObjectNode]("files", r.remove("add")); r.remove("remove"); ()
      }
      d
    }, "files", "v00000001.json", 1L),
    ("a parquet checkpoint with null bytes", () => nullBytesCheckpoint(),
      "bytes", "v00000000.ckpt.files", 0L))

  /** The reading surfaces, each forced to completion. */
  private val surfaces: Seq[(String, String => Any)] = Seq(
    "read" -> (d => TxnLake.read(spark, d).count()),
    "rowCount" -> (d => TxnLake.rowCount(spark, d)),
    "history" -> (d => TxnLake.history(spark, d).collect()),
    "graft-txn load" -> (d => spark.read.format("graft-txn").load(d).count()),
    "TxnTableStream batch" -> { d =>
      val out = freshDir()
      spark.readStream.format("graft-txn").load(d).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    })

  /** The typed error anywhere in `e`'s cause chain (a streaming batch
    * wraps it in a StreamingQueryException). */
  private def typed(e: Throwable): Option[TxnLake.TxnLogCorruptedException] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case c: TxnLake.TxnLogCorruptedException => c
    }

  shapes.foreach { case (shape, table, field, file, version) =>
    test(s"$shape fails typed on every reading surface, naming `$field`") {
      val dir = table()
      surfaces.foreach { case (surface, run) =>
        val thrown = try { run(dir); None } catch { case e: Throwable => Some(e) }
        val err = thrown.flatMap(typed).getOrElse(fail(
          s"$surface over $shape: expected TxnLogCorruptedException, got " +
            thrown.fold("an answer")(_.toString)))
        val msg = err.getMessage
        assert(msg.contains(s"`$field`") && msg.contains(file) &&
          msg.contains(s"version $version"),
          s"$surface over $shape: the error must name $file, version $version " +
            s"and `$field`: $msg")
      }
    }
  }

  test("the writer emits the shape the reader requires") {
    val dir = twoVersions(deleted)
    val rec = mapper.readTree(Paths.get(dir, "_graft_log", "v00000001.json").toFile)
    assert(rec.has("ts") && !rec.has("files"))
    rec.get("add").forEach { e =>
      Seq("rows", "bytes", "mtime").foreach(f => assert(e.has(f), s"entry lacks $f: $e"))
      assert(e.has("dv") === e.has("doomed"), s"doomed rides exactly the DV'd entries: $e")
    }
    assert(TxnLake.rowCount(spark, dir).get === TxnLake.read(spark, dir).count())
  }
}
