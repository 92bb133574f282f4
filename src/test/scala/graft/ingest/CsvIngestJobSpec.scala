package graft.ingest

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** End-to-end batch ingest: raw CSV file → massaged text zone → promoted
  * partitioned parquet, mirroring the reference's handleRequest flow
  * (CSVIngest.java:211-278) on a local lake. */
class CsvIngestJobSpec extends AnyFunSuite with SparkTestSession {

  private def tmpDir(): Path = Files.createTempDirectory("graft_ingest")

  private val manifest = SchemaManifest.parse(
    """{"schema": [
      |  {"key": "OBJECTID", "type": "int", "partition_key": "false", "comment": ""},
      |  {"key": "the_geom", "type": "string", "partition_key": "false", "comment": ""},
      |  {"key": "BOROUGH", "type": "string", "partition_key": "true", "comment": ""},
      |  {"key": "Shape_area", "type": "double", "partition_key": "false", "comment": ""}
      |]}""".stripMargin)

  private val rawCsv =
    """OBJECTID,the_geom,BOROUGH,Shape_area
      |1,"MULTIPOLYGON (((-73.80 40.79, -73.81 40.80)))",QN,101.5
      |2,"MULTIPOLYGON (((-73.90 40.70, -73.91 40.71)))",BK,202.5
      |3,"MULTIPOLYGON (((-73.95 40.75, -73.96 40.76)))",QN,303.5""".stripMargin

  private def writeRaw(dir: Path): String = {
    val f = dir.resolve("landmarks.csv")
    Files.writeString(f, rawCsv)
    f.toString
  }

  test("massageFile: strict validation + golden line semantics") {
    val dir = tmpDir()
    val out = dir.resolve("processed").toString
    val res = CsvIngestJob.massageFile(spark, writeRaw(dir), out,
      manifest = Some(manifest), singleFile = true)
    assert(res === CsvIngestJob.Ok(out, 4))
    val lines = spark.read.textFile(out).collect().toSet
    assert(lines.contains("OBJECTID,the_geom,BOROUGH,Shape_area"))
    assert(lines.contains("1,,QN,101.5"))
    assert(lines.contains("2,,BK,202.5"))
    assert(lines.contains("3,,QN,303.5"))
  }

  test("massageFile: NormalizeWkt mode keeps normalized geometry") {
    val dir = tmpDir()
    val out = dir.resolve("processed").toString
    CsvIngestJob.massageFile(spark, writeRaw(dir), out, mode = IngestMode.NormalizeWkt,
      manifest = Some(manifest))
    val lines = spark.read.textFile(out).collect().toSet
    assert(lines.contains("1,-73.80:40.79::-73.81:40.80,QN,101.5"))
  }

  test("massageFile validates EVERY file's header in a directory, not one arbitrary split") {
    val dir = tmpDir()
    val raw = dir.resolve("raw")
    Files.createDirectories(raw)
    Files.writeString(raw.resolve("good.csv"), rawCsv)
    Files.writeString(raw.resolve("drifted.csv"),
      "OBJECTID,WRONG_COLUMN,BOROUGH,Shape_area\n9,x,SI,1.0\n")
    val res = CsvIngestJob.massageFile(spark, raw.toString, dir.resolve("out").toString,
      manifest = Some(manifest))
    res match {
      case CsvIngestJob.Failed(msg) => assert(msg.contains("WRONG_COLUMN") || msg.contains("field 1"))
      case other                    => fail(s"drifted file must fail validation, got $other")
    }
  }

  test("massageFile: mismatched manifest fails as Failed(schema ...), like the reference's abort path") {
    val dir = tmpDir()
    val bad = SchemaManifest(manifest.fields.reverse)
    val res = CsvIngestJob.massageFile(spark, writeRaw(dir), dir.resolve("x").toString,
      manifest = Some(bad))
    res match {
      case CsvIngestJob.Failed(msg) => assert(msg.startsWith("schema:"))
      case other                    => fail(s"expected Failed, got $other")
    }
  }

  test("promote with quarantine: rows failing typed casts are diverted, not nulled") {
    val dir = tmpDir()
    val raw = dir.resolve("landmarks.csv")
    Files.writeString(raw,
      """OBJECTID,the_geom,BOROUGH,Shape_area
        |1,geom,QN,101.5
        |oops,geom,BK,202.5
        |3,geom,QN,not_a_number""".stripMargin)
    val lake = dir.resolve("lake").toString
    val quarantine = dir.resolve("bad").toString
    val res = CsvIngestJob.promote(spark, raw.toString, lake, manifest, Some(quarantine))
    assert(res === CsvIngestJob.Ok(lake, 1))
    val bad = spark.read.parquet(quarantine)
    assert(bad.count() === 2)
    // quarantined rows keep their original string form for reprocessing
    assert(bad.schema.fields.forall(_.dataType.typeName === "string"))
    assert(bad.select("OBJECTID").collect().map(_.getString(0)).toSet === Set("oops", "3"))
  }

  test("promote: typed, partitioned parquet honoring manifest partition_key") {
    val dir = tmpDir()
    val raw = writeRaw(dir)
    val lake = dir.resolve("lake").toString
    val res = CsvIngestJob.promote(spark, raw, lake, manifest)
    assert(res === CsvIngestJob.Ok(lake, 3))
    // partition layout on disk: BOROUGH=QN / BOROUGH=BK
    val parts = new java.io.File(lake).listFiles().map(_.getName).filter(_.startsWith("BOROUGH=")).toSet
    assert(parts === Set("BOROUGH=QN", "BOROUGH=BK"))
    val back = spark.read.parquet(lake)
    assert(back.schema("OBJECTID").dataType.typeName === "integer")
    assert(back.schema("Shape_area").dataType.typeName === "double")
    assert(back.count() === 3)
    // partition pruning works against the promoted layout
    assert(back.where("BOROUGH = 'QN'").count() === 2)
  }

  test("massageFile(singleFile=false) into several parts, then promote, keeps every row") {
    val dir = tmpDir()
    val header = "OBJECTID,the_geom,BOROUGH,Shape_area"
    val rows = (1 to 600).map(i =>
      s"""$i,"MULTIPOLYGON (((-73.80 40.79, -73.81 40.80)))",${if (i % 2 == 0) "QN" else "BK"},$i.5""")
    val raw = dir.resolve("landmarks.csv")
    Files.writeString(raw, (header +: rows).mkString("\n"))
    val massaged = dir.resolve("processed").toString
    val lake = dir.resolve("lake").toString
    // a small split size so the one input file is massaged into several parts
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      assert(CsvIngestJob.massageFile(spark, raw.toString, massaged, manifest = Some(manifest))
        === CsvIngestJob.Ok(massaged, 601))
      val parts = new java.io.File(massaged).listFiles().count(_.getName.startsWith("part-"))
      assert(parts > 2, s"expected several massaged parts, got $parts")
      assert(CsvIngestJob.promote(spark, massaged, lake, manifest) === CsvIngestJob.Ok(lake, 600))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    val ids = spark.read.parquet(lake).select("OBJECTID").collect().map(_.getInt(0)).sorted
    assert(ids.toSeq === (1 to 600))
  }
}
