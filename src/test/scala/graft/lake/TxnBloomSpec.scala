package graft.lake

import graft.SparkTestSession
import graft.lake.LakeScans.dvScanFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Manifest-level BLOOM file index: equality/IN predicates on the
  * table's bloom column skip files whose filter proves the value
  * absent — the Delta bloom-filter-index move, extending file skipping
  * to high-cardinality UNSORTED string columns where zone maps are
  * useless. Never a false negative (a present value always scans its
  * file); false positives only widen the scan. */
class TxnBloomSpec extends AnyFunSuite with SparkTestSession {

  private def freshDir(): String =
    Files.createTempDirectory("graft_bloom").resolve("t").toString

  /** 8 partitions, each holding DISJOINT clerk strings — so a clerk
    * equality should prune to exactly one file if the bloom works. */
  private def clerkTable(): String = {
    import spark.implicits._
    val dir = freshDir()
    val rows = (0 until 800).map(i => (i.toLong, s"b${i % 8}", s"clerk-${i % 8}-${i / 8}"))
      .toDF("id", "part", "clerk")
    TxnLake.create(spark, dir, rows, "part", bloomCol = Some("clerk"))
    dir
  }

  private def lake(dir: String): DataFrame =
    spark.read.format("graft-txn").load(dir)

  test("manifest carries a bloom per file; driver probe matches the staged bits") {
    val dir = clerkTable()
    val m = TxnLake.resolve(spark, dir).get
    assert(m.bloomCol === Some("clerk"))
    assert(m.files.forall(_.bloom.nonEmpty))
    // a value written into partition b3 must test positive on b3's file
    val f3 = m.files.find(_.parts.contains(Some("b3"))).get
    assert(TxnLake.bloomMightContain(f3.bloom, "clerk-3-0"))
  }

  test("equality on the bloom column prunes to a strict file subset, result exact") {
    val dir = clerkTable()
    val all = scannedFiles(lake(dir))
    assert(all >= 8, s"expected >=8 files, saw $all")
    val q = lake(dir).filter(col("clerk") === "clerk-5-17")
    val scanned = scannedFiles(q)
    assert(scanned < all, "bloom must drop files that cannot hold the value")
    assert(q.collect().map(_.getAs[Long]("id")).toSeq === Seq(8L * 17 + 5))
  }

  test("IN-list keeps the union of candidate files; absent value scans ~nothing") {
    val dir = clerkTable()
    val all = scannedFiles(lake(dir))
    val in = lake(dir).filter(col("clerk").isin("clerk-1-3", "clerk-6-40"))
    assert(scannedFiles(in) < all)
    assert(in.count() === 2)
    // a value never written: every file's bloom should reject it (fpp
    // permitting — with 100 values/file at 1024 bits the chance all 8
    // files false-positive is astronomically small; accept <= 1)
    val miss = lake(dir).filter(col("clerk") === "no-such-clerk-xyz")
    assert(scannedFiles(miss) <= 1)
    assert(miss.count() === 0)
  }

  test("blooms survive append and upsert commits (rewritten files get fresh bits)") {
    import spark.implicits._
    val dir = clerkTable()
    TxnLake.append(spark, dir,
      Seq((9000L, "b9", "clerk-new-1")).toDF("id", "part", "clerk"))
    TxnLake.upsert(spark, dir,
      Seq((5L, "b5", "clerk-upd-1")).toDF("id", "part", "clerk"), "id")
    val m = TxnLake.resolve(spark, dir).get
    assert(m.bloomCol === Some("clerk"))
    assert(m.files.forall(_.bloom.nonEmpty))
    val hit = lake(dir).filter(col("clerk") === "clerk-upd-1")
    assert(hit.collect().map(_.getAs[Long]("id")).toSeq === Seq(5L))
    // the upsert doomed id 5's old image by a deletion vector, so the
    // snapshot plans through TxnDvRelation: the query's filter is pushed
    // into its buildScan, whose manifest pruning keeps only the files
    // whose blooms may hold the value — the post-image file's fresh
    // bits among them — and the scan it builds opens only those
    val read = dvScanFiles(hit)
    val kept = m.files.filter(f => read.contains(f.path))
    assert(kept.size === read.size, s"scan read files outside the manifest: $read")
    assert(kept.size < m.files.size)
    val post = m.files.filter(f => f.dv.isEmpty && f.parts == Set(Option("b5")))
    assert(post.nonEmpty && post.forall(kept.contains))
    // the non-bloom read path is untouched
    assert(TxnLake.read(spark, dir).count() === 801)
  }

  test("bloomPositionsOf equals pmod(xxhash64(lit(k), v), bits) evaluated by Spark") {
    import spark.implicits._
    // the staging expression that wrote every existing table's blooms:
    // pinning the one Scala definition to it keeps those blooms valid
    val rnd = new scala.util.Random(7)
    val values: Seq[Option[String]] = Seq(None, Some(""), Some("é"), Some("Ωmega-日本"),
      Some("\u0000nul"), Some("clerk-3-17")) ++
      (0 until 200).map(_ => Some(rnd.nextString(rnd.nextInt(24))))
    for (bits <- Seq(64, 256, 1024, 8192)) {
      val positions = (0 until TxnLake.BloomK).map(k =>
        pmod(xxhash64(lit(k), col("v")), lit(bits.toLong)).cast("int"))
      val viaSpark = values.toDF("v").select(col("v"), array(positions: _*))
        .collect().map(r => Option(r.getString(0)) -> r.getSeq[Int](1)).toSeq
      assert(viaSpark.size === values.size)
      viaSpark.foreach { case (v, expected) =>
        val utf8 = v.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
        assert(TxnLake.bloomPositionsOf(utf8, bits).toSeq === expected,
          s"bits=$bits value=$v")
      }
    }
  }

  test("non-string bloom column is refused at create") {
    import spark.implicits._
    val dir = freshDir()
    val e = intercept[IllegalArgumentException] {
      TxnLake.create(spark, dir, Seq((1L, "p", 2.0)).toDF("id", "part", "v"),
        "part", bloomCol = Some("v"))
    }
    assert(e.getMessage.contains("must be STRING"))
  }
}
