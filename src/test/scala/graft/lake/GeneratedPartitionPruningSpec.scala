package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Date

/** [[GeneratedPartitionPruning]] — a filter on the SOURCE column of a
  * generated partition key prunes partitions at plan time (Delta
  * OptimizeGeneratedColumn parity): file-skip assertions via
  * [[SparkTestSession.scannedFiles]], result parity with and without
  * the derivation, abstention cases. */
class GeneratedPartitionPruningSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  /** Table partitioned by a GENERATED month bucket of `d`; three
    * months of daily rows — at least 3 partitions, several files. */
  private def fresh(): String = {
    val dir = Files.createTempDirectory("graft_gpp").resolve("t").toString
    val rows = (0 until 90).map { i =>
      (i.toLong, Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i)))
    }
    TxnLake.create(spark, dir, rows.toDF("id", "d")
        .withColumn("m", substring(col("d").cast("string"), 1, 7)), "m",
      generatedCols = Map("m" -> "substring(cast(d as string), 1, 7)"))
    dir
  }

  test("source-column equality prunes to one partition's files") {
    val dir = fresh()
    val total = TxnLake.resolve(spark, dir).get.files.size
    assert(total >= 3, s"precondition: several files, got $total")
    val q = spark.read.format("graft-txn").load(dir)
      .filter(col("d") === Date.valueOf("1995-02-15"))
    assert(q.count() === 1L)
    val scanned = scannedFiles(q)
    val febFiles = TxnLake.resolve(spark, dir).get.files
      .count(_.parts.contains(Some("1995-02")))
    assert(scanned === febFiles && scanned < total,
      s"derived m='1995-02' must prune: scanned $scanned of $total (feb=$febFiles)")
  }

  test("IN over many source literals derives the bucket set (InSet path)") {
    val dir = fresh()
    val total = TxnLake.resolve(spark, dir).get.files.size
    // 20 January days: OptimizeIn rewrites to InSet before derivation
    val days = (1 to 20).map(i => Date.valueOf(f"1995-01-$i%02d"))
    val q = spark.read.format("graft-txn").load(dir)
      .filter(col("d").isin(days: _*))
    assert(q.count() === 20L)
    assert(scannedFiles(q) < total, "derived m IN ('1995-01') must prune")
  }

  test("derivation never changes results (parity with the rule disabled)") {
    val dir = fresh()
    val pred = col("d").isin(
      Date.valueOf("1995-01-31"), Date.valueOf("1995-03-01"))
    val got = spark.read.format("graft-txn").load(dir).filter(pred)
      .select("id").as[Long].collect().toSet
    // ground truth from a raw read of all partitions
    val want = TxnLake.read(spark, dir).filter(pred)
      .select("id").as[Long].collect().toSet
    assert(got === want && got.size === 2)
  }

  test("abstains on a TIMESTAMP (LTZ) source: session-tz-dependent " +
      "derivation must not prune, and results survive a tz flip") {
    val tzConf = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzConf)
    val dir = Files.createTempDirectory("graft_gpp_ts").resolve("t").toString
    try {
      // WRITER session in LA: pt = substring(cast(ts as string),1,7)
      // binds the LA wall clock
      spark.conf.set(tzConf, "America/Los_Angeles")
      val rows = (0 until 60).map { i =>
        (i.toLong, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(1995, 1, 1, 23, 30).plusDays(i)))
      }
      TxnLake.create(spark, dir, rows.toDF("id", "ts")
          .withColumn("m", substring(col("ts").cast("string"), 1, 7)), "m",
        generatedCols = Map("m" -> "substring(cast(ts as string), 1, 7)"))
      val total = TxnLake.resolve(spark, dir).get.files.size
      // READER session in Tokyo: 23:30 LA on Jan 31 is Feb 1 in Tokyo —
      // a tz-naive fold would derive m='1995-02' and prune the LIVE
      // '1995-01' partition. The rule must abstain for LTZ sources.
      spark.conf.set(tzConf, "Asia/Tokyo")
      // probe = the SAME instant as row id=30 (stored under a Jan
      // partition), rendered as Tokyo wall time — to_timestamp binds
      // the READER session tz and ConstantFolding turns it into the
      // literal the rule would (wrongly) fold under Tokyo
      val probeStr = TxnLake.read(spark, dir).filter(col("id") === 30L)
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("s"))
        .as[String].head()
      val storedPart = TxnLake.read(spark, dir).filter(col("id") === 30L)
        .select("m").as[String].head()
      // the hazard is real here: Tokyo renders the instant into a
      // DIFFERENT month than the stored partition value
      assert(!probeStr.startsWith(storedPart), s"$probeStr vs $storedPart")
      val q = spark.read.format("graft-txn").load(dir)
        .filter(col("ts") === to_timestamp(lit(probeStr)))
      assert(q.count() === 1L, "tz-flipped equality must still find the row")
      assert(scannedFiles(q) === total,
        "LTZ source: derivation must abstain (no partition conjunct)")
    } finally spark.conf.set(tzConf, saved)
  }

  test("monotonic whitelist: range/BETWEEN on the source derives partition " +
      "bounds (Delta OptimizeGeneratedColumn parity)") {
    val dir = fresh() // m = substring(cast(d as string),1,7): non-decreasing
    val total = TxnLake.resolve(spark, dir).get.files.size
    // src >= bound: derived m >= '1995-03' skips Jan+Feb files
    val r = spark.read.format("graft-txn").load(dir)
      .filter(col("d") >= Date.valueOf("1995-03-01"))
    assert(r.count() === 31L) // Mar 1..31 of the 90-day span
    val marFiles = TxnLake.resolve(spark, dir).get.files
      .count(_.parts.contains(Some("1995-03")))
    assert(scannedFiles(r) === marFiles && marFiles < total,
      s"derived m >= '1995-03' must prune: ${scannedFiles(r)} of $total")
    // BETWEEN straddling a month boundary: exactly two partitions' files
    val bt = spark.read.format("graft-txn").load(dir)
      .filter(col("d").between(
        Date.valueOf("1995-01-20"), Date.valueOf("1995-02-10")))
    assert(bt.count() === 22L) // Jan 20..31 (12) + Feb 1..10 (10)
    val janFeb = TxnLake.resolve(spark, dir).get.files.count(f =>
      f.parts.contains(Some("1995-01")) || f.parts.contains(Some("1995-02")))
    assert(scannedFiles(bt) === janFeb && janFeb < total,
      s"derived m BETWEEN must prune to Jan+Feb: ${scannedFiles(bt)} of $total")
    // result parity: derivation dropped and added nothing
    val want = TxnLake.read(spark, dir).filter(col("d").between(
      Date.valueOf("1995-01-20"), Date.valueOf("1995-02-10")))
      .select("id").as[Long].collect().toSet
    assert(bt.select("id").as[Long].collect().toSet === want)
  }

  test("year-10000 partitions survive a lower bound: ISO renders sort " +
      "'+10000-...' below every digit, the derived conjunct keeps them") {
    val dir = Files.createTempDirectory("graft_gpp_y10k").resolve("t").toString
    val rows = ((0 until 60).map { i =>
      (i.toLong, Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i)))
    } :+ ((999L, Date.valueOf(java.time.LocalDate.of(10000, 6, 1)))))
    TxnLake.create(spark, dir, rows.toDF("id", "d")
        .withColumn("m", substring(col("d").cast("string"), 1, 7)), "m",
      generatedCols = Map("m" -> "substring(cast(d as string), 1, 7)"))
    val total = TxnLake.resolve(spark, dir).get.files.size
    val r = spark.read.format("graft-txn").load(dir)
      .filter(col("d") >= Date.valueOf("1995-02-01"))
    // Feb(28) + Mar 1 (60-day span ends Mar 1) + the year-10000 row
    assert(r.count() === 29L + 1L,
      "the '+10000-06' partition is chronologically in range and must survive")
    assert(scannedFiles(r) < total, "Jan files still prune")
    // upper bound: the year-10000 partition may be over-kept (sound),
    // but the ROWS are filtered exactly
    val up = spark.read.format("graft-txn").load(dir)
      .filter(col("d") <= Date.valueOf("1995-01-15"))
    assert(up.count() === 15L)
  }

  test("abstains: non-monotonic expressions on ranges, own partition filter") {
    // partition = DAY-OF-MONTH bucket: deterministic (equality still
    // derives) but NOT monotone — ranges must not derive
    val dir = Files.createTempDirectory("graft_gpp_nm").resolve("t").toString
    val rows = (0 until 90).map { i =>
      (i.toLong, Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i)))
    }
    TxnLake.create(spark, dir, rows.toDF("id", "d")
        .withColumn("dd", substring(col("d").cast("string"), 9, 2)), "dd",
      generatedCols = Map("dd" -> "substring(cast(d as string), 9, 2)"))
    val total = TxnLake.resolve(spark, dir).get.files.size
    val r = spark.read.format("graft-txn").load(dir)
      .filter(col("d") >= Date.valueOf("1995-03-01"))
    assert(r.count() === 31L)
    assert(scannedFiles(r) === total,
      "substring at offset 9 is not a prefix — range derivation must abstain")
    // equality still derives through the non-monotone expression
    val eq = spark.read.format("graft-txn").load(dir)
      .filter(col("d") === Date.valueOf("1995-02-15"))
    assert(eq.count() === 1L)
    assert(scannedFiles(eq) < total)
    // the user's own partition predicate still prunes (no interference)
    val m = fresh()
    val mTotal = TxnLake.resolve(spark, m).get.files.size
    val own = spark.read.format("graft-txn").load(m)
      .filter(col("m") === "1995-01" && col("d") >= Date.valueOf("1995-01-05"))
    assert(own.count() === 27L)
    assert(scannedFiles(own) < mTotal)
  }

  test("swapped column names: reads and deletes through a renamed table derive nothing wrong") {
    val dir = Files.createTempDirectory("graft_gpp_swap").resolve("t").toString
    // the partition key is b % 3 of the physical column b; after the
    // swap that column's logical name is a, and the physical a is b
    val rows = (0 until 30).map(i => (i.toLong, i + 1L, i.toLong))
    TxnLake.create(spark, dir, rows.toDF("id", "a", "b")
      .withColumn("pt", col("b") % 3), "pt")
    TxnLake.renameColumn(spark, dir, "a", "tmp")
    TxnLake.renameColumn(spark, dir, "b", "a")
    TxnLake.renameColumn(spark, dir, "tmp", "b")
    TxnLake.setGeneratedColumns(spark, dir, Map("pt" -> "a % 3"))
    // logical b = 5 is the row with physical a = 5: id 4, pt 1 (not 5 % 3)
    val viaRead = TxnLake.read(spark, dir).filter(col("b") === 5L)
    assert(viaRead.select("id").as[Long].collect().toSeq === Seq(4L))
    val viaSource = spark.read.format("graft-txn").load(dir).filter(col("b") === 5L)
    assert(viaSource.select("id").as[Long].collect().toSeq === Seq(4L))
    assert(TxnLake.deleteWhere(spark, dir, col("b") === 5L) === 1L)
    assert(TxnLake.read(spark, dir).count() === 29L)
  }

  test("versions before the declaration: readVersion and DML after a restore see the violating row") {
    val dir = Files.createTempDirectory("graft_gpp_hist").resolve("t").toString
    // v0: row 7 breaks pt = src % 3 (stored pt 0, src % 3 = 1)
    val rows = (0 until 12).map(i => (i.toLong, i.toLong, if (i == 7) 0L else i % 3L))
    TxnLake.create(spark, dir, rows.toDF("id", "src", "pt"), "pt")
    // v1 mends it, so the declaration validates against the head
    TxnLake.updateWhere(spark, dir, col("id") === 7L, Map("pt" -> lit(1L)))
    TxnLake.setGeneratedColumns(spark, dir, Map("pt" -> "src % 3"))
    val atV0 = TxnLake.readVersion(spark, dir, 0L).filter(col("src") === 7L)
    assert(atV0.select("id").as[Long].collect().toSeq === Seq(7L))
    TxnLake.restore(spark, dir, 0L)
    assert(TxnLake.read(spark, dir).filter(col("src") === 7L).count() === 1L)
    assert(TxnLake.deleteWhere(spark, dir, col("src") === 7L) === 1L)
    assert(TxnLake.read(spark, dir).filter(col("id") === 7L).isEmpty)
    assert(TxnLake.read(spark, dir).count() === 11L)
  }
}
