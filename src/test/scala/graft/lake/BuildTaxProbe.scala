package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev driver: phase-level decomposition of the expensive BUILD paths
  * the bench's phase line charges to the lake family — zq08's 3-column
  * Z-order rewrite and a DV deleteWhere — so "which half of the commit
  * is the time" is measured, not argued (guide §1).
  *
  * Run: sbt "Test/runMain graft.lake.BuildTaxProbe <sfDir>"
  */
object BuildTaxProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[build-tax] $name%-42s ${ms(t0)}%8.1f ms")
      r
    }
    spark.range(1000000).selectExpr("sum(id)").collect()

    // ---- zq08 shape: create + 3-col zorder on lineitem %4 ----
    (1 to 2).foreach { round =>
      println(s"== zq08 shape, round $round ==")
      val dir = java.nio.file.Files.createTempDirectory("graft_ztax")
        .resolve("lineitem_lake").toString
      val base = spark.read.parquet(s"$d/lineitem.parquet")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"), col("l_quantity"), col("l_discount"))
      phase("create (stage+commit)") {
        TxnLake.create(spark, dir, base, "l_returnflag",
          statsCol = Some("l_extendedprice"),
          statsCols = Seq("l_quantity", "l_discount"))
      }
      val m = phase("resolve")(TxnLake.resolve(spark, dir).get)
      println(s"[build-tax]   files after create: ${m.files.size}")
      phase("zorder rewrite (whole op)") {
        TxnLake.optimizeZOrder(spark, dir,
          Seq("l_extendedprice", "l_quantity", "l_discount"), rowsPerFile = 0L)
      }
      val m2 = TxnLake.resolve(spark, dir).get
      println(s"[build-tax]   files after zorder: ${m2.files.size}")
      phase("read+filter+agg (query half)") {
        spark.read.format("graft-txn").load(dir)
          .filter(col("l_extendedprice") < 30000.0 && col("l_quantity") >= 30.0 &&
            col("l_discount") >= 0.05)
          .groupBy(col("l_returnflag")).agg(count(lit(1))).collect()
      }
      // isolate: the same zorder WRITE without the protocol — raw spark
      val live = spark.read.format("graft-txn").load(dir)
      val zcols = Seq("l_extendedprice", "l_quantity", "l_discount")
      val b = live.agg(
        min(col(zcols(0)).cast("double")), max(col(zcols(0)).cast("double")),
        min(col(zcols(1)).cast("double")), max(col(zcols(1)).cast("double")),
        min(col(zcols(2)).cast("double")), max(col(zcols(2)).cast("double")),
        count(lit(1))).collect().head
      def quant(c: org.apache.spark.sql.Column, mnI: Int, mxI: Int): org.apache.spark.sql.Column = {
        val (mn, mx) = (b.getDouble(mnI), b.getDouble(mxI))
        least(lit((1L << 21) - 1), floor((coalesce(c.cast("double"), lit(mn)) - lit(mn))
          / lit(mx - mn) * ((1L << 21) - 1).toDouble).cast("bigint"))
      }
      val morton = ZOrder.mortonCodeN(zcols.zipWithIndex.map { case (p, i) =>
        quant(col(p), 2 * i, 2 * i + 1) })
      val outDir = java.nio.file.Files.createTempDirectory("graft_zraw").toString
      phase("raw morton-sorted write (no protocol)") {
        live.withColumn("__pk", hex(xxhash64(col("l_returnflag").cast("string"))))
          .repartition(3, col("l_returnflag"))
          .sortWithinPartitions(col("__pk"), morton)
          .write.mode("overwrite").option("maxRecordsPerFile", 50000)
          .partitionBy("__pk").parquet(outDir)
      }
      phase("raw plain write (no sort, no protocol)") {
        live.withColumn("__pk", hex(xxhash64(col("l_returnflag").cast("string"))))
          .repartition(3, col("l_returnflag"))
          .write.mode("overwrite").partitionBy("__pk")
          .parquet(outDir + "_plain")
      }
    }

    // ---- optimizeZOrder hand-inlined, phase by phase ----
    locally {
      println("== zorder inlined phases ==")
      val dir = java.nio.file.Files.createTempDirectory("graft_ztax2")
        .resolve("lineitem_lake").toString
      val baseDf = spark.read.parquet(s"$d/lineitem.parquet")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"), col("l_quantity"), col("l_discount"))
      TxnLake.create(spark, dir, baseDf, "l_returnflag",
        statsCol = Some("l_extendedprice"),
        statsCols = Seq("l_quantity", "l_discount"))
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val base = phase("  resolve")(TxnLake.resolve(spark, dir).get)
      val live = phase("  readEntries plan")(
        TxnLake.readEntries(spark, dir, base, base.files))
      val zcols = Seq("l_extendedprice", "l_quantity", "l_discount")
      val b = phase("  min/max agg job") {
        live.agg(
          min(col(zcols(0)).cast("double")), max(col(zcols(0)).cast("double")),
          min(col(zcols(1)).cast("double")), max(col(zcols(1)).cast("double")),
          min(col(zcols(2)).cast("double")), max(col(zcols(2)).cast("double")),
          count(lit(1))).collect().head
      }
      val nRows = b.getLong(6)
      def quant(c: org.apache.spark.sql.Column, mnI: Int, mxI: Int): org.apache.spark.sql.Column = {
        val (mn, mx) = (b.getDouble(mnI), b.getDouble(mxI))
        least(lit((1L << 21) - 1), floor((coalesce(c.cast("double"), lit(mn)) - lit(mn))
          / lit(mx - mn) * ((1L << 21) - 1).toDouble).cast("bigint"))
      }
      val morton = ZOrder.mortonCodeN(zcols.zipWithIndex.map { case (p, i) =>
        quant(col(p), 2 * i, 2 * i + 1) })
      val targetRows = math.max(1L, nRows / math.max(1, base.files.size))
      // stageFiles body, phase by phase
      val dataDir = s"$dir/_graft_data/cprobe0"
      val arranged = live
        .withColumn("__txn_pk", hex(xxhash64(col(base.partCol).cast("string"))))
        .repartition(3, col(base.partCol))
        .sortWithinPartitions(col("__txn_pk") +: Seq(morton): _*)
      phase("  stage: arranged write") {
        arranged.write.option("maxRecordsPerFile", targetRows)
          .partitionBy("__txn_pk").parquet(dataDir)
      }
      val wrote = phase("  stage: glob")(
        fs.globStatus(new org.apache.hadoop.fs.Path(s"$dataDir/*/*.parquet")))
      println(s"[build-tax]   wrote ${wrote.length} files")
      val newFiles = phase("  stageFiles (real, write+meta)") {
        TxnLake.stageFiles(spark, dir, live, base.partCol, base.files.size,
          base.statsCol, None, sortWithin = Seq(morton),
          maxRecsOverride = Some(targetRows))
      }
      fs.delete(new org.apache.hadoop.fs.Path(dataDir), true)
      println(s"[build-tax]   staged ${newFiles.size} files")
      // variants: where do the ~2s go?
      def tmp() = java.nio.file.Files.createTempDirectory("graft_zvar").toString
      val keyed = live
        .withColumn("__txn_pk", hex(xxhash64(col(base.partCol).cast("string"))))
        .repartition(3, col(base.partCol))
      (1 to 2).foreach { r =>
        phase(s"  var$r: sort by EXPR + maxRecs") {
          keyed.sortWithinPartitions(col("__txn_pk"), morton)
            .write.option("maxRecordsPerFile", targetRows)
            .partitionBy("__txn_pk").parquet(tmp() + "/w")
        }
        phase(s"  var$r: sort by MATERIALIZED col + maxRecs") {
          keyed.withColumn("__txn_z", morton)
            .sortWithinPartitions(col("__txn_pk"), col("__txn_z"))
            .drop("__txn_z")
            .write.option("maxRecordsPerFile", targetRows)
            .partitionBy("__txn_pk").parquet(tmp() + "/w")
        }
        phase(s"  var$r: sort by EXPR, no maxRecs") {
          keyed.sortWithinPartitions(col("__txn_pk"), morton)
            .write.partitionBy("__txn_pk").parquet(tmp() + "/w")
        }
        phase(s"  var$r: no sort, maxRecs") {
          keyed.write.option("maxRecordsPerFile", targetRows)
            .partitionBy("__txn_pk").parquet(tmp() + "/w")
        }
        phase(s"  var$r: plain count of keyed") { keyed.count() }
      }
      val touched = (base.files.flatMap(_.parts) ++ newFiles.flatMap(_.parts)).toSet
      phase("  commitStaged") {
        TxnLake.commitStaged(spark, dir, TxnLake.Staged(base.version, base.partCol,
          base.schemaDdl, touched, base.files.map(_.path).toSet, newFiles,
          base.statsCol, renames = base.renames, tombstones = base.tombstones,
          dataChange = false, stagedDirs = TxnLake.dataDirsOf(newFiles)),
          headHint = Some(base))
      }
      phase("  final resolve")(TxnLake.resolve(spark, dir).get)
    }

    // ---- deleteWhere decomposition on a 30-commit table ----
    println("== deleteWhere shape ==")
    import spark.implicits._
    def batch(k: Int) =
      (0 until 50).map(i => (k * 1000L + i, s"p${k % 4}", i * 1.0))
        .toDF("id", "part", "v")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_dtax")
      .resolve("t").toString
    TxnLake.create(spark, dir2, batch(0), "part", statsCol = Some("v"))
    (1 until 30).foreach(k => TxnLake.append(spark, dir2, batch(k)))
    (1 to 3).foreach { round =>
      val t0 = System.nanoTime()
      val n = TxnLake.deleteWhere(spark, dir2, col("id") % 10 === round)
      println(f"[build-tax] deleteWhere round $round ($n rows)      ${ms(t0)}%8.1f ms")
    }
    // phases of a 4th delete, hand-inlined
    locally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val base = phase("  resolve")(TxnLake.resolve(spark, dir2).get)
      println(s"[build-tax]   files: ${base.files.size}, dv'd: ${base.files.count(_.dv.nonEmpty)}")
      val live = phase("  readEntries(keepMeta)")(
        TxnLake.readEntries(spark, dir2, base, base.files, keepMeta = true))
      val dvAbs = dir2 + "/_graft_dv/cprobe"
      phase("  DV write job") {
        live.filter(col("id") % 10 === 4)
          .select(col("__txn_file").as("file"), col("__txn_pos").as("pos"))
          .repartition(col("file")).sortWithinPartitions(col("file"), col("pos"))
          .write.parquet(dvAbs)
      }
      phase("  one more count over live")(live.count())
    }
    spark.stop()
  }
}
