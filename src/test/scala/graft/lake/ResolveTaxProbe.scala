package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev driver: what does RELATION RESOLUTION cost on the explicit-path
  * snapshot read (readEntries) as the file count grows? Planning only —
  * no job runs. Run: sbt "Test/runMain graft.lake.ResolveTaxProbe"
  */
object ResolveTaxProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def batch(k: Int) =
      (0 until 50).map(i => (k * 1000L + i, s"p${k % 4}", i * 1.0))
        .toDF("id", "part", "v")
    Seq(10, 30, 60, 120).foreach { n =>
      val dir = java.nio.file.Files.createTempDirectory("graft_rtax")
        .resolve("t").toString
      TxnLake.create(spark, dir, batch(0), "part", statsCol = Some("v"))
      (1 until n).foreach(k => TxnLake.append(spark, dir, batch(k)))
      val m = TxnLake.resolve(spark, dir).get
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      val paths = m.files.map(_.locate(dir))
      // warm once (codegen etc.)
      spark.read.schema(schema).parquet(paths: _*).queryExecution.analyzed
      (1 to 3).foreach { r =>
        val t0 = System.nanoTime()
        val df = spark.read.schema(schema).parquet(paths: _*)
        df.queryExecution.analyzed
        val tPlan = ms(t0)
        val t1 = System.nanoTime()
        df.count()
        println(f"[resolve-tax] files=${m.files.size}%4d run$r plan=${tPlan}%7.1f ms  count=${ms(t1)}%7.1f ms")
      }
      // the graft-txn source path for comparison
      (1 to 3).foreach { r =>
        val t0 = System.nanoTime()
        val df = spark.read.format("graft-txn").load(dir)
        df.queryExecution.analyzed
        val tPlan = ms(t0)
        val t1 = System.nanoTime()
        df.count()
        println(f"[resolve-tax] files=${m.files.size}%4d run$r graft-txn plan=${tPlan}%7.1f ms  count=${ms(t1)}%7.1f ms")
      }
      // decompose graft-txn planning
      (1 to 2).foreach { r =>
        var t0 = System.nanoTime()
        val m2 = TxnLake.resolve(spark, dir).get
        val tResolve = ms(t0)
        t0 = System.nanoTime()
        val st = TxnFileIndex.statusesFor(spark, new org.apache.hadoop.fs.Path(dir), m2.files)
        val tStatuses = ms(t0)
        t0 = System.nanoTime()
        val idx = new TxnFileIndex(spark, dir, m2)
        val tIndex = ms(t0)
        t0 = System.nanoTime()
        val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          idx, idx.partitionSchema, schema, None,
          new TxnReadOnlyParquetFormat, Map.empty[String, String])(spark)
        val tRel = ms(t0)
        println(f"[resolve-tax] files=${m.files.size}%4d run$r decompose resolve=$tResolve%6.1f statuses=$tStatuses%6.1f (${st.size} st) index=$tIndex%6.1f rel=$tRel%6.1f ms")
      }
    }
    spark.stop()
  }
}
