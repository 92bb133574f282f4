package graft.lake

import org.apache.spark.sql.SparkSession

/** Dev driver: dumps the physical plan of the lazy checkpoint-payload
  * prune ([[TxnLake.LazyCkptFiles.prunedEntries]]) with and without the
  * codegen plan-prefilter ([[TxnFileIndex.planPrefilter]]), over a REAL
  * parquet-checkpointed table. The claim the dump proves: with the
  * prefilter, non-surviving payload rows are killed by a
  * whole-stage-codegen `Filter` over the raw columnar scan BEFORE the
  * per-row `DeserializeToObject` → typed-filter step; without it, every
  * payload row pays the object decode.
  *
  * Run: sbt "Test/runMain graft.lake.LazyPrefilterPlanDump" > plans/r20/...
  */
object LazyPrefilterPlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft_lpfd")
      .resolve("t").toString
    spark.conf.set("spark.graft.txnlake.parquetCheckpointThreshold", "1")
    spark.conf.set("spark.graft.txnlake.checkpointInterval", "2")
    def batch(p: String, base: Double) =
      (0 until 20).map(i => (s"$p-$i", p, base + i)).toDF("id", "part", "price")
    TxnLake.create(spark, dir, batch("p1", 0.0), "part", statsCol = Some("price"))
    TxnLake.append(spark, dir, batch("p2", 1000.0))
    TxnLake.append(spark, dir, batch("p3", 2000.0))

    val m = TxnLake.resolve(spark, dir).get
    val l = m.files match {
      case l: TxnLake.LazyCkptFiles => l
      case other => sys.error(s"expected LazyCkptFiles, got ${other.getClass}")
    }
    // the same conjunct shapes TxnFileIndex.listFiles derives from
    // `part = 'p2' AND price >= 1000` — partition set + stats range
    val ranges = Seq("price" -> (1000.0, Double.MaxValue))
    val psets = Seq(Set(Option("p2")))
    // plain captures only — the typed predicate ships to executors
    val (pc, sc, ds) = (m.partCol, m.statsCol, l.defaultSpec)
    val typed = (f: TxnLake.FileEntry) =>
      TxnFileIndex.entrySurvives(f, pc, sc, ranges, psets, Nil)
    val pre = TxnFileIndex.planPrefilter(pc, sc, ranges, psets, ds)

    // mirror prunedEntries' exact chain (same encoder, same order of
    // operations) so the dumped plan IS the prune job's plan
    def pruneDf(prefilter: Option[org.apache.spark.sql.Column]) = {
      val raw = spark.read.schema(TxnLake.ckptRowEncoder.schema)
        .parquet(l.payload)
      prefilter.fold(raw)(raw.filter)
        .as[TxnLake.CkptFileRow](TxnLake.ckptRowEncoder)
        .filter(r => typed(TxnLake.fromCkptRow(r, ds)))
    }

    println("=== payload prune WITHOUT plan-prefilter (every row decodes) ===")
    println(pruneDf(None).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    println("=== payload prune WITH plan-prefilter (codegen Filter below the decode) ===")
    println(pruneDf(pre).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    // parity on this table, for the record
    val a = pruneDf(None).collect().map(_.path).sorted.toSeq
    val b = pruneDf(pre).collect().map(_.path).sorted.toSeq
    require(a == b && a.nonEmpty, s"survivor mismatch: $a vs $b")
    println(s"=== survivors identical with and without prefilter: ${a.size} files ===")
    spark.stop()
  }
}
