package graft

import org.apache.spark.sql.SparkSession

/** The local session the `Bench`, `Verify` and `ScaleBench` mains run
  * in — one definition, so the session that checks answers is the
  * session that is timed. */
object LocalSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // lets AQE re-plan on top of cached frames instead of pinning
      // their pre-AQE output partitioning (VERDICT r7 #1)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // lake manifest rowCount → plan stats (graft.lake.TxnCboStats —
      // Delta surfaces its log rowCount the same way; without this flag
      // toPlanStats stays size-only)
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.lake.TxnCboStats.install(spark)
    graft.lake.GeneratedPartitionPruning.install(spark)
    spark
  }
}
