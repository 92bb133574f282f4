package graft.lake

/** Read access to [[TxnLake]]'s log-I/O counters and deletion-vector
  * directory name for the benchmark. */
object LakeCounters {
  def snapshot: Map[String, Long] = TxnLake.Metrics.snapshot
  val DvDir: String = TxnLake.DvDir
}
