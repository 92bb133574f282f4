package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev driver: CHECKPOINT / SNAPSHOT-STATE scaling (VERDICT r17 #1).
  * The single-JSON checkpoint was the log's remaining 100-TB ceiling:
  * write and read both O(table files) of driver-side JSON. This probe
  * measures, at 1k / 10k / 100k manifest entries (100k entries ×
  * ~128 MB files ≈ 12.8 TB of data; a 100 TB table at 1 GB files is
  * the same order):
  *
  *   - checkpoint WRITE: single-JSON vs parquet multi-part (bytes + ms)
  *   - checkpoint READ (cold cache): JSON parse vs parquet collect
  *   - LAZY planning path: a partition-pruned count over
  *     [[TxnLake.fileEntriesDf]] — the file list never materializes on
  *     the driver at all (the TxnFileIndex scale path)
  *   - retained driver heap of the decoded entry list, for scale
  *     context (both formats decode to the same Seq when materialized)
  *
  * Run: sbt "Test/runMain graft.lake.ManifestScaleProbe [maxEntries]"
  */
object ManifestScaleProbe {
  def main(args: Array[String]): Unit = {
    val maxN = if (args.nonEmpty) args(0).toInt else 100000
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val conf = spark.sparkContext.hadoopConfiguration

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def heapNow(): Long = {
      System.gc(); Thread.sleep(50); System.gc()
      Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    }
    def dirBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum
      finally s.close()
    }

    Seq(1000, 10000, 100000, 1000000).filter(_ <= maxN).foreach { n =>
      val files = (0 until n).map { i =>
        TxnLake.FileEntry(
          path = f"_graft_data/c$i%08d-0000-4000-8000-000000000000/__txn_pk=p${i % 1024}/part-00000.parquet",
          parts = Set(Some(s"p${i % 1024}")),
          zmin = Some(i.toDouble), zmax = Some(i + 50.0),
          spec = Some("part"),
          stats = Map("o_orderdate" -> (i.toDouble, i + 50.0),
            "o_totalprice" -> (i * 2.0, i * 2.0 + 99.0)),
          rows = 50000L, bytes = 128L * 1024 * 1024, doomed = 0L,
          mtime = 1L)
      }
      val m = TxnLake.Manifest(10L, f"probe$n%08d", "part",
        "id BIGINT, part STRING, o_orderdate DOUBLE, o_totalprice DOUBLE",
        Set.empty, files, statsCol = None,
        txns = Map("probe-app" -> 7L), identity = Map("id" -> 123L))

      // ---- single-JSON checkpoint (threshold above n) ----
      val jd = java.nio.file.Files.createTempDirectory(s"graft_msp_j$n")
        .resolve("t").toString
      val jfs = TxnLake.fsOf(spark, jd)
      jfs.mkdirs(new org.apache.hadoop.fs.Path(jd, "_graft_log"))
      spark.conf.set("spark.graft.txnlake.parquetCheckpointThreshold",
        Int.MaxValue.toString)
      var t0 = System.nanoTime()
      TxnLake.publishCheckpoint(spark, jfs, jd, m)
      val jsonWriteMs = ms(t0)
      val jsonBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(jd, "_graft_log", "v00000010.ckpt.json"))
      t0 = System.nanoTime()
      val mj = TxnLake.readManifest(jfs, TxnLake.checkpointPath(jd, 10L))
      val jsonReadMs = ms(t0)
      require(mj.files.size == n && mj.txns("probe-app") == 7L)

      // ---- parquet multi-part checkpoint (threshold below n) ----
      val pd = java.nio.file.Files.createTempDirectory(s"graft_msp_p$n")
        .resolve("t").toString
      val pfs = TxnLake.fsOf(spark, pd)
      pfs.mkdirs(new org.apache.hadoop.fs.Path(pd, "_graft_log"))
      spark.conf.set("spark.graft.txnlake.parquetCheckpointThreshold", "1")
      spark.conf.set("spark.graft.txnlake.checkpointPartRows", "25000")
      t0 = System.nanoTime()
      TxnLake.publishCheckpoint(spark, pfs, pd, m)
      val pqWriteMs = ms(t0)
      val pqBytes = dirBytes(
        java.nio.file.Paths.get(pd, "_graft_log", "v00000010.ckpt.files")) +
        java.nio.file.Files.size(
          java.nio.file.Paths.get(pd, "_graft_log", "v00000010.ckpt.json"))
      // header-only resolve (r20): the payload is NOT decoded here
      t0 = System.nanoTime()
      val mp = TxnLake.readManifest(pfs, TxnLake.checkpointPath(pd, 10L))
      val headerMs = ms(t0)
      val lazyList = mp.files match {
        case l: TxnLake.LazyCkptFiles => l
        case other => sys.error(s"expected lazy files, got ${other.getClass}")
      }
      require(!lazyList.isMaterialized, "resolve must not decode the payload")

      // ---- LAZY PLANNING (r20, VERDICT r19 #1): TxnFileIndex over the
      // UNMATERIALIZED manifest — construction answers partition-mode/
      // size via ONE aggregate job, a partition-pruned listFiles pushes
      // the predicate into an executor-parallel payload filter and
      // collects only survivors. Driver heap stays O(survivors); the
      // entries name files that never existed, so a successful plan
      // PROVES no listing ran.
      val h0lazy = heapNow()
      t0 = System.nanoTime()
      val lazyIdx = new TxnFileIndex(spark, pd, mp)
      val lazyCtorMs = ms(t0)
      t0 = System.nanoTime()
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
      import org.apache.spark.sql.types.StringType
      val partEq = EqualTo(AttributeReference("part", StringType)(), Literal("p7"))
      val lazyPruned = lazyIdx.listFiles(Seq(partEq), Nil).map(_.files.length).sum
      val lazyPlanMs = ms(t0)
      val lazyHeap = heapNow() - h0lazy
      val expectP7 = n / 1024 + (if (n % 1024 > 7) 1 else 0)
      require(lazyPruned == expectP7, s"lazy pruned=$lazyPruned expected=$expectP7")
      require(!lazyList.isMaterialized,
        "lazy planning must not materialize the file list on the driver")

      // full materialization (the old eager read cost, now paid only by
      // consumers that genuinely need the whole Seq)
      t0 = System.nanoTime()
      require(mp.files.size == n && mp.txns("probe-app") == 7L &&
        mp.identity("id") == 123L)
      val pqReadMs = ms(t0)
      require(mp.files.sortBy(_.path) == mj.files.sortBy(_.path),
        "parquet and JSON checkpoints must decode identically")

      // ---- lazy planning path: pruned count, no driver materialization
      t0 = System.nanoTime()
      val pruned = TxnLake.fileEntriesDf(spark, pd, Some(10L))
        .filter(array_contains(col("parts"), "p7")).count()
      val lazyMs = ms(t0)
      val expect = n / 1024 + (if (n % 1024 > 7) 1 else 0)
      require(pruned == expect, s"pruned=$pruned expected=$expect")

      // ---- PLANNING path (r19): TxnFileIndex over the manifest — the
      // statuses synthesize from FileEntry.bytes with ZERO fs calls
      // (the entries here point at files that never existed, so a
      // nonzero listFiles count PROVES no listing ran), and a pruned
      // listFiles evaluates the partition predicate manifest-only
      t0 = System.nanoTime()
      val idx = new TxnFileIndex(spark, pd, m)
      val planned = idx.listFiles(Nil, Nil).map(_.files.length).sum
      val idxMs = ms(t0)
      require(planned == n, s"planned=$planned expected=$n")

      // ---- retained heap of the decoded list (both formats identical)
      val h0 = heapNow()
      val held = mp.files.toArray // force retention
      val h1 = heapNow()
      val entryHeap = h1 - h0
      require(held.length == n)

      println(f"[manifest-scale] n=$n%7d | json: write $jsonWriteMs%8.1f ms " +
        f"read $jsonReadMs%8.1f ms ${jsonBytes / 1024.0 / 1024}%7.2f MB | " +
        f"parquet: write $pqWriteMs%8.1f ms header $headerMs%6.1f ms " +
        f"materialize $pqReadMs%8.1f ms " +
        f"${pqBytes / 1024.0 / 1024}%7.2f MB | lazy-pruned-count $lazyMs%8.1f ms " +
        f"| LAZY plan(ctor $lazyCtorMs%7.1f ms + pruned listFiles " +
        f"$lazyPlanMs%7.1f ms, heap ~${lazyHeap / 1024.0 / 1024}%6.1f MB) " +
        f"| eager plan(index+listFiles) $idxMs%8.1f ms " +
        f"| decoded-heap ~${entryHeap / 1024.0 / 1024}%6.1f MB")
    }
    spark.stop()
  }
}
