package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** LAZY CHECKPOINT PLANNING (VERDICT r19 #1): a parquet-checkpointed
  * snapshot must plan without driver-materializing its file list —
  * `resolve` returns a [[TxnLake.LazyCkptFiles]], [[TxnFileIndex]]
  * prunes it with an executor-parallel filter over the payload, and
  * results are identical to a read over the materialized list. */
class LazyCkptPlanningSpec extends AnyFunSuite with SparkTestSession {

  private def freshDir(): String =
    Files.createTempDirectory("graft_lazyckpt").resolve("t").toString

  /** Force parquet checkpoints at ANY size and checkpoint every 2nd
    * commit, so small test tables exercise the 1M-entry code path:
    * a parquet base plus a live delta tail. */
  private def withLazyCheckpoints[A](f: => A): A = {
    spark.conf.set("spark.graft.txnlake.parquetCheckpointThreshold", "1")
    spark.conf.set("spark.graft.txnlake.checkpointInterval", "2")
    try f finally {
      spark.conf.unset("spark.graft.txnlake.parquetCheckpointThreshold")
      spark.conf.unset("spark.graft.txnlake.checkpointInterval")
    }
  }

  /** 3 partitions × separated price bands over several commits —
    * v0 create, v1..v2 appends (v2 lands a parquet checkpoint), v3
    * append = delta tail over the checkpointed base. */
  private def priceTable(): String = {
    import spark.implicits._
    val dir = freshDir()
    def batch(p: String, base: Double) =
      (0 until 20).map(i => (s"$p-$i", p, base + i)).toDF("id", "part", "price")
    TxnLake.create(spark, dir, batch("p1", 0.0), "part", statsCol = Some("price"))
    TxnLake.append(spark, dir, batch("p2", 1000.0))
    TxnLake.append(spark, dir, batch("p3", 2000.0))
    TxnLake.append(spark, dir, batch("p1", 3000.0))
    dir
  }

  private def lake(dir: String): DataFrame =
    spark.read.format("graft-txn").load(dir)

  test("resolve over a parquet checkpoint is lazy until a consumer needs the Seq") {
    withLazyCheckpoints {
      val dir = priceTable()
      val m = TxnLake.resolve(spark, dir).get
      m.files match {
        case l: TxnLake.LazyCkptFiles =>
          assert(!l.isMaterialized,
            "resolve itself must not decode the checkpoint payload")
          assert(l.tailAdds.nonEmpty, "v3 append must ride the lazy tail")
          // Seq access materializes exactly the eager snapshot
          assert(m.files.map(_.path).toSet.size === m.files.size)
          assert(l.isMaterialized)
        case other => fail(s"expected LazyCkptFiles, got ${other.getClass}")
      }
    }
  }

  test("lazy planning: results, pruning and sizeInBytes match the eager listing path") {
    withLazyCheckpoints {
      val dir = priceTable()
      def rows(df: DataFrame) = df.orderBy("id").collect().toSeq
      val lazyAll = rows(lake(dir))
      val lazyFiltered = rows(lake(dir).filter(col("price") >= 2000.0))
      // zone-map + partition pruning must still cut the scan
      assert(scannedFiles(lake(dir).filter(col("price") >= 3000.0)) <
        scannedFiles(lake(dir)))
      assert(scannedFiles(lake(dir).filter(col("part") === "p2")) <
        scannedFiles(lake(dir)))
      // plan-time size estimate: aggregate job ≡ summed entry bytes
      val m = TxnLake.resolve(spark, dir).get
      val idx = new TxnFileIndex(spark, dir, m)
      assert(idx.sizeInBytes === m.files.map(_.bytes).sum)
      // eager twin: a read of the same snapshot over its materialized
      // file list (TxnLake.read decodes the whole payload)
      val eager = TxnLake.read(spark, dir)
      assert(rows(eager) === lazyAll)
      assert(rows(eager.filter(col("price") >= 2000.0)) === lazyFiltered)
    }
  }

  test("lazy planning survives a delta tail with removes (OPTIMIZE rewrite)") {
    withLazyCheckpoints {
      val dir = priceTable()
      val before = lake(dir).orderBy("id").collect().toSeq
      // compaction removes base files and adds rewritten ones; the next
      // resolve folds those removes into the lazy dead-set
      TxnLake.optimize(spark, dir)
      val m = TxnLake.resolve(spark, dir).get
      m.files match {
        case l: TxnLake.LazyCkptFiles =>
          assert(!l.isMaterialized || l.deadBase.nonEmpty || l.tailAdds.nonEmpty)
        case _ => // optimize may have landed a fresh full checkpoint — fine
      }
      assert(lake(dir).orderBy("id").collect().toSeq === before)
      assert(lake(dir).filter(col("price") >= 2000.0).count() === 40)
    }
  }

  test("planPrefilter is a relaxation of entrySurvives on adversarial rows") {
    // the codegen prefilter may only ever keep MORE than the exact
    // typed predicate — a row it drops that entrySurvives keeps would
    // silently exclude a live file from the scan. Enumerate adversarial
    // row shapes (null partition values, off-spec files, missing
    // bounds, stats-map vs zone-map sources) × predicate
    // shapes and assert the implication on every pair.
    val rnd = new scala.util.Random(42)
    val partVals = Seq("p0", "p1", "p2", null)
    val statsPool = Seq("a", "b", "p_phys", "price")
    val rows = (0 until 400).map { i =>
      def maybe[A](a: A): Option[A] = if (rnd.nextBoolean()) Some(a) else None
      val nStats = rnd.nextInt(statsPool.size + 1)
      val sc = rnd.shuffle(statsPool).take(nStats).sorted
      val lo = sc.map(_ => rnd.nextInt(100).toDouble)
      TxnLake.CkptFileRow(
        path = f"_graft_data/c$i%08d/f.parquet",
        parts = Seq.fill(rnd.nextInt(3))(partVals(rnd.nextInt(partVals.size))),
        zmin = maybe(rnd.nextInt(100).toDouble),
        zmax = maybe(rnd.nextInt(100).toDouble + 100),
        bloom = None, dv = Nil,
        spec = Seq(Some("part"), Some("other"), None)(rnd.nextInt(3)),
        statsCols = sc, statsMin = lo, statsMax = lo.map(_ + 30),
        base = None, rows = 1L, bytes = 1L, doomed = 0L, mtime = 1L)
    }
    val scenarios = Seq(
      // (partCol, statsCol, colRanges, partSets)
      ("part", Some("price"), Seq("price" -> (10.0, 40.0)), Nil),
      ("part", Some("price"), Seq("a" -> (0.0, 20.0), "p_phys" -> (50.0, 60.0)),
        Seq(Set(Option("p1")))),
      ("part", None, Seq("missing" -> (0.0, 1.0)),
        Seq(Set(Option("p0"), Option.empty[String]))),
      ("part", Some("a"), Nil, Seq(Set(Option.empty[String]))),
      ("part2", Some("price"), Seq("price" -> (0.0, 5.0)), Seq(Set(Option("p2")))),
      ("part", None, Nil, Seq(Set.empty[Option[String]])))
    val df = spark.createDataset(rows)(TxnLake.ckptRowEncoder).toDF()
    scenarios.foreach { case (pc, statsCol, ranges, psets) =>
      val pre = TxnFileIndex.planPrefilter(pc, statsCol, ranges,
        psets, defaultSpec = "part")
      assert(pre.nonEmpty === (ranges.nonEmpty || psets.nonEmpty))
      val keptByPre: Set[String] = pre match {
        case Some(c) => df.filter(c).select("path").collect().map(_.getString(0)).toSet
        case None => rows.map(_.path).toSet
      }
      val keptByTyped = rows.filter(r => TxnFileIndex.entrySurvives(
        TxnLake.fromCkptRow(r, "part"), pc, statsCol, ranges, psets,
        Nil)).map(_.path)
      val dropped = keptByTyped.filterNot(keptByPre)
      assert(dropped.isEmpty,
        s"prefilter dropped live files under ($pc, $statsCol, $ranges, $psets): $dropped")
      // and it should actually prune in the common shapes (not lit(true))
      if (ranges.exists(r => statsCol.contains(r._1)) ||
          psets.exists(s => s.nonEmpty && !s.contains(None)))
        assert(keptByPre.size < rows.size,
          s"prefilter pruned nothing under ($pc, $statsCol, $ranges, $psets)")
    }
  }

  test("commits over a lazy base keep the log and the next checkpoint consistent") {
    withLazyCheckpoints {
      import spark.implicits._
      val dir = priceTable()
      // two more commits: v4 lands another parquet checkpoint written
      // FROM the lazy base (survivors ∪ adds, executor-parallel)
      TxnLake.append(spark, dir,
        (0 until 20).map(i => (s"p2x-$i", "p2", 4000.0 + i)).toDF("id", "part", "price"))
      TxnLake.append(spark, dir,
        (0 until 20).map(i => (s"p3x-$i", "p3", 5000.0 + i)).toDF("id", "part", "price"))
      assert(lake(dir).count() === 120)
      // the freshest checkpoint resolves alone (replay from it only)
      val head = TxnLake.resolve(spark, dir).get
      assert(head.files.size === lake(dir).select(
        input_file_name()).distinct().count())
      // time travel through the checkpointed history still works
      assert(spark.read.format("graft-txn").option("versionAsOf", "3")
        .load(dir).count() === 80)
    }
  }
}
