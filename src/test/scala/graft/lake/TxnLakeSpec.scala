package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class TxnLakeSpec extends AnyFunSuite with SparkTestSession {

  private def freshDir(): String =
    Files.createTempDirectory("graft_txn").resolve("t").toString

  private def freshTxnTable(): String = {
    import spark.implicits._
    val dir = freshDir()
    TxnLake.create(spark,
      dir,
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3"))
        .toDF("id", "name", "part"),
      "part")
    dir
  }

  private def rows(dir: String): Seq[(Long, String, String)] =
    TxnLake.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[String]("part"))).toSeq

  test("four REAL threads racing 20 appends: every commit lands exactly once") {
    // the sequential interleaving tests above pin OCC's rebase logic;
    // this drives it under genuine contention — four threads hammer
    // the same log head, every publishRecord loser must rebase and
    // retry until its append lands, and the final log is a contiguous
    // version chain holding every row exactly once
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dir = freshTxnTable() // v0: 4 rows
    val done = Future.sequence((1 to 4).map { t =>
      Future {
        (1 to 5).foreach { i =>
          TxnLake.append(spark, dir,
            Seq((t * 1000L + i, s"w$t-$i", s"p${t % 2}")).toDF("id", "name", "part"))
        }
      }
    })
    Await.result(done, 180.seconds)
    assert(TxnLake.read(spark, dir).count() === 24L) // 4 + 4x5
    assert(TxnLake.rowCount(spark, dir) === Some(24L))
    val versions = TxnLake.history(spark, dir)
      .select("version").collect().map(_.getLong(0)).sorted
    assert(versions === (0L to 20L).toArray, "20 appends = versions 1..20, no gaps")
    // no row duplicated or lost under the retries
    assert(TxnLake.read(spark, dir).select("id").distinct().count() === 24L)
  }

  test("maxRecordsPerFile splits hot partitions into several single-value files") {
    import spark.implicits._
    val dir = freshDir()
    val key = "spark.graft.txnlake.maxRecordsPerFile"
    spark.conf.set(key, "10")
    try TxnLake.create(spark, dir,
      (1L to 40L).map(i => (i, s"n$i", "hot")).toDF("id", "name", "part"), "part")
    finally spark.conf.unset(key)
    val m = TxnLake.resolve(spark, dir).get
    assert(m.files.size >= 4, s"40 rows at cap 10 need >=4 files, got ${m.files.size}")
    assert(m.files.forall(_.parts === Set(Option("hot"))),
      "splitting must not widen any file's partition-value set")
    assert(TxnLake.read(spark, dir).count() === 40L)
    // OPTIMIZE honors the cap too: compaction re-stages under the same knob
    spark.conf.set(key, "20")
    try TxnLake.optimize(spark, dir, minFiles = 2)
    finally spark.conf.unset(key)
    val after = TxnLake.resolve(spark, dir).get
    assert(after.files.size === 2 && TxnLake.read(spark, dir).count() === 40L)
  }

  test("create/read round-trip preserves rows and schema") {
    val dir = freshTxnTable()
    assert(rows(dir) === Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3")))
    assert(TxnLake.read(spark, dir).schema.map(f => (f.name, f.dataType.simpleString)) ===
      Seq("id" -> "bigint", "name" -> "string", "part" -> "string"))
  }

  test("upsert updates matched keys, inserts unmatched, moves rows between partitions") {
    import spark.implicits._
    val dir = freshTxnTable()
    TxnLake.upsert(spark, dir,
      Seq((2L, "b2", "p1"), (5L, "e", "p2")).toDF("id", "name", "part"), "id")
    assert(rows(dir) === Seq((1L, "a", "p1"), (2L, "b2", "p1"), (3L, "c", "p2"),
      (4L, "d", "p3"), (5L, "e", "p2")))
    // cross-partition move: key 3 p2 -> p3, old copy must disappear
    TxnLake.upsert(spark, dir, Seq((3L, "c2", "p3")).toDF("id", "name", "part"), "id")
    assert(rows(dir) === Seq((1L, "a", "p1"), (2L, "b2", "p1"), (3L, "c2", "p3"),
      (4L, "d", "p3"), (5L, "e", "p2")))
  }

  test("a reader concurrent with a commit sees its snapshot — old state, never a mix") {
    import spark.implicits._
    val dir = freshTxnTable()
    // binds to version 0's file list at construction
    val snapshot = TxnLake.read(spark, dir)
    TxnLake.upsert(spark, dir,
      Seq((1L, "a9", "p1"), (9L, "i", "p9")).toDF("id", "name", "part"), "id")
    val seen = snapshot.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))).toSeq
    assert(seen === Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      "snapshot reader must see exactly the state it resolved")
    assert(rows(dir).map(t => (t._1, t._2)) ===
      Seq(1L -> "a9", 2L -> "b", 3L -> "c", 4L -> "d", 9L -> "i"),
      "a fresh read resolves the new commit")
  }

  test("untouched partitions' files are not rewritten by a commit") {
    import spark.implicits._
    val dir = freshTxnTable()
    val before = TxnLake.resolve(spark, dir).get.files
      .filter(_.parts.contains(Some("p3"))).map(_.path).toSet
    assert(before.nonEmpty)
    TxnLake.upsert(spark, dir, Seq((2L, "b2", "p1")).toDF("id", "name", "part"), "id")
    val after = TxnLake.resolve(spark, dir).get.files
      .filter(_.parts.contains(Some("p3"))).map(_.path).toSet
    assert(after === before, "p3 held no touched keys — its files must carry over untouched")
  }

  test("NULL and Hive-escaped partition values are ordinary values") {
    import spark.implicits._
    val dir = freshDir()
    val nasty = "2024/07:x=y %z" // every character class the hive swap refused
    TxnLake.create(spark, dir,
      Seq((1L, "a", nasty), (2L, "b", null)).toDF("id", "name", "part"), "part")
    TxnLake.upsert(spark, dir,
      Seq((2L, "b2", null), (3L, "c", nasty)).toDF("id", "name", "part"), "id")
    val got = TxnLake.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[String]("part"))).toSeq
    assert(got === Seq((1L, "a", nasty), (2L, "b2", null), (3L, "c", nasty)))
  }

  test("concurrent commits on disjoint partitions both land (rebase)") {
    import spark.implicits._
    val dir = freshTxnTable()
    val base = TxnLake.resolve(spark, dir).get
    // stage a p1 merge against version 0, but let a p3 merge commit first
    val staged = TxnLake.stageMerge(spark, dir, base,
      Seq((2L, "b2", "p1")).toDF("id", "name", "part"), "id").get
    TxnLake.upsert(spark, dir, Seq((4L, "d2", "p3")).toDF("id", "name", "part"), "id")
    TxnLake.commitStaged(spark, dir, staged) // rebases onto the p3 commit
    assert(rows(dir) === Seq((1L, "a", "p1"), (2L, "b2", "p1"), (3L, "c", "p2"),
      (4L, "d2", "p3")), "both disjoint commits must land")
    assert(TxnLake.resolve(spark, dir).get.version === 2L)
  }

  test("concurrent commits on the SAME partition: one wins, the other aborts loudly") {
    import spark.implicits._
    val dir = freshTxnTable()
    val base = TxnLake.resolve(spark, dir).get
    val staged = TxnLake.stageMerge(spark, dir, base,
      Seq((2L, "b2", "p1")).toDF("id", "name", "part"), "id").get
    TxnLake.upsert(spark, dir, Seq((1L, "a9", "p1")).toDF("id", "name", "part"), "id")
    assertThrows[java.util.ConcurrentModificationException] {
      TxnLake.commitStaged(spark, dir, staged)
    }
    // the winner's commit stands untouched; the loser left no files behind
    assert(rows(dir) === Seq((1L, "a9", "p1"), (2L, "b", "p1"), (3L, "c", "p2"),
      (4L, "d", "p3")))
  }

  test("vacuum drops unreferenced files and old manifests, keeps the live snapshot") {
    import spark.implicits._
    val dir = freshTxnTable()
    TxnLake.upsert(spark, dir, Seq((2L, "b2", "p1")).toDF("id", "name", "part"), "id")
    TxnLake.upsert(spark, dir, Seq((2L, "b3", "p1")).toDF("id", "name", "part"), "id")
    val live = TxnLake.resolve(spark, dir).get.files.map(_.path).toSet
    TxnLake.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    import scala.jdk.CollectionConverters._
    val onDisk = Files.walk(java.nio.file.Paths.get(dir, "_graft_data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Paths.get(dir).relativize(p).toString).toSet
    assert(onDisk === live, s"vacuum must keep exactly the live snapshot's files: $onDisk vs $live")
    assert(rows(dir).map(t => (t._1, t._2)) ===
      Seq(1L -> "a", 2L -> "b3", 3L -> "c", 4L -> "d"))
    // only the latest version's log remains: its delta record plus the
    // checkpoint vacuum materializes so it resolves without the chain
    // (each with its integrity sidecar)
    assert(Files.list(java.nio.file.Paths.get(dir, "_graft_log")).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet ===
      Set("v00000002.json", "v00000002.ckpt.json"))
  }

  test("vacuum's DISTRIBUTED sweep (Spark-job deletes) equals the sequential path") {
    import spark.implicits._
    val dir = freshTxnTable()
    TxnLake.upsert(spark, dir, Seq((2L, "b2", "p1")).toDF("id", "name", "part"), "id")
    TxnLake.upsert(spark, dir, Seq((2L, "b3", "p1")).toDF("id", "name", "part"), "id")
    val live = TxnLake.resolve(spark, dir).get.files.map(_.path).toSet
    // force the Spark-job sweep regardless of commit-dir count
    spark.conf.set("spark.graft.txnlake.vacuumParallelMinDirs", "1")
    try TxnLake.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    finally spark.conf.unset("spark.graft.txnlake.vacuumParallelMinDirs")
    import scala.jdk.CollectionConverters._
    val onDisk = Files.walk(java.nio.file.Paths.get(dir, "_graft_data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Paths.get(dir).relativize(p).toString).toSet
    assert(onDisk === live,
      s"distributed sweep must keep exactly the live files: $onDisk vs $live")
    assert(rows(dir).map(t => (t._1, t._2)) ===
      Seq(1L -> "a", 2L -> "b3", 3L -> "c", 4L -> "d"))
  }

  test("empty updates commit nothing (version unchanged)") {
    import spark.implicits._
    val dir = freshTxnTable()
    TxnLake.upsert(spark, dir,
      Seq.empty[(Long, String, String)].toDF("id", "name", "part"), "id")
    assert(TxnLake.resolve(spark, dir).get.version === 0L)
  }

  test("NULL merge keys are still rejected") {
    import spark.implicits._
    val dir = freshTxnTable()
    val bad = Seq((Some(2L), "x", "p1"), (None, "lost", "p1")).toDF("id", "name", "part")
    assertThrows[IllegalArgumentException](TxnLake.upsert(spark, dir, bad, "id"))
    assert(TxnLake.resolve(spark, dir).get.version === 0L, "failed merge must not commit")
  }

  test("typed (non-string) partition columns render consistently") {
    import spark.implicits._
    val dir = freshDir()
    TxnLake.create(spark, dir,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "part"), "part")
    // update carries the partition as a string literal — castToTarget
    // aligns it to INT before the manifest index renders it
    TxnLake.upsert(spark, dir, Seq((2L, "b2", "20"), (3L, "c", "10"))
      .toDF("id", "name", "part"), "id")
    val got = TxnLake.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[Int]("part"))).toSeq
    assert(got === Seq((1L, "a", 10), (2L, "b2", 20), (3L, "c", 10)))
    // pruning actually keyed on the rendered int: only part=10's files rewritten
    val m = TxnLake.resolve(spark, dir).get
    assert(m.touched === Set(Some("20"), Some("10")))
  }

  test("time travel: every retained version re-reads its exact snapshot") {
    import spark.implicits._
    val dir = freshTxnTable()
    TxnLake.upsert(spark, dir, Seq((2L, "b2", "p1"), (5L, "e", "p2")).toDF("id", "name", "part"), "id")
    TxnLake.upsert(spark, dir, Seq((5L, "e2", "p3")).toDF("id", "name", "part"), "id")
    def at(v: Long): Seq[(Long, String)] =
      TxnLake.readVersion(spark, dir, v).orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))).toSeq
    assert(at(0L) === Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    assert(at(1L) === Seq(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d", 5L -> "e"))
    assert(at(2L) === Seq(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d", 5L -> "e2"))
    // latest == readVersion(head)
    assert(rows(dir).map(t => (t._1, t._2)) === at(2L))
  }

  test("delete removes keyed rows transactionally with partition pruning") {
    import spark.implicits._
    val dir = freshTxnTable()
    val p3Before = TxnLake.resolve(spark, dir).get.files
      .filter(_.parts.contains(Some("p3"))).map(_.path).toSet
    TxnLake.delete(spark, dir, Seq(2L, 3L).toDF("id"), "id")
    assert(rows(dir) === Seq((1L, "a", "p1"), (4L, "d", "p3")))
    assert(TxnLake.resolve(spark, dir).get.version === 1L)
    val p3After = TxnLake.resolve(spark, dir).get.files
      .filter(_.parts.contains(Some("p3"))).map(_.path).toSet
    assert(p3After === p3Before, "p3 held no doomed keys — its files must carry over")
    // deleting nothing commits nothing
    TxnLake.delete(spark, dir, Seq(99L).toDF("id"), "id")
    assert(TxnLake.resolve(spark, dir).get.version === 1L)
  }

  test("changes(from,to) yields net insert/update/delete rows, ride-alongs suppressed") {
    import spark.implicits._
    val dir = freshTxnTable()
    // v1: update 2 (p1 ride-along: 1), insert 5; v2: delete 3, and update
    // 5 AGAIN so the v0->v2 net must collapse insert+update into 'insert'
    // with the FINAL image, never the intermediate one
    TxnLake.upsert(spark, dir, Seq((2L, "b2", "p1"), (5L, "e", "p2")).toDF("id", "name", "part"), "id")
    TxnLake.delete(spark, dir, Seq(3L).toDF("id"), "id")
    TxnLake.upsert(spark, dir, Seq((5L, "e2", "p2")).toDF("id", "name", "part"), "id")
    val net = TxnLake.changes(spark, dir, 0L, 3L, "id").orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[String]("_change_type"))).toSeq
    assert(net === Seq((2L, "b2", "update"), (3L, "c", "delete"), (5L, "e2", "insert")),
      "rows 1 and 4 never changed and must not surface")
    // a single-commit window sees only that commit's changes
    val step = TxnLake.changes(spark, dir, 1L, 2L, "id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSeq
    assert(step === Seq(3L -> "delete"))
    assertThrows[IllegalArgumentException](TxnLake.changes(spark, dir, 2L, 2L, "id"))
  }

  test("schema evolution: upsert with a new column null-fills old files, old versions unchanged") {
    import spark.implicits._
    val dir = freshTxnTable()
    TxnLake.upsert(spark, dir,
      Seq((2L, "b2", "p1", 42)).toDF("id", "name", "part", "score"), "id")
    val latest = TxnLake.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        Option(r.getAs[Any]("score")))).toSeq
    assert(latest === Seq((1L, "a", None), (2L, "b2", Some(42)),
      (3L, "c", None), (4L, "d", None)),
      "old rows must null-fill the evolved column; p2/p3 files untouched")
    // time travel: the pre-evolution snapshot still has exactly 3 columns
    assert(TxnLake.readVersion(spark, dir, 0L).columns.toSeq === Seq("id", "name", "part"))
    // dropping a column is NOT evolution — loud abort, nothing committed
    assertThrows[IllegalArgumentException] {
      TxnLake.upsert(spark, dir, Seq((3L, "c9", "p2")).toDF("id", "name", "part"), "id")
    }
    assert(TxnLake.resolve(spark, dir).get.version === 1L)
  }

  test("zone maps: range reads skip non-intersecting files; results equal a full filter") {
    import spark.implicits._
    val dir = freshDir()
    // bucket correlates with id, so each file gets a tight id zone —
    // the layout a range-queried lake table is maintained in
    val df = spark.range(0, 400)
      .select(col("id"), (col("id") / lit(100)).cast("long").as("bucket"))
    TxnLake.create(spark, dir, df, "bucket", statsCol = Some("id"))
    val pruned = TxnLake.readRange(spark, dir, 120, 130)
    assert(pruned.select("id").as[Long].collect().sorted.toSeq === (120L to 130L))
    // the files the scans open: the range prunes at planning time, and
    // a frame's inputFiles lists its whole snapshot, filtered or not
    val allFiles = scannedFiles(TxnLake.read(spark, dir))
    assert(allFiles >= 4, s"expected one file per bucket, got $allFiles")
    val read = scannedFiles(pruned)
    assert(read < allFiles, s"zone maps pruned nothing: $read of $allFiles files read")
    // boundary inclusivity
    assert(TxnLake.readRange(spark, dir, 399, 500).select("id").as[Long].collect().toSeq === Seq(399L))
  }

  test("zone maps survive upserts: rewritten files carry fresh bounds") {
    import spark.implicits._
    val dir = freshDir()
    val df = spark.range(0, 200)
      .select(col("id"), (col("id") / lit(50)).cast("long").as("bucket"))
    TxnLake.create(spark, dir, df, "bucket", statsCol = Some("id"))
    // move id 10 to value 999 via an upsert that keeps its bucket
    TxnLake.upsert(spark, dir,
      Seq((999L, 0L)).toDF("id", "bucket"), "id")
    val hi = TxnLake.readRange(spark, dir, 900, 1000).select("id").as[Long].collect().toSeq
    assert(hi === Seq(999L), "the rewritten file's new max must be visible to range reads")
    val untouched = TxnLake.readRange(spark, dir, 60, 70).select("id").as[Long].collect().sorted.toSeq
    assert(untouched === (60L to 70L))
  }

  test("tables without a stats column refuse range reads instead of scanning everything silently") {
    val dir = freshTxnTable()
    val ex = intercept[IllegalArgumentException] {
      TxnLake.readRange(spark, dir, 0, 10)
    }
    assert(ex.getMessage.contains("stats column"))
  }

  test("history lists every version with touched partitions; vacuumed versions fail loudly") {
    import spark.implicits._
    val dir = freshTxnTable()
    TxnLake.upsert(spark, dir, Seq((2L, "b2", "p1")).toDF("id", "name", "part"), "id")
    val h = TxnLake.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq === Seq(0L, 1L))
    assert(h(1).getAs[Seq[String]]("touched_partitions") === Seq("p1"))
    assert(h.forall(_.getAs[Int]("n_files") > 0))
    TxnLake.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    // version 0 is gone: loud failure, not a partial read
    assertThrows[IllegalArgumentException](TxnLake.readVersion(spark, dir, 0L))
    assert(TxnLake.readVersion(spark, dir, 1L).count() === 4L)
    assert(TxnLake.history(spark, dir).collect().map(_.getAs[Long]("version")).toSeq === Seq(1L))
  }

  test("append lands rows without rewriting any base file; optimize compacts and changes no row") {
    import spark.implicits._
    val dir = freshTxnTable()
    val filesV0 = TxnLake.detail(spark, dir, 0L).select("path").collect().map(_.getString(0)).toSet
    TxnLake.append(spark, dir, Seq((10L, "x", "p1")).toDF("id", "name", "part"))
    TxnLake.append(spark, dir, Seq((11L, "y", "p1")).toDF("id", "name", "part"))
    val d1 = TxnLake.detail(spark, dir)
    assert(filesV0.subsetOf(d1.select("path").collect().map(_.getString(0)).toSet),
      "append must carry every base file over by reference")
    assert(d1.filter(col("part_value") === "p1").count() === 3L,
      "two appends + create must leave p1 fragmented across 3 files")
    val before = rows(dir)
    val st = TxnLake.optimize(spark, dir)
    assert(st.partitionsCompacted === 1 && st.filesAfter < st.filesBefore)
    assert(TxnLake.detail(spark, dir).filter(col("part_value") === "p1").count() === 1L)
    assert(rows(dir) === before, "optimize must be a pure layout change")
    // pre-optimize version still resolves its fragmented layout (time travel)
    assert(TxnLake.detail(spark, dir, st.version - 1)
      .filter(col("part_value") === "p1").count() === 3L)
    assert(TxnLake.readVersion(spark, dir, st.version - 1).count() === before.size.toLong)
  }

  test("optimize on a compact table is a no-op commit-wise") {
    val dir = freshTxnTable()
    val v = TxnLake.resolve(spark, dir).get.version
    val st = TxnLake.optimize(spark, dir)
    assert(st.partitionsCompacted === 0 && st.version === v,
      "nothing fragmented -> no commit published")
  }

  test("a blind append rebases over ANY intervening commit, even of the same partition") {
    import spark.implicits._
    val dir = freshTxnTable()
    val base = TxnLake.resolve(spark, dir).get
    // stage an append against version 0, then let a SAME-partition merge
    // commit first — the append must rebase (it invalidates no reader
    // and read no base state), where a staged MERGE would abort
    val staged = TxnLake.stageAppend(spark, dir, base,
      Seq((12L, "z", "p1")).toDF("id", "name", "part")).get
    TxnLake.upsert(spark, dir, Seq((1L, "a9", "p1")).toDF("id", "name", "part"), "id")
    TxnLake.commitStaged(spark, dir, staged)
    assert(rows(dir).contains((1L, "a9", "p1")) && rows(dir).contains((12L, "z", "p1")),
      "merge and append must both land")
    assert(TxnLake.resolve(spark, dir).get.version === base.version + 2)
  }
}
