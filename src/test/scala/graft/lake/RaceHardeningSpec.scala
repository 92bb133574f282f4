package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Race hardenings around vacuum's advertisement lock, tag's
  * post-write re-validation, clone's lost-race cleanup, and the
  * end-anchored file-identity extraction ([[TxnLake.dataRel]]).
  * Each test pins a concrete interleaving that used to corrupt state:
  * a fresh lock swept by a concurrent acquirer's stale-clear, a ref
  * pinning a version a running vacuum is dropping, clone property
  * files surviving a lost create race, and a table ROOT containing
  * `_graft_data` as a path substring mis-keying `__txn_file`. */
class RaceHardeningSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def lockFile(dir: String) =
    new java.io.File(dir, "_graft_log/_vacuum.lock")

  private def mkTable(root: java.nio.file.Path): String = {
    val dir = root.resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 10L).map(i => (i, s"p${i % 2}")).toDF("id", "v"), "v")
    dir
  }

  test("a FRESH foreign vacuum lock is never deleted by a second vacuum's acquisition") {
    val dir = mkTable(Files.createTempDirectory("graft_race"))
    TxnLake.append(spark, dir, Seq((11L, "x")).toDF("id", "v"))
    val lock = lockFile(dir)
    // another vacuum's live advertisement (fresh mtime, foreign token)
    val out = new java.io.FileOutputStream(lock)
    out.write("someone-else".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException](TxnLake.vacuum(spark, dir, keepVersions = 1))
    assert(e.getMessage.contains("already in progress"))
    // the old code deleted the path before its exclusive create — the
    // fix only clears VERIFIABLY stale locks, so the live one survives
    assert(lock.exists(), "the live lock must survive a failed acquisition")
    assert(new String(Files.readAllBytes(lock.toPath), "UTF-8") === "someone-else")
  }

  test("a verifiably stale lock (crashed vacuum) is cleared and vacuum proceeds") {
    val dir = mkTable(Files.createTempDirectory("graft_race"))
    TxnLake.append(spark, dir, Seq((11L, "x")).toDF("id", "v"))
    val lock = lockFile(dir)
    val out = new java.io.FileOutputStream(lock)
    out.write("crashed".getBytes("UTF-8")); out.close()
    assert(lock.setLastModified(System.currentTimeMillis() - 2 * 60 * 60 * 1000L))
    TxnLake.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(!lock.exists(), "vacuum must release its own lock when done")
    assert(TxnLake.read(spark, dir).count() === 11L)
  }

  test("tag written while a vacuum advertises is rolled back and throws retryable") {
    val dir = mkTable(Files.createTempDirectory("graft_race"))
    TxnLake.append(spark, dir, Seq((11L, "x")).toDF("id", "v"))
    val lock = lockFile(dir)
    val out = new java.io.FileOutputStream(lock)
    out.write("live-vacuum".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException](TxnLake.tag(spark, dir, "release"))
    assert(e.getMessage.contains("raced a vacuum"))
    assert(!TxnLake.refs(spark, dir).contains("release"),
      "the dangling ref must be rolled back")
    lock.delete()
    // with no vacuum running the same tag lands fine
    assert(TxnLake.tag(spark, dir, "release") === 1L)
  }

  test("an aborted RE-tag restores the previous pin instead of dropping it") {
    val dir = mkTable(Files.createTempDirectory("graft_race"))
    TxnLake.tag(spark, dir, "stable", 0L)
    TxnLake.append(spark, dir, Seq((11L, "x")).toDF("id", "v"))
    val lock = lockFile(dir)
    val out = new java.io.FileOutputStream(lock)
    out.write("live-vacuum".getBytes("UTF-8")); out.close()
    intercept[IllegalStateException](TxnLake.tag(spark, dir, "stable", 1L))
    assert(TxnLake.refs(spark, dir)("stable") === 0L,
      "the prior pin must survive an aborted re-tag")
    lock.delete()
  }

  test("a clone aborted by a raced vacuum leaves nothing at dst (no property files)") {
    val root = Files.createTempDirectory("graft_race")
    val src = mkTable(root)
    TxnLake.setStatsColumns(spark, src, Seq("id"))
    val lock = lockFile(src)
    val out = new java.io.FileOutputStream(lock)
    out.write("live-vacuum".getBytes("UTF-8")); out.close()
    val dst = root.resolve("fork").toString
    intercept[IllegalStateException](TxnLake.clone(spark, src, dst))
    assert(!new java.io.File(dst, "_graft_log").exists(),
      "an aborted clone must leave no log dir — and so no property files — at dst")
    assert(TxnLake.refs(spark, src).isEmpty, "clone pins must be rolled back")
    lock.delete()
  }

  test("clone transfers stats + generated-column properties metadata-only") {
    val root = Files.createTempDirectory("graft_race")
    val src = root.resolve("src").toString
    TxnLake.create(spark, src,
      (1L to 6L).map(i => (i, i * 2L)).toDF("id", "twice"), "id")
    TxnLake.setStatsColumns(spark, src, Seq("id"))
    TxnLake.setGeneratedColumns(spark, src, Map("twice" -> "id * 2"))
    val dst = root.resolve("fork").toString
    TxnLake.clone(spark, src, dst)
    assert(TxnLake.statsColumnsOf(spark, dst) === Seq("id"))
    assert(TxnLake.generatedColumnsOf(spark, dst) === Map("twice" -> "id * 2"))
    // the invariant transferred ACTIVE: a violating append at dst fails
    intercept[Exception](
      TxnLake.append(spark, dst, Seq((100L, 7L)).toDF("id", "twice")))
    // and still metadata-only: no data bytes copied
    assert(!new java.io.File(dst, "_graft_data").exists())
  }

  test("vacuum's orphan-sidecar sweep: fresh .tmp staging survives, abandoned is collected") {
    val dir = mkTable(Files.createTempDirectory("graft_race"))
    TxnLake.append(spark, dir, Seq((11L, "x")).toDF("id", "v"))
    val log = new java.io.File(dir, "_graft_log")
    // a concurrent publisher's in-flight sidecar staging file — its
    // base `.tmp-...json` never exists; sweeping it would break that
    // commit's sidecar rename
    val inflight = new java.io.File(log, ".tmp-v00000009.json.crc")
    Files.write(inflight.toPath, "{}".getBytes("UTF-8"))
    // a genuine orphan: record long gone, sidecar left by an old crash
    val orphan = new java.io.File(log, "v99999999.json.crc")
    Files.write(orphan.toPath, "{}".getBytes("UTF-8"))
    TxnLake.vacuum(spark, dir, keepVersions = 1, graceMs = 60000L)
    assert(inflight.exists(),
      "a within-grace .tmp staging sidecar must survive the sweep")
    assert(!orphan.exists(), "true orphan sidecars are still collected")
    // the same staging file ABANDONED (crashed publisher, mtime past
    // the grace window) must not accumulate forever
    assert(inflight.setLastModified(System.currentTimeMillis() - 120000L))
    TxnLake.append(spark, dir, Seq((12L, "x")).toDF("id", "v"))
    TxnLake.vacuum(spark, dir, keepVersions = 1, graceMs = 60000L)
    assert(!inflight.exists(), "an abandoned .tmp staging sidecar is collected")
  }

  test("deleteWhere contention seam: disjoint writer rebases, overlapping writer aborts dropping its sidecar") {
    val root = Files.createTempDirectory("graft_occ")
    val dir = root.resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 40L).map(i => (i, s"p${i % 2}")).toDF("id", "v"), "v")
    def dvDirs: Set[String] = {
      val f = new java.io.File(dir, "_graft_dv")
      if (!f.exists()) Set.empty else f.list().toSet
    }
    // disjoint partitions: the interleaved writer commits first, the
    // staged writer's OCC check proves disjointness and REBASES
    val del = TxnLake.deleteWhere(spark, dir,
      col("v") === "p0" && col("id") <= 10L,
      () => { TxnLake.deleteWhere(spark, dir,
        col("v") === "p1" && col("id") <= 10L); () })
    assert(del === 5L) // ids 2,4,6,8,10
    assert(TxnLake.currentVersion(spark, dir) === 2L)
    val sidecarsAfterRebase = dvDirs
    assert(sidecarsAfterRebase.size === 2)
    // overlapping partition: the staged writer must abort and its
    // staged sidecar must be dropped (no orphan DV dir)
    intercept[java.util.ConcurrentModificationException] {
      TxnLake.deleteWhere(spark, dir,
        col("v") === "p0" && col("id") > 30L,
        () => { TxnLake.deleteWhere(spark, dir,
          col("v") === "p0" && col("id") > 20L && col("id") <= 30L); () })
    }
    assert(TxnLake.currentVersion(spark, dir) === 3L) // only the inner commit
    assert(dvDirs.size === 3, "the aborted writer's sidecar must be dropped")
    // final state = the serialized schedule: inner deletes applied, outer aborted
    assert(TxnLake.read(spark, dir).count() ===
      (40L - 5 - 5 - 5)) // the three applied deletes, 5 rows each
    assert(TxnLake.read(spark, dir).filter(col("id") > 30L).count() === 10L,
      "the aborted delete must leave its target rows live")
  }

  test("a merge and a deleteWhere on the same file: the loser aborts and leaves no staging behind") {
    val root = Files.createTempDirectory("graft_occ")
    val dir = root.resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 10L).map(i => (i, s"n$i", s"p${i % 2}")).toDF("id", "n", "part"), "part",
      changeFeed = true)
    def exists(rel: String) = new java.io.File(dir, rel).exists()
    // feed entries no record names: a loser's leftover stage
    def feedStages = Option(new java.io.File(dir, "_graft_cdc").list()).toSeq.flatten
      .map("_graft_cdc/" + _).filterNot(TxnLake.feedLog(spark, dir).flatMap(_.entry).toSet)
    // the merge stages first (dooming id 2 in p0's file), then a
    // delete of another row of that file commits: the merge loses
    val staged = TxnLake.stageMerge(spark, dir, TxnLake.resolve(spark, dir).get,
      Seq((2L, "m2", "p0")).toDF("id", "n", "part"), "id").get
    assert(staged.stagedDirs.exists(_.startsWith("_graft_dv/")) &&
      staged.stagedDirs.exists(_.startsWith("_graft_data/")) &&
      staged.stagedDirs.exists(_.startsWith("_graft_cdc/")))
    assert(staged.stagedDirs.forall(exists))
    assert(TxnLake.deleteWhere(spark, dir, col("id") === 4L) === 1L)
    intercept[java.util.ConcurrentModificationException](
      TxnLake.commitStaged(spark, dir, staged))
    assert(!staged.stagedDirs.exists(exists), "the losing merge's sidecar and files are dropped")
    assert(feedStages.isEmpty)
    val after = TxnLake.read(spark, dir).select("id", "n").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!after.contains(4L) && after(2L) === "n2" && after.size === 9)
    // and the other way round: a delete staged on p1's file loses to a
    // merge of the same file committed in its window
    val dvBefore = new java.io.File(dir, "_graft_dv").list().toSet
    intercept[java.util.ConcurrentModificationException] {
      TxnLake.deleteWhere(spark, dir, col("id") === 5L, () => {
        TxnLake.upsert(spark, dir, Seq((3L, "m3", "p1")).toDF("id", "n", "part"), "id") })
    }
    val dvAfter = new java.io.File(dir, "_graft_dv").list().toSet
    assert((dvAfter -- dvBefore).size === 1, "only the merge's sidecar is new")
    assert(feedStages.isEmpty)
    val last = TxnLake.read(spark, dir).select("id", "n").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(last(5L) === "n5" && last(3L) === "m3" && last.size === 9)
  }

  test("mergeAt pinned to a stale base aborts on ANY intervening commit") {
    val root = Files.createTempDirectory("graft_race")
    val dir = root.resolve("t").toString
    TxnLake.create(spark, dir,
      Seq((1L, 10L, "p1"), (2L, 20L, "p2")).toDF("id", "v", "part"), "part")
    val v = TxnLake.currentVersion(spark, dir)
    // a commit lands between the caller's snapshot read and the merge —
    // even an insert-only narrowed merge must NOT blind-rebase over it
    TxnLake.append(spark, dir, Seq((3L, 30L, "p3")).toDF("id", "v", "part"))
    val src = Seq((4L, 40L, "p3")).toDF("id", "v", "part")
    val e = intercept[java.util.ConcurrentModificationException](
      TxnLake.mergeAt(spark, dir, v, src, "id", lit(false)))
    assert(e.getMessage.contains("pinned base"))
    assert(TxnLake.read(spark, dir).count() === 3L, "the aborted merge committed nothing")
    // pinned to the CURRENT head it commits exactly like merge
    TxnLake.mergeAt(spark, dir, TxnLake.currentVersion(spark, dir), src, "id", lit(false))
    assert(TxnLake.read(spark, dir).count() === 4L)
  }

  test("a sidecar that appears after a cached miss is picked up once the negative TTL lapses") {
    val oldTtl = TxnLake.CrcAbsentTtlMs
    TxnLake.CrcAbsentTtlMs = 0L
    try {
      val dir = mkTable(Files.createTempDirectory("graft_race"))
      val log = new java.io.File(dir, "_graft_log")
      // v0 is checkpointed at create (v % 10 == 0) and resolve reads
      // the newest checkpoint, so the ckpt is the file whose sidecar
      // verification matters here
      val rec = new java.io.File(log, "v00000000.ckpt.json")
      val side = new java.io.File(log, "v00000000.ckpt.json.crc")
      assert(side.exists())
      val sideBytes = Files.readAllBytes(side.toPath)
      // simulate the publish→sidecar window: sidecar invisible on first
      // read (caches a miss), then appears
      side.delete()
      TxnLake.read(spark, dir).count() // caches the miss
      Files.write(side.toPath, sideBytes)
      // corrupt the record by appending a byte: still VALID JSON with
      // identical semantics, so ONLY the checksum can catch it — with a
      // PERMANENT negative cache this would go unverified for the
      // process lifetime
      val recBytes = Files.readAllBytes(rec.toPath)
      Files.write(rec.toPath, recBytes ++ "\n".getBytes("UTF-8"))
      intercept[TxnLake.TxnLogCorruptedException](TxnLake.read(spark, dir).count())
    } finally TxnLake.CrcAbsentTtlMs = oldTtl
  }

  test("dataRel anchors on the LAST /_graft_data/ component") {
    assert(TxnLake.dataRel("/x/t/_graft_data/c1/f.parquet") === "_graft_data/c1/f.parquet")
    // root CONTAINS the marker as a substring — first-occurrence
    // matching mis-keyed exactly this shape
    assert(TxnLake.dataRel("/x/_graft_data_backup/t/_graft_data/c1/f.parquet") ===
      "_graft_data/c1/f.parquet")
    // root has a component literally named _graft_data
    assert(TxnLake.dataRel("/x/_graft_data/t/_graft_data/c2/__part=a/f.parquet") ===
      "_graft_data/c2/__part=a/f.parquet")
    // a partition VALUE ending in the marker is not an anchor (no
    // component is exactly _graft_data there)
    assert(TxnLake.dataRel("/t/_graft_data/c3/__part=x_graft_data/f.parquet") ===
      "_graft_data/c3/__part=x_graft_data/f.parquet")
  }

  test("DV reads and vacuum survive a table root containing _graft_data as a substring") {
    val root = Files.createTempDirectory("graft_race")
    val dir = root.resolve("_graft_data_backup").resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 10L).map(i => (i, s"p${i % 2}")).toDF("id", "v"), "v")
    // merge-on-read delete: correctness depends on __txn_file keys
    // matching the manifest's relative identities
    assert(TxnLake.deleteWhere(spark, dir, col("id") <= 3L) === 3L)
    assert(TxnLake.read(spark, dir).count() === 7L,
      "mis-keyed __txn_file would resurface deleted rows")
    assert(TxnLake.rowCount(spark, dir) === Some(7L))
    TxnLake.append(spark, dir, Seq((11L, "x")).toDF("id", "v"))
    TxnLake.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(TxnLake.read(spark, dir).orderBy("id").select("id").as[Long].collect().toSeq ===
      ((4L to 11L)),
      "a mis-keyed vacuum reference set would have deleted live files")
  }
}
