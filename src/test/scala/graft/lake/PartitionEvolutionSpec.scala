package graft.lake

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** PARTITION EVOLUTION ([[TxnLake.evolvePartitioning]]): a metadata-only
  * commit re-points the table's partition column; existing files keep
  * their layout (marked by `spec`) and migrate lazily when a rewrite
  * touches them or OPTIMIZE runs. */
class PartitionEvolutionSpec extends AnyFunSuite with SparkTestSession {

  /** id, grp (initial partCol), cat (future partCol), v */
  private def freshTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pev").resolve("t").toString
    TxnLake.create(spark, dir,
      (1L to 12L).map(i => (i, s"g${i % 2}", s"c${i % 3}", i * 10.0))
        .toDF("id", "grp", "cat", "v"),
      "grp")
    dir
  }

  private def ids(dir: String): Seq[Long] =
    TxnLake.read(spark, dir).select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("evolution is metadata-only; old files keep their spec, new appends use the new column") {
    import spark.implicits._
    val dir = freshTable()
    val before = TxnLake.resolve(spark, dir).get
    TxnLake.evolvePartitioning(spark, dir, "cat")
    val after = TxnLake.resolve(spark, dir).get
    assert(after.partCol === "cat")
    assert(after.files.map(_.path).toSet === before.files.map(_.path).toSet,
      "no data file may move on evolution")
    assert(after.files.forall(_.spec.contains("grp")))
    TxnLake.append(spark, dir,
      Seq((13L, "g1", "c1", 130.0)).toDF("id", "grp", "cat", "v"))
    val head = TxnLake.resolve(spark, dir).get
    val newFiles = head.files.filterNot(f => before.files.exists(_.path == f.path))
    assert(newFiles.nonEmpty && newFiles.forall(_.spec.contains("cat")))
    assert(newFiles.forall(_.parts === Set(Option("c1"))))
    assert(ids(dir) === (1L to 13L))
  }

  test("a rewrite after evolution cannot lose rows living in legacy-layout files") {
    import spark.implicits._
    val dir = freshTable()
    TxnLake.evolvePartitioning(spark, dir, "cat")
    // upsert keyed into cat=c1; the matched row lives in a grp-spec
    // file whose parts values ("g0"/"g1") say nothing about cat — the
    // merge must find it anyway
    val before = TxnLake.resolve(spark, dir).get.files
    TxnLake.upsert(spark, dir,
      Seq((4L, "g0", "c1", 999.0)).toDF("id", "grp", "cat", "v"), "id")
    val got = TxnLake.read(spark, dir).filter(col("id") === 4L)
      .select("v").collect().map(_.getDouble(0)).toSeq
    assert(got === Seq(999.0), "the old image is gone, the new one present once")
    assert(ids(dir) === (1L to 12L), "no row lost")
    // merge-on-read: the legacy file keeps its path and spec and gains
    // a vector (migration is OPTIMIZE's job, pinned below); the
    // post-image is staged under the current column
    val head = TxnLake.resolve(spark, dir).get
    val legacy = head.files.filter(_.spec.contains("grp"))
    assert(legacy.map(_.path).toSet === before.map(_.path).toSet)
    assert(legacy.count(_.dv.nonEmpty) === 1)
    val added = head.files.filterNot(_.spec.contains("grp"))
    assert(added.nonEmpty && added.forall(f =>
      f.spec.contains("cat") && f.parts == Set(Option("c1"))))
  }

  test("OPTIMIZE migrates legacy-layout files to the current column") {
    val dir = freshTable()
    TxnLake.evolvePartitioning(spark, dir, "cat")
    val stats = TxnLake.optimize(spark, dir, minFiles = Int.MaxValue)
    assert(stats.partitionsCompacted > 0)
    val head = TxnLake.resolve(spark, dir).get
    assert(head.files.forall(_.spec.contains("cat")))
    assert(ids(dir) === (1L to 12L))
    // further optimize with nothing legacy and nothing fragmented: no-op
    val again = TxnLake.optimize(spark, dir, minFiles = Int.MaxValue)
    assert(again.partitionsCompacted === 0)
  }

  test("an in-flight rewrite staged before an evolution aborts instead of reverting it") {
    import spark.implicits._
    val dir = freshTable()
    val base = TxnLake.resolve(spark, dir).get
    val staged = TxnLake.stageMerge(spark, dir, base,
      Seq((1L, "g1", "c1", 111.0)).toDF("id", "grp", "cat", "v"), "id")
    TxnLake.evolvePartitioning(spark, dir, "cat")
    intercept[java.util.ConcurrentModificationException] {
      TxnLake.commitStaged(spark, dir, staged.get)
    }
    assert(TxnLake.resolve(spark, dir).get.partCol === "cat",
      "the evolution must survive the aborted rewrite")
  }

  test("a rebased blind append adopts an intervening schema evolution instead of reverting it") {
    import spark.implicits._
    val dir = freshTable()
    val base = TxnLake.resolve(spark, dir).get
    val stagedAppend = TxnLake.stageAppend(spark, dir, base,
      Seq((20L, "g0", "c2", 200.0)).toDF("id", "grp", "cat", "v"))
    // intervening commit evolves the schema (adds `note`)
    TxnLake.upsert(spark, dir,
      Seq((1L, "g1", "c1", 10.0, "x")).toDF("id", "grp", "cat", "v", "note"), "id")
    TxnLake.commitStaged(spark, dir, stagedAppend.get)
    val head = TxnLake.resolve(spark, dir).get
    assert(head.schemaDdl.contains("note"),
      "the rebased append must republish the evolved schema, not its stale base")
    val got = TxnLake.read(spark, dir).filter(col("id").isin(1L, 20L))
      .select("id", "note").collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got === Set((1L, Some("x")), (20L, None)))
  }

  test("reads, time travel and the graft-txn source stay exact across mixed specs") {
    import spark.implicits._
    val dir = freshTable()
    TxnLake.evolvePartitioning(spark, dir, "cat")
    TxnLake.append(spark, dir, Seq((13L, "g1", "c0", 130.0)).toDF("id", "grp", "cat", "v"))
    // v0 predates the evolution
    assert(TxnLake.readVersion(spark, dir, 0L).count() === 12L)
    val df = spark.read.format("graft-txn").load(dir)
    assert(df.count() === 13L)
    // a cat predicate must not skip legacy grp-spec files
    assert(df.filter(col("cat") === "c0").select("id").collect()
      .map(_.getLong(0)).toSet === Set(3L, 6L, 9L, 12L, 13L))
  }
}
