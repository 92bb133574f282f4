package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The input shapes the commit-statistics specs stage, and the
  * reference each staged file's manifest entry must equal: the same
  * fields recomputed from the file itself with a plain
  * `groupBy(_metadata.file_path)` aggregate, the bloom expression
  * earlier versions staged with, `pmod(xxhash64(lit(k), col), bits)`,
  * evaluated by Spark, and the file's length on disk. */
private[lake] object StatsShapes {

  /** `statsCol` and `statsCols` name numeric or timestamp columns only
    * (the bounds the stager records). Avoid -0.0 in them: Spark's
    * `min`/`max` keep whichever of -0.0 and 0.0 they meet first, the
    * stager records 0.0. */
  final class Shape(val name: String, val partCol: String,
                    val statsCol: Option[String] = None,
                    val statsCols: Seq[String] = Nil,
                    val bloomCol: Option[String] = None,
                    val bloomBits: Int = TxnLake.DefaultBloomBits,
                    val conf: Map[String, String] = Map.empty)(
                    val data: SparkSession => DataFrame) {
    def create(spark: SparkSession, dir: String): Unit =
      TxnLake.create(spark, dir, data(spark), partCol, statsCol = statsCol,
        bloomCol = bloomCol, bloomBits = bloomBits, statsCols = statsCols)
  }

  val numeric = new Shape("numeric stats + string partition", "part", statsCol = Some("v"))(
    s => { import s.implicits._
      (0 until 200).map(i => (i.toLong, s"p${i % 3}", i * 1.5)).toDF("id", "part", "v") })

  val longPart = new Shape("long partition, negative/zero doubles", "part", statsCol = Some("v"))(
    s => { import s.implicits._
      (-100 until 100).map(i => (i.toLong % 4, i.toLong, i.toDouble)).toDF("part", "id", "v") })

  val multiColumn = new Shape("multi-column stats", "part", statsCol = Some("price"),
    statsCols = Seq("qty"))(
    s => { import s.implicits._
      (0 until 100).map(i => (s"p${i % 2}", i.toLong, i * 0.5, i * 3))
        .toDF("part", "id", "price", "qty") })

  val nullStats = new Shape("nullable stats column with an all-null file", "part",
    statsCol = Some("v"))(
    s => { import s.implicits._
      (0 until 60).map(i => (s"p${i % 2}", i.toLong, if (i % 2 == 0) Some(i * 1.0) else None))
        .toDF("part", "id", "v") })

  val decimal = new Shape("decimal stats column", "part", statsCol = Some("amt"))(
    s => { import s.implicits._
      (0 until 80).map(i => (s"p${i % 2}", i.toLong, BigDecimal(i) * BigDecimal("1.25")))
        .toDF("part", "id", "amt") })

  val int96 = new Shape("INT96 timestamp stats column", "part", statsCol = Some("ts"))(
    s => { import s.implicits._
      (0 until 50).map(i => (s"p${i % 2}", i.toLong,
        java.sql.Timestamp.valueOf(s"2026-01-${i % 28 + 1} 10:00:00")))
        .toDF("part", "id", "ts") })

  val nullPartition = new Shape("null partition values", "part", statsCol = Some("id"))(
    s => { import s.implicits._
      (0 until 40).map(i => (if (i % 2 == 0) Some(s"p${i % 4}") else None, i.toLong))
        .toDF("part", "id") })

  val bloom = new Shape("bloom column", "part", bloomCol = Some("user"))(
    s => { import s.implicits._
      (0 until 50).map(i => (s"p${i % 2}", i.toLong, s"u$i")).toDF("part", "id", "user") })

  /** NaN and -0.0 partition values (grouping folds -0.0 into 0.0),
    * NaN among stats values (Spark's max is then NaN) and a file whose
    * stats values are all NaN. */
  val nanFloats = new Shape("NaN floats", "part", statsCol = Some("v"))(
    s => { import s.implicits._
      (0 until 90).map { i =>
        val part = i % 5 match {
          case 0 => Float.NaN
          case 1 => -0.0f
          case k => k.toFloat
        }
        val v = if (part == 2.0f) Float.NaN else if (i % 7 == 0) Float.NaN else i.toFloat
        (part, i.toLong, v)
      }.toDF("part", "id", "v") })

  /** Two instants one hour apart share a local wall-clock time on the
    * 2026-11-01 fall-back in America/New_York, so their partition
    * tokens (the value cast to string in the session zone) collide and
    * one file holds both values. */
  val collision = new Shape("forced token collision", "part", statsCol = Some("id"),
    conf = Map("spark.sql.session.timeZone" -> "America/New_York"))(
    s => { import s.implicits._
      val edt = java.sql.Timestamp.from(java.time.Instant.parse("2026-11-01T05:30:00Z"))
      val est = java.sql.Timestamp.from(java.time.Instant.parse("2026-11-01T06:30:00Z"))
      val other = java.sql.Timestamp.from(java.time.Instant.parse("2026-11-02T12:00:00Z"))
      (0 until 30).map(i => (Seq(edt, est, other)(i % 3), i.toLong)).toDF("part", "id") })

  val nullBloom = new Shape("null bloom values", "part", bloomCol = Some("user"),
    bloomBits = 256)(
    s => { import s.implicits._
      (0 until 60).map(i => (s"p${i % 3}", i.toLong, if (i % 4 == 0) None else Some(s"u$i")))
        .toDF("part", "id", "user") })

  val manyFiles = new Shape("more than 64 files", "part", statsCol = Some("id"))(
    s => { import s.implicits._
      (0 until 140).map(i => (s"k${i % 70}", i.toLong)).toDF("part", "id") })

  val maxRecords = new Shape("maxRecordsPerFile splits", "part", statsCol = Some("id"),
    conf = Map("spark.graft.txnlake.maxRecordsPerFile" -> "7"))(
    s => { import s.implicits._
      (0 until 40).map(i => (s"p${i % 2}", i.toLong)).toDF("part", "id") })

  /** Not a driver-local relation, so staging takes the shuffle path. */
  val distributed = new Shape("distributed input", "part", statsCol = Some("v"),
    bloomCol = Some("tag"))(
    s => s.range(0, 300).select((col("id") % 5).as("part"), col("id"),
      (col("id") * 0.5).as("v"), concat(lit("t"), col("id")).as("tag")))

  /** Every driver-local shape: staging each is a single Spark job. */
  val localShapes: Seq[Shape] = Seq(numeric, longPart, multiColumn, nullStats, decimal,
    int96, nullPartition, bloom, nanFloats, collision, nullBloom, manyFiles, maxRecords)

  def withConf[A](spark: SparkSession, conf: Map[String, String])(body: => A): A = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** An entry's recorded fields, doubles as raw bits so NaN and the
    * sign of zero compare exactly. */
  type Fields = (String, Set[Option[String]], Option[Long], Option[Long],
    Map[String, (Long, Long)], Long, Long, Option[String], Option[String])

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  def fields(e: TxnLake.FileEntry): Fields =
    (e.path, e.parts, e.zmin.map(bits), e.zmax.map(bits),
      e.stats.map { case (c, (lo, hi)) => c -> ((bits(lo), bits(hi))) },
      e.rows, e.bytes, e.spec, e.bloom)

  /** The reference fields of `entries`, staged under `dir` from `shape`. */
  def reference(spark: SparkSession, dir: String, shape: Shape,
                entries: Seq[TxnLake.FileEntry]): Seq[Fields] = {
    val files = spark.read.parquet(entries.map(_.locate(dir)): _*)
    def rel(filePath: String): String =
      TxnLake.dataRel(new org.apache.hadoop.fs.Path(filePath).toUri.getPath)
    val bounded = shape.statsCol.toSeq ++ shape.statsCols
    val aggs = bounded.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"mn_$c"), max(col(c).cast("double")).as(s"mx_$c"))) :+
      count(lit(1)).as("n")
    val groups = files
      .groupBy(col("_metadata.file_path").as("fp"), col(shape.partCol).as("pv"))
      .agg(aggs.head, aggs.tail: _*).collect().toSeq.groupBy(r => rel(r.getString(0)))
    val blooms: Map[String, String] = shape.bloomCol.fold(Map.empty[String, String]) { bc =>
      val positions = (0 until TxnLake.BloomK).map(k =>
        pmod(xxhash64(lit(k), col(bc)), lit(shape.bloomBits.toLong)))
      files.select(col("_metadata.file_path"), explode(array(positions: _*)))
        .distinct().collect().toSeq.groupBy(r => rel(r.getString(0)))
        .map { case (p, rs) =>
          val words = new Array[Long](shape.bloomBits / 64)
          rs.foreach { r => val b = r.getLong(1); words((b / 64).toInt) |= 1L << (b % 64) }
          p -> words.map(java.lang.Long.toHexString).mkString(":")
        }
    }
    // Spark's min/max order: NaN above every number
    def fold(vs: Seq[Double], keep: Int => Boolean): Option[Double] =
      vs.reduceOption((a, b) => if (keep(java.lang.Double.compare(a, b))) a else b)
    entries.map { e =>
      val rs = groups(e.path)
      def bound(c: String): Option[(Double, Double)] = {
        def vals(pre: String) = rs.flatMap(r => Option(r.getAs[Any](s"$pre$c")))
          .map(_.asInstanceOf[Double])
        fold(vals("mn_"), _ <= 0).zip(fold(vals("mx_"), _ >= 0))
      }
      val z = shape.statsCol.flatMap(bound)
      (e.path, rs.map(r => Option(r.get(1)).map(String.valueOf)).toSet,
        z.map(b => bits(b._1)), z.map(b => bits(b._2)),
        shape.statsCols.flatMap(c => bound(c).map(b => c -> ((bits(b._1), bits(b._2))))).toMap,
        rs.map(_.getAs[Long]("n")).sum,
        new java.io.File(e.locate(dir)).length(),
        Some(shape.partCol), blooms.get(e.path))
    }
  }

  /** Every non-null bloom value of each file is a possible member of the
    * file's recorded bloom. */
  def bloomsAdmitTheirValues(spark: SparkSession, dir: String, shape: Shape,
                             entries: Seq[TxnLake.FileEntry]): Boolean =
    shape.bloomCol.forall { bc =>
      entries.forall { e =>
        spark.read.parquet(e.locate(dir)).select(bc).collect()
          .flatMap(r => Option(r.getString(0)))
          .forall(TxnLake.bloomMightContain(e.bloom, _))
      }
    }
}
