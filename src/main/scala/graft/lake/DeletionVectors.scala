package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReaderImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, PrimitiveConverter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, BinaryExpression, Expression, Predicate, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** DELETION VECTORS: the one place a `_graft_dv/c<id>` sidecar is
  * decoded, and where a sidecar whose positions are already on the
  * driver is written ([[write]]). A sidecar is a parquet dir of
  * `(file STRING, pos BIGINT)` rows — a table-relative data file
  * identity and the parquet row index of a deleted row in it. The schema is fixed, so
  * the decoder opens each part file directly with parquet's column
  * readers on the driver: no Spark job, no schema inference. The
  * result is one `RoaringBitmap` of doomed row positions per file.
  *
  * Scans apply the bitmaps INSIDE the scan with [[DvFilter]], a
  * predicate over `_metadata.file_path` / `_metadata.row_index` that
  * looks a file's bitmap up once per file — no join, and filters the
  * query pushes into parquet still reach it. Delete counts come from
  * the same decode: of the sidecar a delete's tasks just wrote, or of
  * the identity columns of a DML's stage, from which the sidecar is
  * then written. Sidecars are immutable, so every decode of one yields
  * the same bitmaps. */
private[lake] object DeletionVectors {

  /** Table-relative file identity (`_graft_data/c<commit>/...`) → the
    * row positions doomed in that file. */
  type Vectors = Map[String, RoaringBitmap]

  /** Decode the sidecar dir at `sidecar` (absolute). Part files are
    * the dir's parquet files; `_`/`.`-prefixed names are Spark's
    * markers and checksums. Row indexes are per file, so a position
    * past 2^32 cannot come from any parquet file Spark writes; it
    * fails loudly rather than wrapping. `fileCol`/`posCol` name the
    * identity columns: a sidecar's, or a DML stage's `__txn_file` /
    * `__txn_pos`, whose rows without identity (new rows) are skipped. */
  def decode(conf: Configuration, sidecar: String, fileCol: String = "file",
             posCol: String = "pos"): Vectors = {
    val root = new Path(sidecar)
    val fs = root.getFileSystem(conf)
    val parts = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val out = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
    // options built once per sidecar: `open` without them derives them
    // from the file's configuration per call, ~14 ms against ~1.5 ms
    val options = HadoopReadOptions.builder(conf).build()
    parts.foreach { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val fileDesc = schema.getColumnDescription(Array(fileCol))
        val posDesc = schema.getColumnDescription(Array(posCol))
        val version = scala.util.Try(org.apache.parquet.VersionParser.parse(
          reader.getFooter.getFileMetaData.getCreatedBy)).getOrElse(null)
        val ignore = new PrimitiveConverter {}
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          if (pages.getRowCount > 0) {
            val files = new ColumnReaderImpl(fileDesc, pages.getPageReader(fileDesc), ignore, version)
            val poss = new ColumnReaderImpl(posDesc, pages.getPageReader(posDesc), ignore, version)
            var last: Binary = null
            var bits: RoaringBitmap = null
            var i = 0L
            while (i < pages.getRowCount) {
              if (files.getCurrentDefinitionLevel == fileDesc.getMaxDefinitionLevel &&
                  poss.getCurrentDefinitionLevel == posDesc.getMaxDefinitionLevel) {
                val f = files.getBinary
                if (!(f eq last) && f != last) {
                  last = f
                  bits = out.getOrElseUpdate(f.toStringUsingUTF8, new RoaringBitmap)
                }
                val pos = poss.getLong
                require(pos >= 0L && (pos >>> 32) == 0L,
                  s"deletion vector $sidecar holds row index $pos, outside 0..2^32-1")
                bits.add(pos.toInt)
              }
              files.consume()
              poss.consume()
              i += 1
            }
          }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    out.toMap
  }

  /** Write `vectors` as the sidecar dir `sidecar` (absolute): one
    * parquet file of `(file, pos)` rows, written on the driver — for
    * positions already decoded from a stage, which a Spark job would
    * only read back and write again. */
  def write(conf: Configuration, sidecar: String, vectors: Vectors): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message dv { required binary file (STRING); required int64 pos; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new Path(sidecar, "part-00000.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try vectors.toSeq.sortBy(_._1).foreach { case (file, bits) =>
      val it = bits.getIntIterator
      while (it.hasNext) writer.write(rows.newGroup().append("file", file)
        .append("pos", Integer.toUnsignedLong(it.next())))
    } finally writer.close()
  }

  /** The doomed positions of `entries`: every distinct sidecar they
    * reference is decoded once, and each entry takes the positions of
    * ITS OWN path from the sidecars IT references. A sidecar can hold
    * positions of a file that was rewritten since (a new path) or that
    * no longer references it; those never apply. */
  def ofEntries(spark: SparkSession, dir: String,
                entries: Seq[TxnLake.FileEntry]): Vectors = {
    val refs = entries.flatMap(_.dv).distinct
    if (refs.isEmpty) return Map.empty
    val conf = spark.sparkContext.hadoopConfiguration
    val decoded = refs.map(r => r -> decode(conf, TxnLake.locateDv(dir, r))).toMap
    entries.filter(_.dv.nonEmpty).flatMap { e =>
      val own = e.dv.flatMap(r => decoded(r).get(e.path))
      if (own.isEmpty) None
      else Some(e.path -> (if (own.size == 1) own.head else RoaringBitmap.or(own: _*)))
    }.toMap
  }

  /** `scan` (a parquet scan exposing `_metadata`) without the rows in
    * `vectors` (`keep = false`), or with only those rows
    * (`keep = true`). */
  def filter(scan: DataFrame, vectors: Vectors, keep: Boolean): DataFrame = {
    DvFilterLast.install(scan.sparkSession)
    scan.filter(CatalystBridge.column(DvFilter(
      CatalystBridge.expression(col("_metadata.file_path")),
      CatalystBridge.expression(col("_metadata.row_index")),
      new DvTable(vectors), keep)))
  }
}

/** Optimizer rule: a filter's [[DvFilter]] conjuncts go after the
  * others. A caller's predicate arrives above the scan's DV filter, and
  * CombineFilters puts the lower condition first, so without this every
  * scanned row would build `_metadata` and probe a bitmap; with it, only
  * the rows the caller's predicate keeps do. Installed once per session
  * by [[DeletionVectors.filter]]; conjunct order changes no result. */
private[lake] object DvFilterLast extends Rule[LogicalPlan] with PredicateHelper {
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val (dv, other) = conjuncts.partition(_.isInstanceOf[DvFilter])
      if (dv.isEmpty || other.isEmpty || conjuncts == other ++ dv) f
      else Filter((other ++ dv).reduce(And), child)
  }
}

/** The bitmaps a [[DvFilter]] ships to its tasks. Identity equality:
  * a plan compares and hashes its expressions, and the bitmaps are
  * data, not part of the expression's meaning beyond this instance. */
final class DvTable(val vectors: DeletionVectors.Vectors) extends Serializable {
  /** The bitmap of the file at `path` (a scan's `_metadata.file_path`,
    * or already table-relative); null when nothing in it is doomed.
    * Anchored on the last `/_graft_data/`, as [[TxnLake.dataRel]]. */
  def lookup(path: UTF8String): RoaringBitmap = {
    val s = path.toString
    val i = s.lastIndexOf("/_graft_data/")
    vectors.getOrElse(if (i >= 0) s.substring(i + 1) else s, null)
  }
  def cursor(): DvCursor = new DvCursor(this)
  override def toString: String =
    s"dv[${vectors.size} files, ${vectors.valuesIterator.map(_.getLongCardinality).sum} rows]"
}

/** One scan's position in its file stream: rows arrive file by file,
  * so the bitmap is looked up when the file changes and reused for
  * every row of it. The file path of a row is compared by reference
  * first (the scan hands out one string per file) and by content
  * only when the reference differs. `Hit` is immutable, so a cursor
  * seen by two threads can only look a file up twice, never pair a
  * path with another file's bitmap. */
final class DvCursor(table: DvTable) {
  private final class Hit(val ref: UTF8String, val copy: UTF8String,
                          val bits: RoaringBitmap)
  private var last: Hit = _

  /** Whether the row at `pos` of the file at `path` is doomed, compared
    * with `keep`: true when a kept row passes. */
  def test(path: UTF8String, pos: Long, keep: Boolean): Boolean = {
    var h = last
    if (h == null || (!(h.ref eq path) && h.copy != path)) {
      h = new Hit(path, if (path == null) null else path.clone(),
        if (path == null) null else table.lookup(path))
      last = h
    }
    val doomed = h.bits != null && (pos >>> 32) == 0L && h.bits.contains(pos.toInt)
    doomed == keep
  }
}

/** `keep`-polarity membership of a row's `(file, row_index)` in a
  * [[DvTable]]: with `keep = false` the rows of the deletion vectors
  * are dropped, with `keep = true` only they pass. */
case class DvFilter(path: Expression, pos: Expression, table: DvTable, keep: Boolean)
    extends BinaryExpression with Predicate {
  override def left: Expression = path
  override def right: Expression = pos
  override def nullable: Boolean = false

  @transient private lazy val cursor = table.cursor()

  override def eval(input: InternalRow): Any = {
    val p = path.eval(input).asInstanceOf[UTF8String]
    val i = pos.eval(input)
    cursor.test(p, if (i == null) -1L else i.asInstanceOf[Long], keep)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvTable", table, classOf[DvTable].getName)
    val cur = ctx.addMutableState(classOf[DvCursor].getName, "dvCursor",
      v => s"$v = $ref.cursor();")
    val p = path.genCode(ctx)
    val i = pos.genCode(ctx)
    ev.copy(code = code"""
      ${p.code}
      ${i.code}
      boolean ${ev.value} = $cur.test(${p.isNull} ? null : ${p.value},
        ${i.isNull} ? -1L : ${i.value}, $keep);""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DvFilter =
    copy(path = newLeft, pos = newRight)

  override def prettyName: String = "dv_filter"
}
