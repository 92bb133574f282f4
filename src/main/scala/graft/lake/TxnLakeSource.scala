package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNull, LessThan, LessThanOrEqual, Literal, Not, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType, StringType, IntegerType, LongType, ShortType, ByteType, BooleanType, FloatType, DoubleType, DecimalType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("graft-txn").load(dir)` — the [[TxnLake]] commit
  * log surfaced as a first-class Spark data source, so lake snapshots
  * are reachable from pure SQL (`CREATE TABLE ... USING `graft-txn``)
  * and from any Spark reader, not only through `TxnLake.read`.
  *
  * Architecture: a V1 `RelationProvider` returning a `HadoopFsRelation`
  * over [[TxnFileIndex]] — the same integration point the public
  * Delta Lake connector uses (its `TahoeFileIndex`), and deliberately
  * NOT a bespoke DSv2 `PartitionReader`: by shipping only a file
  * *index*, every downstream layer is stock Spark — `FileSourceStrategy`
  * drives pushdown, the vectorized parquet reader handles decoding and
  * row-group skipping off footer stats, column pruning reaches the scan
  * (`ReadSchema`), and whole-stage codegen is unaffected. The index is
  * where lake metadata adds something Spark cannot know: at
  * `listFiles` time — planning, before any footer is opened — files are
  * pruned against the MANIFEST's zone maps (`FileEntry.zmin/zmax` of
  * the table's stats column) and per-file partition-value sets, so a
  * 100 TB table with a selective stats/partition predicate schedules
  * tasks for only the surviving files. Catalyst separately re-applies
  * the full predicate per row, so pruning can only ever be
  * conservative, never wrong.
  *
  * Snapshot semantics: the manifest is resolved ONCE at relation
  * creation; the returned DataFrame is bound to that version's exact
  * file list (option `versionAsOf` time-travels to an older retained
  * version). Concurrent commits never change what a bound frame yields.
  *
  * Options: `path` (required), `versionAsOf` (optional long; read
  * only), `partCol` + `statsCol` (first create only).
  *
  * Write path: `df.write.format("graft-txn").mode(...).save(dir)` maps
  * each save mode onto the matching transactional commit — `append` →
  * [[TxnLake.append]] (blind, O(new data)), `overwrite` →
  * [[TxnLake.overwrite]] (atomic full replace), first write → create
  * (option `partCol` required, `statsCol` opts into zone maps). Every
  * mode publishes one manifest commit, so concurrent readers keep
  * snapshot isolation and the change feed records the write.
  */
class TxnLakeSource extends RelationProvider with CreatableRelationProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-txn"

  /** `df.writeStream.format("graft-txn").start(dir)` — the table as a
    * streaming SINK ([[TxnSink]]): exactly-once marker-checked commits
    * per micro-batch, Append (appendOnce) and Complete (overwriteOnce)
    * output modes, first-batch table create. Update mode is refused
    * here, analysis-time (the Delta rule — keyed deltas belong to
    * `UpsertSink`/MERGE, not a blind table write). */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-txn requires a path"))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append() ||
        outputMode == org.apache.spark.sql.streaming.OutputMode.Complete(),
      s"graft-txn sink supports Append and Complete output modes, got $outputMode")
    require(partitionColumns.size <= 1,
      s"graft-txn tables have a single partition column, " +
        s"got partitionBy(${partitionColumns.mkString(", ")})")
    new TxnSink(sqlContext.sparkSession, dir, parameters, partitionColumns, outputMode)
  }

  /** `spark.readStream.format("graft-txn").load(dir)` — the TABLE as a
    * streaming source ([[TxnTableStream]]): initial snapshot + version
    * tailing, `startingVersion` / `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` /
    * `ignoreDeletes` / `ignoreChanges` / `skipChangeCommits` options,
    * Delta's readStream surface. No change feed required. */
  private def wantsChangeFeed(parameters: Map[String, String]): Boolean =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v.toBoolean
    }.getOrElse(false)

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-txn requires a path"))
    if (wantsChangeFeed(parameters))
      // Delta CDF's option: rows + _change_type + _commit_version
      (shortName(), graft.streaming.CdcFeed.schemaOf(spark, dir))
    else {
      val m = TxnLake.resolve(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"$dir is not a txn table (no _graft_log)"))
      val phys = StructType.fromDDL(m.schemaDdl)
      (shortName(), StructType(phys.fields.map(f =>
        f.copy(name = m.renames.getOrElse(f.name, f.name)))))
    }
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-txn requires a path"))
    if (wantsChangeFeed(parameters))
      new TxnCdcStream(sqlContext.sparkSession, dir, parameters)
    else new TxnTableStream(sqlContext.sparkSession, dir, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-txn requires a path"))
    val exists = TxnLake.isTxnTable(spark, dir)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"$dir is already a txn table (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists => TxnLake.append(spark, dir, data,
        mergeSchema = parameters.collectFirst {
          case (k, v) if k.equalsIgnoreCase("mergeSchema") => v.toBoolean
        }.getOrElse(false))
      case SaveMode.Overwrite if exists => TxnLake.overwrite(spark, dir, data)
      case _ =>
        val partCol = parameters.getOrElse("partCol",
          throw new IllegalArgumentException(
            "graft-txn initial create requires option partCol"))
        // identityCol: the engine owns the column — create the table
        // EMPTY with it declared, then land the initial rows through
        // the allocating append, so batch 0's rows get ids too
        val identityCol = parameters.get("identityCol")
        val seed = identityCol match {
          case Some(c) =>
            require(!data.columns.contains(c),
              s"identityCol '$c' is GENERATED ALWAYS — the initial rows must not carry it")
            data.limit(0).withColumn(c,
              org.apache.spark.sql.functions.lit(null).cast("long"))
          case None => data
        }
        TxnLake.create(spark, dir, seed, partCol, parameters.get("statsCol"),
          changeFeed = parameters.get("changeFeed").exists(_.toBoolean),
          bloomCol = parameters.get("bloomCol"),
          bloomBits = parameters.get("bloomBits").map(_.toInt)
            .getOrElse(TxnLake.DefaultBloomBits),
          statsCols = parameters.get("statsCols").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
        identityCol.foreach { c =>
          TxnLake.setIdentityColumn(spark, dir, c,
            start = parameters.get("identityStart").map(_.toLong).getOrElse(1L),
            step = parameters.get("identityStep").map(_.toLong).getOrElse(1L))
          TxnLake.append(spark, dir, data)
        }
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-txn requires a path"))
    require(Seq("versionAsOf", "timestampAsOf", "refAsOf")
      .count(parameters.contains) <= 1,
      "versionAsOf, timestampAsOf and refAsOf are mutually exclusive")
    // refAsOf = time travel by NAMED REF ([[TxnLake.tag]] / clone pin)
    val versionOpt = parameters.get("versionAsOf").orElse(
      parameters.get("refAsOf").map { name =>
        TxnLake.refs(spark, dir).getOrElse(name,
          throw new IllegalArgumentException(s"no ref '$name' at $dir")).toString
      })
    val manifest = (versionOpt, parameters.get("timestampAsOf")) match {
      case (Some(v), _) => TxnLake.resolveVersion(spark, dir, v.toLong)
      case (_, Some(ts)) =>
        // epoch millis, or an ISO-8601 instant ("2026-08-14T10:00:00Z")
        val millis = ts.toLongOption
          .getOrElse(java.time.Instant.parse(ts).toEpochMilli)
        TxnLake.resolveVersion(spark, dir,
          TxnLake.versionAsOfTimestamp(spark, dir, millis))
      case _ => TxnLake.resolve(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"$dir is not a txn table (no _graft_log)"))
    }
    if (TxnLake.snapshotHasDv(spark, manifest) || manifest.renames.nonEmpty)
      // MERGE-ON-READ / NAME-MAPPING: outstanding deletion vectors mean
      // the raw files over-report rows, and renamed columns mean the
      // files' physical names differ from the logical schema — a
      // relation straight over the files would read the bytes wrong.
      // [[TxnDvRelation]] serves the snapshot through TxnLake's own read
      // (in-scan DV filter + logical projection), which plans through
      // the same [[TxnFileIndex]] as the branch below.
      new TxnDvRelation(spark, dir, manifest)
    else
      // PARTITION-AWARE MODE: when every manifest entry maps a file to
      // exactly ONE partition value of a cleanly round-trippable type,
      // the index exposes the partition column through `partitionSchema`
      // — so Catalyst's own partition machinery takes over from the
      // index's bespoke conjunct analysis: arbitrary partition
      // predicates prune at planning time (PruneFileSourcePartitions,
      // not just the eq/IN shapes `partSetOf` recognizes), and star
      // joins get DYNAMIC PARTITION PRUNING — the dim side's join keys
      // prune fact files at runtime, the 100 TB star-schema move no
      // static analysis can make. The FULL manifest schema stays the
      // dataSchema: Spark's data/partition schema merge keeps the
      // overlapped column in its manifest position (column order is
      // unchanged for readers) while serving its VALUE from the
      // partition row, so the parquet reader never decodes it.
      TxnFileIndex.relation(spark, dir, manifest, table = true)
  }
}

/** The relation's file format: stock parquet on the READ path, loud
  * refusal on the WRITE path. Without this, `INSERT INTO` on a
  * `graft-txn` catalog table plans Spark's
  * `InsertIntoHadoopFsRelationCommand`, which writes part files
  * straight into the table directory — bytes the manifest never
  * references, so the insert "succeeds" and the rows are invisible to
  * every snapshot (silent data loss, observed before this guard:
  * `part=.../_SUCCESS` littered the table root at version 0).
  * Transactional writes go through the save-mode writer
  * (`df.write.format("graft-txn")`), [[TxnLake.append]], or — for SQL
  * statements — the `GraftExtensions` parser path, which rewrites
  * INSERT INTO into a [[TxnLake.append]]/[[TxnLake.overwrite]] commit. */
private[lake] class TxnReadOnlyParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession,
                            job: org.apache.hadoop.mapreduce.Job,
                            options: Map[String, String],
                            dataSchema: StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "direct file insertion into a graft-txn table would bypass the " +
        "transaction log (the written rows would be invisible to every " +
        "snapshot). Use df.write.format(\"graft-txn\").mode(\"append\"), " +
        "TxnLake.append/overwrite, or install graft.GraftExtensions so " +
        "SQL INSERT INTO commits transactionally.")
}

/** DV / rename relation: `PrunedFilteredScan` over the snapshot's
  * manifest. The scan is [[TxnLake.readEntries]] of the entries a
  * [[TxnFileIndex]] over the manifest keeps for the pushed filters
  * ([[TxnFileIndex.survivors]]: partition values, zone maps, blooms —
  * DVs only remove rows, so every recorded stat stays a safe
  * over-approximation), so only those entries' sidecars are decoded
  * on the driver and applied inside the scan by row index (no join and
  * no Spark job to build the frame; physical→logical projection). The
  * translatable pushed filters are re-applied on top, reaching that
  * read's own index and parquet pushdown inside each surviving file. */
private[lake] class TxnDvRelation(spark: SparkSession,
                                  private[lake] val dir: String,
                                  private[lake] val manifest: TxnLake.Manifest)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.sources.{And => FAnd, EqualNullSafe => FEqNs,
    EqualTo => FEq, Filter, GreaterThan => FGt, GreaterThanOrEqual => FGe,
    In => FIn, IsNotNull => FNotNull, IsNull => FNull, LessThan => FLt,
    LessThanOrEqual => FLe, Not => FNot, Or => FOr,
    StringContains => FContains, StringEndsWith => FEnds,
    StringStartsWith => FStarts}
  import org.apache.spark.sql.catalyst.expressions.{Contains, EndsWith, IsNotNull, Or, StartsWith}
  import org.apache.spark.sql.functions.col

  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = StructType(
    StructType.fromDDL(manifest.schemaDdl).fields.map(f =>
      f.copy(name = manifest.renames.getOrElse(f.name, f.name))))

  /** Plan-time size = the snapshot's physical bytes (VERDICT r14 #5).
    * `BaseRelation`'s default is `spark.sql.defaultSizeInBytes`
    * (effectively +inf), so a small DV/renamed lake table could NEVER
    * be broadcast at plan time — join-side choice waited for AQE's
    * first shuffle. Summing manifest file lengths matches what the
    * fast path already reports through [[TxnFileIndex.sizeInBytes]]
    * and what Delta surfaces for DV tables: deletion vectors only
    * remove rows, so the sum is a safe over-approximation (a table can
    * only look BIGGER than it is — broadcasts stay conservative).
    * LOG-ONLY: every entry carries its staged byte size (the manifest
    * `bytes` field, recorded at commit time) — zero fs calls. */
  override lazy val sizeInBytes: Long = manifest.files.map(_.bytes).sum

  /** Pushed filter → Catalyst predicate, each column made by `attr`
    * from its name in the relation's schema (unhandled shapes just
    * don't push — Spark re-applies everything). */
  private def toExpr(f: Filter, attr: String => Expression): Option[Expression] = {
    def of(c: Filter): Option[Expression] = toExpr(c, attr)
    def lit(v: Any): Option[Expression] = scala.util.Try(Literal.create(v)).toOption
    f match {
      case FEq(a, v) => lit(v).map(EqualTo(attr(a), _))
      case FEqNs(a, v) => lit(v).map(EqualNullSafe(attr(a), _))
      case FGt(a, v) => lit(v).map(GreaterThan(attr(a), _))
      case FGe(a, v) => lit(v).map(GreaterThanOrEqual(attr(a), _))
      case FLt(a, v) => lit(v).map(LessThan(attr(a), _))
      case FLe(a, v) => lit(v).map(LessThanOrEqual(attr(a), _))
      case FIn(a, vs) =>
        val ls = vs.toSeq.flatMap(lit)
        if (ls.size == vs.length) Some(In(attr(a), ls)) else None
      case FNull(a) => Some(IsNull(attr(a)))
      case FNotNull(a) => Some(IsNotNull(attr(a)))
      case FStarts(a, v) => lit(v).map(StartsWith(attr(a), _))
      case FEnds(a, v) => lit(v).map(EndsWith(attr(a), _))
      case FContains(a, v) => lit(v).map(Contains(attr(a), _))
      case FAnd(l, r) => for { lc <- of(l); rc <- of(r) } yield And(lc, rc)
      case FOr(l, r) => for { lc <- of(l); rc <- of(r) } yield Or(lc, rc)
      case FNot(c) => of(c).map(Not(_))
      case _ => None
    }
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]):
      org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    // the entries the index keeps for the pushed filters, so only their
    // sidecars are decoded: the filters over the files' physical
    // names, as the index reads them. A pushed value has its column's
    // external type; a conjunct whose literal still differs in type
    // from its column does not resolve, and is left to the scan.
    val physOf = StructType.fromDDL(manifest.schemaDdl).fields
      .map(f => manifest.renames.getOrElse(f.name, f.name) -> f).toMap
    val conjuncts = filters.toSeq.flatMap(toExpr(_, n => physOf.get(n)
      .map(f => AttributeReference(f.name, f.dataType)())
      .getOrElse(UnresolvedAttribute.quotedString(n)))).filter(_.resolved)
    val kept = new TxnFileIndex(spark, dir,
      manifest.copy(files = manifest.files.toIndexedSeq), table = false).survivors(conjuncts)
    val base = TxnLake.readEntries(spark, dir, manifest, kept)
    // the same filters over the read's LOGICAL names, for the analyzer
    val pushed = filters.toSeq.flatMap(toExpr(_, UnresolvedAttribute.quotedString))
      .map(CatalystBridge.column)
    val filtered = pushed.foldLeft(base)((df, c) => df.filter(c))
    (if (requiredColumns.isEmpty) filtered.select()
     else filtered.select(requiredColumns.toIndexedSeq.map(col): _*)).rdd
  }
}

/** Manifest-backed `FileIndex`: the lake's planning-time file-skipping
  * brain, and the only one — every snapshot read plans through it (the
  * `graft-txn` relation directly, [[TxnLake.readEntries]] and so every
  * internal read, DML scan and [[TxnDvRelation]] beneath their
  * projections). `listFiles` receives the query's data filters as
  * Catalyst conjuncts and drops every file whose manifest metadata
  * PROVES it holds no matching row:
  *
  *  - range/equality/IN predicates on any column with recorded bounds
  *    (the stats column's zone map `zmin`/`zmax`, the additive
  *    `stats` columns) test against the file's bounds (files without
  *    bounds — all-NULL or pre-stats — are kept conservatively);
  *  - equality/IN/IS NULL predicates on the PARTITION column test
  *    against the file's recorded partition-value set;
  *  - equality/IN predicates on the BLOOM column test the file's bloom.
  *
  * Long IN lists arrive as `InSet` (Spark's OptimizeIn) and prune like
  * short ones. Anything unrecognizable (ORs, UDFs, other columns)
  * simply doesn't prune — correctness never depends on the analyzer,
  * because Spark re-evaluates the full predicate on every surviving
  * row. Monotone numeric casts around the stats column are unwrapped,
  * so `CAST(price AS DOUBLE) > 900` prunes like `price > 900`.
  *
  * All metadata here is commit-manifest scale (file count × partition
  * values), resolved on the driver with zero data-file reads.
  */
private[graft] object TxnFileIndex {
  /** The snapshot relation over `manifest`'s files: stock parquet
    * behind a [[TxnFileIndex]], in the files' physical column names
    * (`manifest.renames` maps them to the logical ones; a reader of a
    * renamed table projects above this relation). The schema is
    * deep-nullable — DataFrameReader's own discipline for user schemas
    * (its private StructType.asNullable): an evolved column may be
    * declared non-null, but files staged BEFORE the evolution lack it
    * and must null-fill — the vectorized reader refuses a missing
    * non-nullable column outright. `table` is true for the relation
    * the `graft-txn` source serves a reader (see [[TxnFileIndex]]),
    * false for an engine-internal scan ([[TxnLake.readEntries]]). */
  private[lake] def relation(spark: SparkSession, dir: String,
                             manifest: TxnLake.Manifest,
                             table: Boolean): HadoopFsRelation = {
    def deepNullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = deepNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = deepNullable(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(keyType = deepNullable(m.keyType),
          valueType = deepNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    val index = new TxnFileIndex(spark, dir, manifest, table)
    HadoopFsRelation(index, index.partitionSchema,
      deepNullable(StructType.fromDDL(manifest.schemaDdl)).asInstanceOf[StructType],
      None, new TxnReadOnlyParquetFormat, Map.empty[String, String])(spark)
  }

  /** The per-entry manifest-pruning predicate, SHARED by the eager
    * driver-side filter and the lazy distributed prune (one code path
    * — the two modes cannot diverge). Takes only plain serializable
    * values so the closure ships to executors without dragging the
    * index or the session along. Column names are the files' physical
    * names, as the index's relation carries them. */
  private[lake] def entrySurvives(f: TxnLake.FileEntry, partCol: String,
      statsCol: Option[String],
      colRanges: Seq[(String, (Double, Double))],
      partSets: Seq[Set[Option[String]]],
      bloomSets: Seq[Seq[String]]): Boolean = {
    def boundsOf(c: String): Option[(Double, Double)] =
      f.stats.get(c).orElse(if (statsCol.contains(c)) f.zmin.zip(f.zmax) else None)
    val zoneOk = colRanges.forall { case (cname, (lo, hi)) =>
      boundsOf(cname).forall { case (mn, mx) => TxnLake.boundsMayOverlap(mn, mx, lo, hi) }
    }
    // legacy-spec files (pre-evolution layout) can't be value-pruned
    val partOk = !f.onSpec(partCol) ||
      partSets.forall(s => f.parts.exists(s.contains))
    val bloomOk = bloomSets.forall(vs =>
      vs.exists(v => TxnLake.bloomMightContain(f.bloom, v)))
    zoneOk && partOk && bloomOk
  }

  /** Conservative Column PREFILTER over the checkpoint-payload schema
    * ([[TxnLake.CkptFileRow]]) for the lazy distributed prune: keeps
    * every row [[entrySurvives]] keeps — each translated conjunct is a
    * relaxation of its typed counterpart (missing bounds, null columns,
    * unknown three-valued outcomes and untranslatable shapes all KEEP
    * the row), and the exact typed predicate still runs on whatever
    * survives, so the final survivor set cannot change. Purpose: rows a
    * translated conjunct kills never pay the per-row CkptFileRow
    * deserialization in [[TxnLake.LazyCkptFiles.prunedEntries]] — the
    * kill happens in the codegen/columnar domain. Bloom conjuncts are
    * deliberately not translated (per-row base64 decode + hashing costs
    * about what the deserialization does); `None` when nothing
    * translates, so callers skip the extra Filter node entirely. */
  private[lake] def planPrefilter(partCol: String, statsCol: Option[String],
      colRanges: Seq[(String, (Double, Double))],
      partSets: Seq[Set[Option[String]]],
      defaultSpec: String): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.{functions => Fn}
    val zoneTests = colRanges.map { case (phys, (lo, hi)) =>
      // boundsOf mirror: per-column stats when recorded, the zone map
      // only when the range column IS the stats column, else no bounds
      val pos = Fn.array_position(Fn.col("statsCols"), phys)
      val hit = pos > 0
      val (zmn, zmx) =
        if (statsCol.contains(phys)) (Fn.col("zmin"), Fn.col("zmax"))
        else (Fn.lit(null), Fn.lit(null))
      val mn = Fn.when(hit, Fn.element_at(Fn.col("statsMin"), pos.cast("int")))
        .otherwise(zmn)
      val mx = Fn.when(hit, Fn.element_at(Fn.col("statsMax"), pos.cast("int")))
        .otherwise(zmx)
      // NaN bounds keep the row, as in TxnLake.boundsMayOverlap
      mn.isNull || mx.isNull || Fn.isnan(mn) || Fn.isnan(mx) || (mx >= lo && mn <= hi)
    }
    val partTests = if (partSets.isEmpty) Nil else {
      // fromCkptRow fills a null spec with the manifest default, so
      // onSpec over the raw row is coalesce(spec, default) = partCol
      val onSpec =
        Fn.coalesce(Fn.col("spec"), Fn.lit(defaultSpec)) === partCol
      partSets.map { s =>
        val vals = s.flatten.toSeq.sorted
        // arrays_overlap: null (→ keep) when undecidable under SQL
        // three-valued logic (e.g. `parts` holds a null element)
        val hitVal =
          if (vals.isEmpty) Fn.lit(false)
          else {
            val ov = Fn.arrays_overlap(Fn.col("parts"),
              Fn.typedLit[Seq[String]](vals))
            ov.isNull || ov
          }
        val hit =
          if (s.contains(None)) hitVal || Fn.exists(Fn.col("parts"), _.isNull)
          else hitVal
        !onSpec || hit
      }
    }
    val tests = zoneTests ++ partTests
    if (tests.isEmpty) None
    // top-level null (null `parts`/`spec` arrays on foreign rows) must
    // keep, not drop: Filter discards null predicates
    else Some(tests.map(t => Fn.coalesce(t, Fn.lit(true))).reduce(_ && _))
  }

  /** FileStatus for every entry, keyed by the entry's relative
    * identity, synthesized from the entry alone — ZERO fs calls.
    * Committed files are immutable and every entry records the byte
    * size and mtime captured from the staging glob at commit time
    * (Delta's AddFile `size`/`modificationTime`), which is all the scan
    * planner needs: FilePartition splitting and the parquet footer read
    * use the path and exact length, and `_metadata` columns the path
    * and mtime. A per-commit-dir listing costs ~11 ms on Hadoop's
    * LocalFileSystem (1.3 s to plan a 120-commit snapshot) and grows
    * with the table at 100 TB. Zero-copy cloned entries resolve under
    * their SOURCE root (`FileEntry.base`); keys stay the relative
    * identity, which UUID commit dirs keep collision-free across
    * roots. */
  def statusesFor(spark: SparkSession, root: Path,
                  files: Seq[TxnLake.FileEntry]): Map[String, FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // scheme-qualify like a real listing would (file:/... on local fs),
    // so `_metadata.file_path` matches the file system's own form; one
    // FileSystem per distinct base (Hadoop caches them — URI work only,
    // no RPC)
    val fsByBase = files.map(_.base).distinct.map { b =>
      b -> b.map(new Path(_)).getOrElse(root).getFileSystem(conf)
    }.toMap
    files.map { f =>
      val p = fsByBase(f.base).makeQualified(new Path(f.locate(root.toString)))
      f.path -> new FileStatus(f.bytes, false, 1, 134217728L, f.mtime, p)
    }.toMap
  }
}

/** `table`: this index is the one the `graft-txn` source serves a
  * reader — the table (or its pinned version) as addressed, which is
  * what the table-level plan rules describe: [[GeneratedPartitionPruning]]
  * leans on the generated-column invariant, which holds for the table
  * the columns were declared on, not for every entry set an engine
  * scan reads (an older version, a restored one), and [[TxnCboStats]]
  * attaches table-level ANALYZE statistics and the DV-adjusted row
  * count. Internal scans ([[TxnLake.readEntries]]: every
  * `TxnLake.read`, DML scan, feed read-back, and the scan beneath
  * [[TxnDvRelation]]) pass false; both rules leave them alone. Pruning
  * does not look at it. */
private[graft] class TxnFileIndex(spark: SparkSession,
                                  private[lake] val dir: String,
                                  private[lake] val manifest: TxnLake.Manifest,
                                  private[lake] val table: Boolean = true)
    extends FileIndex {

  private val root = new Path(dir)

  /** LAZY PLANNING MODE (VERDICT r19 #1): when the snapshot's file
    * list is an unmaterialized [[TxnLake.LazyCkptFiles]] (a
    * parquet-checkpointed base + bounded delta tail), planning never
    * materializes it on the driver — `listFiles` pushes the manifest
    * pruning predicate into an executor-parallel filter over the
    * checkpoint payload and collects ONLY surviving entries, and the
    * construction-time questions (partition-aware eligibility,
    * `sizeInBytes`) come from ONE aggregate job, which also refuses a
    * payload with a null in a required column. Statuses of the
    * survivors synthesize from their entries like everywhere else. An
    * already-materialized list takes the eager path. */
  private val lazyStats: Option[(TxnLake.LazyCkptFiles, TxnLake.PlanStats)] =
    manifest.files match {
      case l: TxnLake.LazyCkptFiles if !l.isMaterialized =>
        Some((l, l.planAgg(spark, manifest.partCol)))
      case _ => None
    }

  // the eager path's statuses, synthesized from the manifest (zero fs
  // calls); lazy planning mode never touches this (statuses synthesize
  // per pruned survivor set instead)
  private lazy val statusByRel: Map[String, FileStatus] =
    TxnFileIndex.statusesFor(spark, root, manifest.files)

  override def rootPaths: Seq[Path] = Seq(root)

  /** The partition column's field when PARTITION-AWARE mode is safe:
    * every file holds exactly one partition value (a 64-bit token
    * collision in the writer's path hashing can widen a file's value
    * set — then the whole table falls back to the flat index) and the
    * value round-trips exactly through the manifest's
    * `String.valueOf` rendering (string / integral / boolean; floats,
    * decimals and temporals render engine-specifically — abstain). */
  private val partField: Option[StructField] = {
    val roundTrippable = StructType.fromDDL(manifest.schemaDdl)
      .fields.find(_.name == manifest.partCol)
      .filter(_.dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType |
             BooleanType => true
        case _ => false
      })
    roundTrippable.filter(_ => lazyStats match {
      case Some((_, a)) => a.allSinglePartOnSpec
      case None => manifest.files.forall(f =>
        f.parts.size == 1 && f.onSpec(manifest.partCol))
    })
  }

  override def partitionSchema: StructType =
    partField.map(f => StructType(Seq(f))).getOrElse(new StructType())

  private def partValue(f: StructField, v: Option[String]): Any = v match {
    case None => null
    case Some(s) => f.dataType match {
      case StringType => UTF8String.fromString(s)
      case LongType => s.toLong
      case IntegerType => s.toInt
      case ShortType => s.toShort
      case ByteType => s.toByte
      case BooleanType => s.toBoolean
      case dt => throw new IllegalStateException(s"unreachable partition type $dt")
    }
  }

  override def inputFiles: Array[String] =
    // API contract is the full list — materializes a lazy manifest
    // (rare consumer: FileStreamSink probing, DESCRIBE-style surfaces)
    manifest.files.map(f => new Path(f.locate(dir)).toString).toArray

  override def sizeInBytes: Long = lazyStats match {
    case Some((_, a)) => a.sumBytes
    case None => statusByRel.values.map(_.getLen).sum
  }

  override def refresh(): Unit = () // snapshot-bound by design

  /** The entries that may hold a row satisfying every conjunct in
    * `filters` — Catalyst conjuncts over this relation's columns — by
    * partition value, zone map and bloom. */
  private[lake] def survivors(filters: Seq[Expression]): Seq[TxnLake.FileEntry] = {
    // an IN list longer than spark.sql.optimizer.inSetConversionThreshold
    // arrives as the InSet OptimizeIn made of it: read it as that In,
    // so every analyzer below sees one shape whatever the list length
    def asIn(e: Expression): Expression = e match {
      case InSet(a, hset) => In(a, hset.toSeq.map(Literal(_, a.dataType)))
      case other => other
    }
    val conjuncts = filters.map(asIn)
    // (column, [lo, hi]) for every range-shaped conjunct on ANY column —
    // only columns with recorded bounds actually prune
    val colRanges = conjuncts.flatMap(anyRangeOf)
    // eq/IN/IS NULL shapes on the partition column; in partition-aware
    // mode listFiles additionally evaluates EVERY partition predicate
    // exactly on the typed PartitionDirectory values
    val partSets = conjuncts.flatMap(partSetOf(_, manifest.partCol))
    // equality/IN on the BLOOM column: each conjunct yields the allowed
    // value set; a file survives a conjunct if its bloom might contain
    // at least one of the values (absent bloom = conservatively yes)
    val bloomSets = manifest.bloomCol.toSeq.flatMap(bc =>
      conjuncts.flatMap(bloomValuesOf(_, bc)))
    lazyStats match {
      case Some((l, _)) =>
        // capture ONLY plain values — the predicate ships to executors
        val pc = manifest.partCol
        val sc = manifest.statsCol
        // codegen-domain relaxation of the same conjuncts: kills most
        // non-survivors before the typed per-row decode (the typed
        // predicate still decides every survivor).
        val pre = TxnFileIndex.planPrefilter(pc, sc, colRanges, partSets, l.defaultSpec)
        l.prunedEntries(spark,
          f => TxnFileIndex.entrySurvives(f, pc, sc, colRanges, partSets, bloomSets), pre)
      case None =>
        manifest.files.filter(f =>
          TxnFileIndex.entrySurvives(f, manifest.partCol, manifest.statsCol,
            colRanges, partSets, bloomSets))
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // flat mode: partition predicates arrive as dataFilters; in
    // partition-aware mode as partitionFilters. Either way every one
    // is a conjunct of the query.
    val keep = survivors(partitionFilters ++ dataFilters)
    val statusOf: String => Option[FileStatus] =
      if (lazyStats.isEmpty) statusByRel.get
      else TxnFileIndex.statusesFor(spark, root, keep).get
    partField match {
      case None =>
        Seq(PartitionDirectory(InternalRow.empty,
          keep.flatMap(f => statusOf(f.path)).toArray))
      case Some(f) =>
        // one PartitionDirectory per manifest partition value, filtered
        // by evaluating ANY partition predicate (not just eq/IN) on the
        // typed value — the stock PartitioningAwareFileIndex discipline
        val dirs = keep.groupBy(_.parts.head).toSeq
          .sortBy(_._1.getOrElse(""))
          .map { case (pv, entries) =>
            PartitionDirectory(InternalRow(partValue(f, pv)),
              entries.flatMap(e => statusOf(e.path)).toArray)
          }
        if (partitionFilters.isEmpty) dirs
        else {
          val bound = CatalystPredicate.create(
            partitionFilters.reduce(And).transform {
              case a: AttributeReference if a.name == f.name =>
                BoundReference(0, f.dataType, nullable = true)
            })
          bound.initialize(0)
          dirs.filter(d => bound.eval(d.values))
        }
    }
  }

  /** Allowed string-value set implied by one conjunct on the bloom
    * column (equality / IN over string literals only — anything else
    * abstains; NULL literals abstain, a bloom proves nothing about
    * NULL). */
  private def bloomValuesOf(e: Expression, bloomCol: String): Option[Seq[String]] = {
    def isBloom(a: Expression): Boolean = a match {
      case ar: AttributeReference => ar.name == bloomCol
      case _ => false
    }
    def str(l: Literal): Option[String] = (l.value, l.dataType) match {
      case (v, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    e match {
      case EqualTo(a, l: Literal) if isBloom(a) => str(l).map(Seq(_))
      case EqualTo(l: Literal, a) if isBloom(a) => str(l).map(Seq(_))
      case In(a, ls) if isBloom(a) && ls.forall(_.isInstanceOf[Literal]) =>
        val vs = ls.flatMap(l => str(l.asInstanceOf[Literal]))
        if (vs.size == ls.size) Some(vs) else None // a NULL in the list: abstain
      case _ => None
    }
  }

  /** (column, [lo, hi]) implied by one range-shaped conjunct on ANY
    * single column, when provable. Strict bounds relax to inclusive —
    * conservative. Monotone numeric casts unwrap.
    *
    * Bounds in the manifest are recorded as cast-to-double of the
    * column value (epoch SECONDS for timestamps), so a range is emitted
    * only when the literal converts to that exact unit: numeric
    * literals as-is, timestamp literals micros→seconds (the same
    * `us / 1e6` Spark's own timestamp→double cast performs, so the
    * doubles compare bit-identically). The underlying attribute must
    * itself be a bounds-trackable type — a string or date column
    * reached through a numeric cast abstains, because its recorded
    * bounds (if any) would not share the literal's unit. */
  private def anyRangeOf(e: Expression): Option[(String, (Double, Double))] = {
    def attrOf(a: Expression): Option[String] = a match {
      case ar: AttributeReference
        if numeric(ar.dataType) || ar.dataType == TimestampType => Some(ar.name)
      // a cast between numeric types is monotone, so bounds transfer —
      // but only when the LEAF column's own recorded bounds share the
      // numeric unit (checked above)
      case Cast(child, dt, _, _) if numeric(dt) => attrOf(child)
      case _ => None
    }
    def num(l: Literal): Option[Double] = (l.value, l.dataType) match {
      case (null, _) => None
      // timestamp literals carry epoch MICROSECONDS; manifest bounds
      // are cast-to-double epoch SECONDS
      case (us: java.lang.Long, TimestampType) => Some(us.toDouble / 1e6)
      case (d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
      case (n: Number, dt) if numeric(dt) => Some(n.doubleValue())
      case _ => None
    }
    def mk(a: Expression, r: Option[(Double, Double)]): Option[(String, (Double, Double))] =
      for { n <- attrOf(a); rr <- r } yield n -> rr
    e match {
      case GreaterThan(a, l: Literal) => mk(a, num(l).map(v => (v, Double.MaxValue)))
      case GreaterThanOrEqual(a, l: Literal) => mk(a, num(l).map(v => (v, Double.MaxValue)))
      case LessThan(a, l: Literal) => mk(a, num(l).map(v => (Double.MinValue, v)))
      case LessThanOrEqual(a, l: Literal) => mk(a, num(l).map(v => (Double.MinValue, v)))
      case EqualTo(a, l: Literal) => mk(a, num(l).map(v => (v, v)))
      case GreaterThan(l: Literal, a) => mk(a, num(l).map(v => (Double.MinValue, v)))
      case GreaterThanOrEqual(l: Literal, a) => mk(a, num(l).map(v => (Double.MinValue, v)))
      case LessThan(l: Literal, a) => mk(a, num(l).map(v => (v, Double.MaxValue)))
      case LessThanOrEqual(l: Literal, a) => mk(a, num(l).map(v => (v, Double.MaxValue)))
      case EqualTo(l: Literal, a) => mk(a, num(l).map(v => (v, v)))
      case In(a, ls) if ls.forall(_.isInstanceOf[Literal]) =>
        val vs = ls.flatMap(l => num(l.asInstanceOf[Literal]))
        mk(a, if (vs.isEmpty) None else Some((vs.min, vs.max)))
      case _ => None
    }
  }

  private def numeric(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Allowed partition-value set implied by one conjunct on the
    * partition column. Rendering matches the writer's `String.valueOf`
    * for the types whose Catalyst literal prints identically (string,
    * integral, floating, boolean) — anything else abstains. */
  private def partSetOf(e: Expression, partCol: String): Option[Set[Option[String]]] = {
    def isPart(a: Expression): Boolean = a match {
      case ar: AttributeReference => ar.name == partCol
      case _ => false
    }
    def rendered(l: Literal): Option[Option[String]] = (l.value, l.dataType) match {
      case (null, _) => Some(None)
      case (v, StringType) => Some(Some(v.toString))
      case (v: Number, ByteType | ShortType | IntegerType | LongType |
                        FloatType | DoubleType) => Some(Some(String.valueOf(v)))
      case (v: java.lang.Boolean, BooleanType) => Some(Some(String.valueOf(v)))
      case _ => None // timestamps/decimals render engine-specifically: abstain
    }
    e match {
      case EqualTo(a, l: Literal) if isPart(a) => rendered(l).map(Set(_))
      case EqualTo(l: Literal, a) if isPart(a) => rendered(l).map(Set(_))
      case EqualNullSafe(a, l: Literal) if isPart(a) => rendered(l).map(Set(_))
      case EqualNullSafe(l: Literal, a) if isPart(a) => rendered(l).map(Set(_))
      case IsNull(a) if isPart(a) => Some(Set(None: Option[String]))
      // the optimizer folds `flag = true` / `flag = false` into these
      case a if isPart(a) && a.dataType == BooleanType => Some(Set(Some("true")))
      case Not(a) if isPart(a) && a.dataType == BooleanType => Some(Set(Some("false")))
      case In(a, ls) if isPart(a) && ls.forall(_.isInstanceOf[Literal]) =>
        val vs = ls.map(l => rendered(l.asInstanceOf[Literal]))
        if (vs.exists(_.isEmpty)) None else Some(vs.flatten.toSet)
      case _ => None
    }
  }
}
