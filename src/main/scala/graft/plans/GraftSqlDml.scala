package graft.plans

import graft.lake.TxnLake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.LongType

/** SQL DML statements (`UPDATE` / `DELETE FROM` / `MERGE INTO`) for
  * `graft-txn` lake tables — the statement surface a lakehouse user
  * expects (their first mutation is `MERGE INTO` as SQL, not an API
  * call).
  *
  * Architecture: Spark's OWN parser already turns these statements into
  * [[UpdateTable]] / [[DeleteFromTable]] / [[MergeIntoTable]] logical
  * plans — it is ANALYSIS that rejects them for v1 tables (row-level
  * operations need a DSv2 `SupportsRowLevelOperations` catalog).
  * So this layer never re-parses SQL text: [[rewrite]] pattern-matches
  * the stock parser's plan, resolves the target to a `graft-txn` table
  * (catalog name or Delta-style `graft_txn.`/path``), and swaps the
  * plan for a [[LeafRunnableCommand]] that drives the existing
  * transactional engines ([[TxnLake.updateWhere]] /
  * [[TxnLake.deleteWhere]] / [[TxnLake.merge]]) — deletion vectors,
  * OCC, partition pruning, CDC and generated columns all come from the
  * one engine code path the API uses, so SQL and API mutations cannot
  * drift. Non-graft targets pass through untouched to stock Spark.
  *
  * Installed by `GraftExtensions` via `injectParser` (the session sees
  * `spark.sql("MERGE INTO ...")` work directly); [[exec]] is the
  * equivalent entry point for sessions built without extensions.
  *
  * Supported MERGE shapes (the engine's contract; anything else raises
  * a descriptive error rather than silently deviating):
  *   - WHEN MATCHED [AND cond] THEN DELETE — target-side condition
  *   - WHEN MATCHED THEN UPDATE SET *      — source row replaces target
  *   - WHEN NOT MATCHED THEN INSERT *
  *   - WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE / UPDATE SET
  *     c = expr, ... — requires the UPDATE SET * clause (see below)
  * Omitted clauses narrow the source relationally BEFORE the engine
  * runs (e.g. no INSERT -> source semi-joined to current target keys),
  * which preserves NOT-MATCHED-BY-SOURCE classification only when the
  * matched keys survive the narrowing — hence the UPDATE SET *
  * requirement for by-source clauses.
  */
object GraftSqlDml {

  /** Swap a parsed DML plan for a graft command when its target is a
    * `graft-txn` table; None -> not ours, use the stock plan. */
  def rewrite(spark: SparkSession, plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case DeleteFromTable(rel, cond) =>
      resolveTarget(spark, rel).map { case (dir, quals) =>
        GraftDeleteCommand(dir, ExprBox(stripQuals(cond, quals)))
      }
    case UpdateTable(rel, assignments, cond) =>
      resolveTarget(spark, rel).map { case (dir, quals) =>
        GraftUpdateCommand(dir,
          requireUniqueSet(assignments.map(a =>
            assignName(a.key, quals) -> ExprBox(stripQuals(a.value, quals)))),
          cond.map(c => ExprBox(stripQuals(c, quals))))
      }
    case m: MergeIntoTable =>
      resolveTarget(spark, m.targetTable).map { case (dir, tQuals) =>
        buildMerge(dir, m, tQuals)
      }
    case i: InsertIntoStatement =>
      resolveTarget(spark, i.table).map { case (dir, _) =>
        require(i.partitionSpec.isEmpty,
          "graft-txn INSERT takes no PARTITION clause — partition values " +
            "ride in the rows (the manifest indexes them per file)")
        require(!i.ifPartitionNotExists,
          "IF NOT EXISTS is not supported for graft-txn INSERT")
        GraftInsertCommand(dir, i.query, i.userSpecifiedCols, i.overwrite,
          i.byName)
      }
    // ALTER TABLE column DDL -> the engine's metadata-only commits
    // (each is one atomic log record; no data file is touched)
    case a: AddColumns =>
      ddlTarget(spark, a.table).map { case (dir, ti) =>
        val cols = a.columnsToAdd.map { c =>
          require(c.path.isEmpty && c.name.length == 1,
            "graft-txn ADD COLUMN supports top-level columns only")
          // DEFAULT on ADD COLUMN is REFUSED (Delta's rule, for Delta's
          // reason): ANSI gives EXISTING rows the default, but a lake
          // column add is metadata-only — existing rows read NULL — so
          // accepting the clause would silently diverge from what the
          // user asked for. The two-statement form states the
          // unambiguous intent: later writes fill, history stays NULL.
          require(c.default.isEmpty,
            s"ADD COLUMN ${c.name.head} ... DEFAULT is not supported: a " +
              "column add is metadata-only, so existing rows would read " +
              "NULL — not the default ANSI promises them. Run ADD COLUMN, " +
              "then ALTER TABLE ... ALTER COLUMN ... SET DEFAULT to fill " +
              "later writes")
          (c.name.head, c.dataType)
        }
        GraftDdlCommand(dir, ti, s"ADD COLUMNS ${cols.map(_._1).mkString(",")}",
          (s, d) => cols.foreach { case (n, t) =>
            TxnLake.addColumn(s, d, n, t) })
      }
    case r: RenameColumn =>
      ddlTarget(spark, r.table).map { case (dir, ti) =>
        require(r.column.name.length == 1,
          "graft-txn RENAME COLUMN supports top-level columns only")
        val from = r.column.name.head
        val to = r.newName
        GraftDdlCommand(dir, ti, s"RENAME COLUMN $from TO $to",
          (s, d) => TxnLake.renameColumn(s, d, from, to))
      }
    case dc: DropColumns =>
      ddlTarget(spark, dc.table).map { case (dir, ti) =>
        val names = dc.columnsToDrop.map { c =>
          require(c.name.length == 1,
            "graft-txn DROP COLUMN supports top-level columns only")
          c.name.head
        }
        require(!dc.ifExists,
          "graft-txn DROP COLUMN IF EXISTS is not supported — drops are " +
            "schema-authoritative and should fail on a missing column")
        GraftDdlCommand(dir, ti, s"DROP COLUMNS ${names.mkString(",")}",
          (s, d) => names.foreach(TxnLake.dropColumn(s, d, _)))
      }
    // ANALYZE TABLE ... COMPUTE STATISTICS [FOR {ALL COLUMNS|COLUMNS ...}]
    // -> one-pass NDV/null-count refresh persisted in the log
    // ([[TxnLake.analyzeTable]]); the planner reads the artifact per
    // query with zero data I/O ([[graft.lake.TxnCboStats]]). A column
    // list still computes all columns — the scan is one pass either way
    // and partial artifacts would silently hide the missing columns
    // from CBO.
    case a: org.apache.spark.sql.catalyst.plans.logical.AnalyzeTable =>
      ddlTarget(spark, a.child).map { case (dir, ti) =>
        require(!a.noScan,
          "graft-txn ANALYZE ... NOSCAN computes nothing here — rowCount " +
            "is already log-derived; drop NOSCAN to refresh column stats")
        GraftDdlCommand(dir, ti, "ANALYZE TABLE",
          (s, d) => { TxnLake.analyzeTable(s, d); () })
      }
    case a: org.apache.spark.sql.catalyst.plans.logical.AnalyzeColumn =>
      ddlTarget(spark, a.child).map { case (dir, ti) =>
        GraftDdlCommand(dir, ti, "ANALYZE COLUMNS",
          (s, d) => { TxnLake.analyzeTable(s, d); () })
      }
    case ac: AlterColumns =>
      ddlTarget(spark, ac.table).map { case (dir, ti) =>
        val actions: Seq[(SparkSession, String) => Unit] = ac.specs.map { sp =>
          require(sp.column.name.length == 1,
            "graft-txn ALTER COLUMN supports top-level columns only")
          val n = sp.column.name.head
          require(sp.newComment.isEmpty && sp.newPosition.isEmpty,
            "graft-txn ALTER COLUMN supports TYPE widening, " +
              "SET/DROP DEFAULT and SET/DROP NOT NULL only")
          (sp.newDataType, sp.newDefaultExpression, sp.dropDefault,
              sp.newNullability) match {
            case (Some(t), None, false, None) =>
              (s: SparkSession, d: String) => TxnLake.widenColumn(s, d, n, t)
            case (None, Some(dflt), false, None) =>
              (s: SparkSession, d: String) =>
                TxnLake.setColumnDefault(s, d, n, dflt.originalSQL)
            case (None, None, true, None) =>
              (s: SparkSession, d: String) => TxnLake.dropColumnDefault(s, d, n)
            // SET NOT NULL parses as newNullability=false (the column
            // becomes non-nullable); DROP NOT NULL as true
            case (None, None, false, Some(false)) =>
              (s: SparkSession, d: String) => TxnLake.setNotNull(s, d, n)
            case (None, None, false, Some(true)) =>
              (s: SparkSession, d: String) => TxnLake.dropNotNull(s, d, n)
            case _ => throw new IllegalArgumentException(
              "graft-txn ALTER COLUMN takes exactly one of TYPE <t> / " +
                "SET DEFAULT <expr> / DROP DEFAULT / SET NOT NULL / " +
                "DROP NOT NULL per column")
          }
        }
        GraftDdlCommand(dir, ti,
          s"ALTER COLUMNS ${ac.specs.map(_.column.name.head).mkString(",")}",
          (s, d) => actions.foreach(_(s, d)))
      }
    // ALTER TABLE ... SET/UNSET TBLPROPERTIES -> the graft marker-file
    // properties (the same set SHOW TBLPROPERTIES serves): statsColumns
    // re-point zone-map tracking, changeFeed enables CDC mid-life
    // (Delta's delta.enableChangeDataFeed contract — enable-only),
    // generatedColumns merge per-column expressions. Unknown keys fail
    // loudly — there is no generic property store, and silently
    // accepting a typo'd key would read back as "property ignored".
    case sp: SetTableProperties =>
      ddlTarget(spark, sp.table).map { case (dir, ti) =>
        GraftDdlCommand(dir, ti,
          s"SET TBLPROPERTIES (${sp.properties.keys.toSeq.sorted.mkString(",")})",
          (s, d) => applyTableProperties(s, d, sp.properties))
      }
    case up: UnsetTableProperties =>
      ddlTarget(spark, up.table).map { case (dir, ti) =>
        GraftDdlCommand(dir, ti,
          s"UNSET TBLPROPERTIES (${up.propertyKeys.mkString(",")})",
          (s, d) => unsetTableProperties(s, d, up.propertyKeys, up.ifExists))
      }
    // TRUNCATE TABLE -> one metadata-only whole-file-list prune commit
    // (no partition form: graft partitions are manifest values, and a
    // partial truncate is DELETE WHERE)
    case tr: TruncateTable =>
      ddlTarget(spark, tr.table).map { case (dir, ti) =>
        GraftDdlCommand(dir, ti, "TRUNCATE",
          (s, d) => TxnLake.truncate(s, d))
      }
    // ALTER TABLE ... ADD CONSTRAINT name CHECK (expr) / DROP
    // CONSTRAINT name -> the engine's persisted write-time invariants
    // ([[TxnLake.addCheckConstraint]]: validates existing rows, then
    // every later write enforces in the staged projection). Spark 4.1
    // parses the ANSI syntax natively; only CHECK lands here — PRIMARY
    // KEY / UNIQUE / FOREIGN KEY surface as other plan shapes and pass
    // through to stock analysis (which rejects them for v1 tables,
    // correctly: the engine cannot enforce them).
    case acc: AddCheckConstraint =>
      // the parser wraps the target as a validation query
      // (Filter(NOT cond, relation)) — the relation inside is the table
      acc.child.collectFirst { case r: UnresolvedRelation => r }
        .flatMap(r => ddlTargetParts(spark, r.multipartIdentifier))
        .map { case (dir, ti) =>
        val c = acc.checkConstraint
        require(!c.userProvidedCharacteristic.enforced.contains(false),
          "graft-txn CHECK constraints are always ENFORCED — " +
            "NOT ENFORCED is not supported")
        val nm = c.userProvidedName
        val cond = c.condition
        GraftDdlCommand(dir, ti, s"ADD CONSTRAINT $nm CHECK ($cond)",
          (s, d) => TxnLake.addCheckConstraint(s, d, nm, cond))
      }
    case dcn: DropConstraint =>
      ddlTarget(spark, dcn.table).map { case (dir, ti) =>
        require(!dcn.cascade,
          "graft-txn DROP CONSTRAINT does not support CASCADE — " +
            "CHECK constraints have no dependents")
        GraftDdlCommand(dir, ti, s"DROP CONSTRAINT ${dcn.name}",
          (s, d) => TxnLake.dropCheckConstraint(s, d, dcn.name, dcn.ifExists))
      }
    case _ => None
  }

  /** DDL targets arrive as [[UnresolvedTable]] (not a relation) —
    * resolve the same two addressing forms [[resolveTarget]] takes. */
  private def ddlTarget(spark: SparkSession,
                        table: LogicalPlan): Option[(String, Option[TableIdentifier])] =
    table match {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        ddlTargetParts(spark, t.multipartIdentifier)
      // ANALYZE wraps its target as table-OR-view; a graft dir is
      // always a table, so the parts resolve the same way
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
        ddlTargetParts(spark, t.multipartIdentifier)
      case _ => None
    }

  private def ddlTargetParts(spark: SparkSession, parts: Seq[String])
      : Option[(String, Option[TableIdentifier])] =
    pathParts(parts) match {
      case Some(path) => Some((path, None))
      case None =>
        val ti = parts match {
          case Seq(n) => Some(TableIdentifier(n))
          case Seq(db, n) => Some(TableIdentifier(n, Some(db)))
          case Seq(cat, db, n) if cat.equalsIgnoreCase("spark_catalog") =>
            Some(TableIdentifier(n, Some(db)))
          case _ => None
        }
        catalogDir(spark, parts).map(dir => (dir, ti))
    }

  /** Parse + dispatch one DML statement in a session built WITHOUT the
    * parser extension. In an extension session the parser has already
    * rewritten the plan; that case passes through. */
  def exec(spark: SparkSession, sqlText: String): DataFrame =
    maintenance(spark, sqlText).map(CatalystBridge.ofRows(spark, _)).getOrElse {
      // time-travel/path relations rewrite first (DML targets are left
      // untouched by construction), so an INSERT's query or a MERGE's
      // source can read graft_txn.`...` snapshots through this entry
      // point exactly as through an extension session
      val parsed = rewriteTimeTravel(spark,
        spark.sessionState.sqlParser.parsePlan(sqlText))
      val cmd = parsed match {
        case c: GraftDmlCommand => c
        case p => rewrite(spark, p).getOrElse(throw new IllegalArgumentException(
          s"not a graft-txn DML statement (INSERT/UPDATE/DELETE/MERGE on a graft-txn table): $sqlText"))
      }
      CatalystBridge.ofRows(spark, cmd)
    }

  /** Run ANY statement with the graft rewrites applied — the
    * non-extension twin of `spark.sql` in an extension session
    * (time-travel relations resolved, DML dispatched, everything else
    * executed stock). */
  def sql(spark: SparkSession, sqlText: String): DataFrame =
    maintenance(spark, sqlText).map(CatalystBridge.ofRows(spark, _)).getOrElse {
      val parsed = rewriteTimeTravel(spark,
        spark.sessionState.sqlParser.parsePlan(sqlText))
      CatalystBridge.ofRows(spark, rewrite(spark, parsed).getOrElse(parsed))
    }

  // ---- maintenance statements ---------------------------------------------

  // Delta-style lakehouse maintenance SQL. These are NOT in Spark's
  // grammar (the stock parser throws before any rewrite could see a
  // plan), so they pre-match on the raw text — the ONLY place this
  // layer parses SQL itself. The shapes are anchored whole-statement
  // regexes; anything that fails the match or whose target is not a
  // graft-txn table falls through to the delegate untouched, so stock
  // statements (e.g. `DESCRIBE history_tbl col`) keep stock semantics.
  private val OptimizeRe =
    """(?is)\A\s*OPTIMIZE\s+(.+?)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*\z""".r
  private val VacuumRe =
    """(?is)\A\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?(\s+DRY\s+RUN)?\s*;?\s*\z""".r
  private val HistoryRe =
    """(?is)\A\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*\z""".r
  private val DetailRe =
    """(?is)\A\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*\z""".r
  private val ShowPropsRe =
    """(?is)\A\s*SHOW\s+TBLPROPERTIES\s+(.+?)\s*;?\s*\z""".r
  private val CopyIntoRe =
    """(?is)\A\s*COPY\s+INTO\s+(.+?)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*\z""".r
  private val ShowPartsRe =
    """(?is)\A\s*SHOW\s+PARTITIONS\s+(.+?)\s*;?\s*\z""".r
  private val ReorgRe =
    """(?is)\A\s*REORG\s+TABLE\s+(.+?)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*\z""".r
  private val RestoreRe =
    """(?is)\A\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*\z""".r
  private val RestoreTsRe =
    """(?is)\A\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*\z""".r

  /** `OPTIMIZE t [ZORDER BY (a, b, ...)]` / `VACUUM t [RETAIN n
    * VERSIONS]` / `DESCRIBE HISTORY t` / `DESCRIBE DETAIL t` /
    * `RESTORE [TABLE] t TO VERSION|TIMESTAMP AS OF ...` on a graft-txn
    * table — routed to the
    * existing engines ([[TxnLake.optimize]] / optimizeZOrder / vacuum /
    * history / detail / restore). Targets take the same two addressing
    * forms as
    * DML: a catalog table or Delta-style `graft_txn.`/path``. Returns
    * None for anything else (the statement then parses stock). */
  def maintenance(spark: SparkSession,
                  sqlText: String): Option[GraftDmlCommand] = {
    def dirOf(target: String): Option[String] = {
      val parts =
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseMultipartIdentifier(target.trim)
        catch { case _: Exception => return None }
      pathParts(parts).orElse(catalogDir(spark, parts))
    }
    sqlText match {
      case OptimizeRe(target, whereTxt, zcols) =>
        dirOf(target).map { dir =>
          val z = Option(zcols).map(_.split(",").map(c =>
            c.trim.stripPrefix("`").stripSuffix("`")).toSeq).getOrElse(Nil)
          GraftOptimizeCommand(dir, z, Option(whereTxt).map(_.trim))
        }
      case VacuumRe(target, keep, unit, dry) =>
        dirOf(target).map { dir =>
          val n = Option(keep).map(s => s.toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"VACUUM ... RETAIN $s ${Option(unit).getOrElse("")}: the " +
                "retention count must fit in a 32-bit integer")))
          val dryRun = dry != null
          // Delta's habitual `RETAIN 168 HOURS` maps onto the engine's
          // version-based retention via in-commit timestamps at run
          // time; a bare VACUUM defaults to Delta's 7-day window rather
          // than an aggressive fixed version count.
          Option(unit).map(_.toUpperCase) match {
            case Some("VERSIONS") => GraftVacuumCommand(dir, Left(n.get), dryRun)
            case Some("HOURS") => GraftVacuumCommand(dir, Right(n.get), dryRun)
            case _ => GraftVacuumCommand(dir, Right(168), dryRun)
          }
        }
      // PRECEDENCE NOTE: `DESCRIBE t c` (describe a COLUMN) is valid
      // stock grammar, so `DESCRIBE HISTORY x` is inherently ambiguous
      // with describing column x of a table named `history`. Like
      // Delta's parser, the HISTORY reading wins — but ONLY when x
      // resolves to a graft-txn table; otherwise the statement falls
      // through and keeps its stock meaning.
      // like DESCRIBE HISTORY, the graft reading wins ONLY for graft
      // tables; `SHOW TBLPROPERTIES catalog_tbl` keeps stock semantics
      case ShowPropsRe(target) => dirOf(target).map(GraftShowPropertiesCommand)
      // stock grammar has SHOW PARTITIONS too (hive-style tables); the
      // graft reading wins ONLY for graft targets, like DESCRIBE DETAIL
      case ShowPartsRe(target) => dirOf(target).map(GraftShowPartitionsCommand)
      case CopyIntoRe(target, src, fmt, pat) =>
        dirOf(target).map(dir =>
          GraftCopyIntoCommand(dir, src, fmt.toLowerCase, Option(pat)))
      case ReorgRe(target) => dirOf(target).map(GraftReorgCommand)
      case HistoryRe(target) => dirOf(target).map(GraftHistoryCommand)
      case DetailRe(target) => dirOf(target).map(GraftDetailCommand)
      case RestoreRe(target, v) =>
        dirOf(target).map(dir => GraftRestoreCommand(dir,
          Left(v.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"RESTORE ... TO VERSION AS OF $v: the version must fit in a " +
              "64-bit integer")))))
      case RestoreTsRe(target, ts) =>
        dirOf(target).map(dir => GraftRestoreCommand(dir, Right(ts)))
      case _ => None
    }
  }

  /** Path-addressed graft-txn RELATIONS anywhere in a statement:
    * plain `graft_txn.`/path`` reads resolve to the current snapshot,
    * and SQL TIME TRAVEL (`VERSION AS OF 3` / `TIMESTAMP AS OF '...'`)
    * to [[TxnLake.readVersion]]/[[TxnLake.readAsOf]] — in joins, CTEs
    * and subqueries alike (a snapshot read is a relation, not a
    * statement kind; Spark parses the suffix into
    * [[RelationTimeTravel]] but no v1 path resolves it). DML TARGETS
    * are deliberately left unresolved — [[rewrite]] needs the raw
    * relation to dispatch the statement — while a MERGE's source and
    * an INSERT's query DO get relation rewriting (merging FROM an
    * older snapshot is the restore-shaped merge). Non-graft relations
    * keep their nodes (stock analysis owns their fate). */
  private[graft] def rewriteTimeTravel(spark: SparkSession,
                                       plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable => d
    case u: UpdateTable => u
    case m: MergeIntoTable =>
      m.copy(sourceTable = rewriteTimeTravel(spark, m.sourceTable))
    case i: InsertIntoStatement =>
      i.copy(query = rewriteTimeTravel(spark, i.query))
    // ADD CONSTRAINT's child is a parser-built validation query over
    // the TARGET (Filter(NOT cond, relation)) — it must stay
    // unresolved so [[rewrite]] can claim the graft table (the engine
    // runs its own retroactive validation); rewriting it here would
    // swap in the analyzed relation and lose the addressing
    case a: AddCheckConstraint => a
    case other => rewriteRelations(spark, other)
  }

  private def rewriteRelations(spark: SparkSession,
                               plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      // CTE definitions are INNER children of UnresolvedWith (not plan
      // children), so the tree walk alone never reaches a relation
      // inside `WITH x AS (SELECT ... VERSION AS OF ...)` — recurse
      // into each definition explicitly
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { cte =>
          cte.copy(_2 = rewriteRelations(spark, cte._2)
            .asInstanceOf[SubqueryAlias])
        })
      case r: UnresolvedRelation if pathDir(r).isDefined =>
        TxnLake.read(spark, pathDir(r).get).queryExecution.analyzed
      // Delta CDF's SQL entry: `SELECT ... FROM table_changes('t', 2
      // [, 5])` — the retained change rows of a graft-txn table between
      // two versions, as a RELATION (composes in joins/CTEs/subqueries
      // like any other). Rides [[graft.streaming.CdcFeed.batch]], so
      // the rows are the commit-time materialized feed (O(changed
      // rows), never a snapshot diff) in the full preimage dialect with
      // `_change_type` / `_commit_version` columns. Version bounds are
      // INTEGER literals (inclusive); a table without a feed fails
      // loudly with the CdcFeed message. Non-graft names fall through
      // to whatever the session's own table_changes resolves to.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("table_changes") &&
            tableChangesDir(spark, tvf.functionArgs).isDefined =>
        import org.apache.spark.sql.catalyst.expressions.Literal
        val args = tvf.functionArgs
        require(args.size == 2 || args.size == 3,
          "table_changes(table, start[, end]) takes 2 or 3 arguments")
        val dir = tableChangesDir(spark, args).get
        // Delta's table_changes accepts versions OR timestamps for both
        // bounds. A string literal is a timestamp (parsed through the
        // same Spark cast the TIMESTAMP AS OF read path uses — session
        // zone, ISO forms) and resolves through IN-COMMIT TIMESTAMPS:
        // a start bound to the FIRST commit at-or-after it, an end
        // bound to the NEWEST commit at-or-before it — so the window
        // [start_ts, end_ts] captures exactly the commits that
        // published inside it.
        def tsMillis(s: String, what: String): Long = {
          // try_cast, not cast: under ANSI a malformed string THROWS a
          // generic cast error before the typed message below could fire
          val row = spark.range(1).select(lit(s).as("__raw"))
            .select(org.apache.spark.sql.functions
              .expr("try_cast(__raw AS TIMESTAMP)").as("__tc")).head()
          require(!row.isNullAt(0),
            s"table_changes: cannot parse '$s' as a timestamp for $what")
          row.getTimestamp(0).getTime
        }
        def bound(e: Expression, what: String, start: Boolean): Long = e match {
          case Literal(v: Int, _) => v.toLong
          case Literal(v: Long, _) => v
          case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
            val millis = tsMillis(s.toString, what)
            if (start) graft.streaming.CdcFeed
              .firstVersionAtOrAfter(spark, dir, millis)
            else TxnLake.versionAsOfTimestamp(spark, dir, millis)
          case other => throw new IllegalArgumentException(
            s"table_changes: $what must be an integer version or a " +
              s"timestamp string literal, got ${other.sql}")
        }
        val from = bound(args(1), "start", start = true)
        val feed = if (args.size == 3)
          graft.streaming.CdcFeed.batch(spark, dir, from, bound(args(2), "end", start = false))
        else graft.streaming.CdcFeed.batch(spark, dir, from)
        SubqueryAlias("table_changes", feed.queryExecution.analyzed)
      case tt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(rel, ts, ver) =>
        resolveTarget(spark, rel) match {
          case None => tt
          case Some((dir, _)) =>
            val df = (ver, ts) match {
              case (Some(v), None) =>
                val vl = try v.toLong catch {
                  case _: NumberFormatException => throw new IllegalArgumentException(
                    s"VERSION AS OF on a graft-txn table takes an integer version, got '$v'")
                }
                TxnLake.readVersion(spark, dir, vl)
              case (None, Some(t)) =>
                // evaluate the (foldable) timestamp expression through a
                // one-row projection — handles string literals, casts,
                // and timestamp functions uniformly
                val row = CatalystBridge.ofRows(spark,
                  Project(Seq(org.apache.spark.sql.catalyst.expressions.Alias(t, "__tt")()),
                    OneRowRelation()))
                  .select(col("__tt").cast("timestamp")).head()
                require(!row.isNullAt(0), s"TIMESTAMP AS OF evaluated to NULL: ${t.sql}")
                TxnLake.readAsOf(spark, dir, row.getTimestamp(0).getTime)
              case _ => throw new IllegalArgumentException(
                "time travel needs exactly one of VERSION AS OF / TIMESTAMP AS OF")
            }
            df.queryExecution.analyzed
        }
    }

  /** The graft-txn dir a `table_changes(...)` first argument names, or
    * None (non-graft → the reference falls through untouched): a string
    * literal holding a catalog table name, Delta's `graft_txn.`/path``
    * spelling, or a bare filesystem path. */
  private def tableChangesDir(spark: SparkSession,
                              args: Seq[Expression]): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    args.headOption.flatMap {
      case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
        val name = v.toString
        val parsed =
          try Some(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseMultipartIdentifier(name))
          catch { case _: Exception => None }
        // a bare path is claimed only when it actually IS a graft table
        // (has a change feed or at least a txn log) — a stranger's path
        // must fall through to the session's own table_changes
        def isGraft: Boolean =
          try TxnLake.cdcEnabled(spark, name) || TxnLake.isTxnTable(spark, name)
          catch { case _: Exception => false }
        parsed.flatMap(p => pathParts(p).orElse(catalogDir(spark, p)))
          .orElse(if (name.contains("/") && isGraft) Some(name) else None)
      case _ => None
    }
  }

  private val GenColPrefix = "graft.generatedColumns."

  /** SET TBLPROPERTIES semantics per key (all metadata-only):
    * `graft.statsColumns` replaces the additive zone-map set,
    * `graft.changeFeed` enables the CDC feed (enable-only — disabling
    * would orphan the feed's retention; vacuum prunes old feed dirs),
    * `graft.generatedColumns.<col>` MERGES the column's expression
    * into the validated generated set. */
  private def applyTableProperties(spark: SparkSession, dir: String,
                                   props: Map[String, String]): Unit = {
    props.keys.foreach {
      case "graft.statsColumns" | "graft.changeFeed" => ()
      case k if k.startsWith(GenColPrefix) && k.length > GenColPrefix.length => ()
      case k => throw new IllegalArgumentException(
        s"unknown graft table property '$k' — supported: graft.statsColumns, " +
          "graft.changeFeed (enable-only), graft.generatedColumns.<col>")
    }
    props.get("graft.statsColumns").foreach(v => TxnLake.setStatsColumns(
      spark, dir, v.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    props.get("graft.changeFeed").foreach { v =>
      require(v.toBoolean,
        "graft.changeFeed can only be enabled ('true') — disabling would " +
          "orphan the feed's retained change dirs; vacuum prunes old versions")
      TxnLake.enableChangeFeed(spark, dir)
    }
    val gen = props.collect { case (k, v) if k.startsWith(GenColPrefix) =>
      k.stripPrefix(GenColPrefix) -> v }
    if (gen.nonEmpty) TxnLake.setGeneratedColumns(spark, dir,
      TxnLake.generatedColumnsOf(spark, dir) ++ gen)
  }

  private def unsetTableProperties(spark: SparkSession, dir: String,
                                   keys: Seq[String], ifExists: Boolean): Unit =
    keys.foreach {
      case "graft.statsColumns" => TxnLake.setStatsColumns(spark, dir, Nil)
      case k if k.startsWith(GenColPrefix) && k.length > GenColPrefix.length =>
        val c = k.stripPrefix(GenColPrefix)
        val cur = TxnLake.generatedColumnsOf(spark, dir)
        if (cur.contains(c)) TxnLake.setGeneratedColumns(spark, dir, cur - c)
        else if (!ifExists) throw new IllegalArgumentException(
          s"no generated column '$c' to unset at $dir (use IF EXISTS)")
      case k =>
        if (!ifExists) throw new IllegalArgumentException(
          s"cannot unset graft table property '$k' — unsettable: " +
            "graft.statsColumns, graft.generatedColumns.<col> " +
            "(graft.changeFeed and graft.partitionColumn are structural)")
    }

  // ---- target resolution -------------------------------------------------

  /** The dir of a PATH-addressed identifier (`graft_txn.`/path``),
    * None otherwise — THE single definition of the addressing rule
    * (the namespace spelling and the path-shaped guard that keeps a
    * real catalog database named graft_txn out of filesystem probes).
    * Every resolver (relations, DML targets, DDL targets) goes
    * through here. */
  private def pathParts(parts: Seq[String]): Option[String] = parts match {
    case Seq(ns, path) if ns.equalsIgnoreCase("graft_txn") &&
        path.contains("/") => Some(path)
    case _ => None
  }

  private def pathDir(r: UnresolvedRelation): Option[String] =
    pathParts(r.multipartIdentifier)

  /** Resolve the DML target to a `graft-txn` table dir. Returns the dir
    * plus the qualifier strings (lower-cased) that may prefix the
    * target's columns in conditions ("t", "db.t", an alias). Accepts
    *   - `graft_txn.`/path/to/table``   (Delta's path-addressing form)
    *   - any catalog table created with USING graft-txn
    */
  private def resolveTarget(spark: SparkSession,
                            rel: LogicalPlan): Option[(String, Set[String])] = rel match {
    case SubqueryAlias(alias, child) =>
      resolveTarget(spark, child).map { case (dir, quals) =>
        (dir, quals + alias.name.toLowerCase)
      }
    case r: UnresolvedRelation =>
      val parts = r.multipartIdentifier
      val quals = Set(parts.last.toLowerCase, parts.mkString(".").toLowerCase)
      pathParts(parts) match {
        case Some(path) =>
          Some((path, Set(path.toLowerCase, s"graft_txn.${path.toLowerCase}")))
        case None => catalogDir(spark, parts).map(dir => (dir, quals))
      }
    case _ => None
  }

  /** A catalog table's `graft-txn` data dir, if the identifier names
    * one (never throws — unknown tables fall through to stock Spark's
    * own resolution errors). */
  private def catalogDir(spark: SparkSession, parts: Seq[String]): Option[String] = {
    val ti = parts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case _ => return None
    }
    val catalog = spark.sessionState.catalog
    if (!catalog.tableExists(ti)) None
    else {
      val meta = catalog.getTableMetadata(ti)
      if (!meta.provider.exists(_.equalsIgnoreCase("graft-txn"))) None
      else meta.storage.properties.get("path")
        .orElse(meta.storage.locationUri.map(u =>
          new org.apache.hadoop.fs.Path(u).toString))
    }
  }

  // ---- expression plumbing ----------------------------------------------

  /** Drop the target's qualifier from column references so the
    * engines' single-frame evaluation resolves them (`t.price` ->
    * `price`). References still qualified AFTERWARD (a source alias in
    * a target-only clause) reject loudly at [[requireTargetOnly]]. */
  private def stripQuals(e: Expression, quals: Set[String]): Expression = {
    val out = e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          quals.contains(a.nameParts.init.mkString(".").toLowerCase) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }
    require(!out.exists(_.isInstanceOf[SubqueryExpression]),
      "graft-txn DML conditions cannot contain subqueries — rewrite the " +
        "subquery as a MERGE source")
    out
  }

  /** The analyzer pass that rejects duplicate SET assignments never
    * runs for these leaf commands, and `.toMap` at run time would
    * silently keep the LAST duplicate — reject at rewrite time, the
    * way analysis would have. */
  private def requireUniqueSet(set: Seq[(String, ExprBox)]): Seq[(String, ExprBox)] = {
    val dups = set.groupBy(_._1.toLowerCase).filter(_._2.sizeIs > 1).keys
    require(dups.isEmpty,
      s"duplicate SET assignments for column(s): ${dups.mkString(", ")}")
    set
  }

  private def assignName(key: Expression, quals: Set[String]): String =
    stripQuals(key, quals) match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => a.nameParts.head
      case other => throw new IllegalArgumentException(
        s"SET must assign a plain column of the target table, got: ${other.sql}")
    }

  private def requireTargetOnly(e: Expression, clause: String): Expression = {
    val stray = e.collect {
      case a: UnresolvedAttribute if a.nameParts.length > 1 => a.name }
    require(stray.isEmpty,
      s"$clause may reference only the target row's columns; " +
        s"qualified references remain: ${stray.mkString(", ")}")
    e
  }

  // ---- MERGE shape mapping ----------------------------------------------

  private def buildMerge(dir: String, m: MergeIntoTable,
                         tQuals: Set[String]): GraftMergeCommand = {
    // the merge key: ON t.k = s.k — one equi-column, same name both
    // sides (the engine's keyed contract)
    val key = m.mergeCondition match {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          l: UnresolvedAttribute, r: UnresolvedAttribute)
          if l.nameParts.last.equalsIgnoreCase(r.nameParts.last) =>
        l.nameParts.last
      case other => throw new IllegalArgumentException(
        "graft-txn MERGE requires ON target.k = source.k with the same " +
          s"column name on both sides, got: ${other.sql}")
    }
    val (matchedDelete, updateStar) = m.matchedActions match {
      case Seq() => (None, false)
      case Seq(UpdateStarAction(None)) => (None, true)
      case Seq(DeleteAction(c)) =>
        (Some(ExprBox(c.map(x => requireTargetOnly(stripQuals(x, tQuals), "WHEN MATCHED AND ... THEN DELETE"))
          .getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))), false)
      case Seq(DeleteAction(Some(c)), UpdateStarAction(None)) =>
        (Some(ExprBox(requireTargetOnly(stripQuals(c, tQuals), "WHEN MATCHED AND ... THEN DELETE"))), true)
      case other => throw new IllegalArgumentException(
        "graft-txn MERGE supports WHEN MATCHED [AND cond] THEN DELETE " +
          "and/or WHEN MATCHED THEN UPDATE SET * (delete clause first), got: " +
          other.map(_.getClass.getSimpleName).mkString(", "))
    }
    val insert = m.notMatchedActions match {
      case Seq() => false
      case Seq(InsertStarAction(None)) => true
      case other => throw new IllegalArgumentException(
        "graft-txn MERGE supports WHEN NOT MATCHED THEN INSERT * " +
          s"(unconditional), got: ${other.map(_.getClass.getSimpleName).mkString(", ")}")
    }
    val bySource = m.notMatchedBySourceActions.map {
      case DeleteAction(c) => BySourceSpec(delete = true,
        c.map(x => ExprBox(requireTargetOnly(stripQuals(x, tQuals), "WHEN NOT MATCHED BY SOURCE"))), Nil)
      case UpdateAction(c, assignments, _) => BySourceSpec(delete = false,
        c.map(x => ExprBox(requireTargetOnly(stripQuals(x, tQuals), "WHEN NOT MATCHED BY SOURCE"))),
        requireUniqueSet(assignments.map(a => assignName(a.key, tQuals) ->
          ExprBox(requireTargetOnly(stripQuals(a.value, tQuals), "WHEN NOT MATCHED BY SOURCE SET")))))
      case other => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE supports THEN DELETE / THEN UPDATE SET " +
          s"c = expr, got: ${other.getClass.getSimpleName}")
    }
    require(bySource.isEmpty || updateStar,
      "WHEN NOT MATCHED BY SOURCE requires WHEN MATCHED THEN UPDATE SET * — " +
        "without it the engine narrows the source to the clauses present, " +
        "which would misclassify matched rows as source-absent")
    GraftMergeCommand(dir, m.sourceTable, key, matchedDelete, updateStar,
      insert, bySource)
  }
}

/** Marker parent: lets [[GraftSqlDml.exec]] recognize an
  * already-rewritten plan from a parser-extension session. */
sealed trait GraftDmlCommand extends LeafRunnableCommand

/** Opaque expression holder. The commands are LEAF nodes — they have
  * no child output — but `QueryPlan.expressions` collects any
  * Expression-typed (or Option/Seq-of-Expression) constructor arg, so
  * the analyzer would try to resolve a raw condition field against an
  * empty schema and fail with UNRESOLVED_COLUMN before `run` ever
  * executes. Boxing keeps the parsed trees invisible to the analyzer;
  * the lake engines resolve them at run time against the table frames
  * they build. */
case class ExprBox(e: Expression) {
  def column: org.apache.spark.sql.Column = CatalystBridge.column(e)
}

/** `DELETE FROM <graft table> WHERE cond` -> [[TxnLake.deleteWhere]]
  * (deletion-vector commit, no rewrite). Returns the deleted count. */
case class GraftDeleteCommand(dir: String, condition: ExprBox)
    extends GraftDmlCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("affected_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxnLake.deleteWhere(spark, dir, condition.column)))
}

/** `UPDATE <graft table> SET ... [WHERE cond]` ->
  * [[TxnLake.updateWhere]]. Returns the updated count. */
case class GraftUpdateCommand(dir: String, set: Seq[(String, ExprBox)],
                              condition: Option[ExprBox])
    extends GraftDmlCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("affected_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxnLake.updateWhere(spark, dir,
      condition.map(_.column).getOrElse(lit(true)),
      set.map { case (k, v) => k -> v.column }.toMap)))
}

/** One WHEN NOT MATCHED BY SOURCE clause, parser-side. */
case class BySourceSpec(delete: Boolean, condition: Option[ExprBox],
                        set: Seq[(String, ExprBox)])

/** `OPTIMIZE <graft table> [ZORDER BY (cols)]` -> [[TxnLake.optimize]]
  * (small-file compaction) or [[TxnLake.optimizeZOrder]] (curve
  * clustering) — one atomic commit either way; the returned row
  * surfaces the engine's [[TxnLake.OptimizeStats]] so SQL callers see
  * the effect they'd get from the API. */
case class GraftOptimizeCommand(dir: String, zCols: Seq[String],
                                where: Option[String] = None)
    extends GraftDmlCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", LongType, nullable = false)(),
    AttributeReference("files_after", LongType, nullable = false)(),
    AttributeReference("partitions_rewritten", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(where.isEmpty || zCols.isEmpty,
      "OPTIMIZE ... WHERE with ZORDER BY is not supported: scope the " +
        "compaction with WHERE first, then ZORDER the table — two statements")
    val st =
      if (zCols.isEmpty)
        TxnLake.optimize(spark, dir,
          where = where.map(org.apache.spark.sql.functions.expr))
      else TxnLake.optimizeZOrder(spark, dir, zCols, rowsPerFile = 0L)
    Seq(Row(st.filesBefore.toLong, st.filesAfter.toLong,
      st.partitionsCompacted.toLong, st.version))
  }
}

/** `VACUUM <graft table> [RETAIN n VERSIONS | RETAIN n HOURS] [DRY
  * RUN]` -> [[TxnLake.vacuum]] / [[TxnLake.vacuumDryRun]]. The engine's
  * retention unit is VERSIONS (every retained version stays fully
  * reconstructable); the HOURS form — Delta's habitual spelling — maps
  * onto it via IN-COMMIT TIMESTAMPS: every version committed inside the
  * window is retained, plus the snapshot that was current AT the
  * window's edge (so a time-travel read anywhere inside the window
  * keeps resolving). A bare `VACUUM t` defaults to 168 hours, Delta's
  * 7-day default, NOT an aggressive fixed version count. The engine's
  * grace window for in-flight files still applies. DRY RUN previews —
  * one row per path vacuum would remove, with its kind — and mutates
  * nothing. */
case class GraftVacuumCommand(dir: String, keep: Either[Int, Int],
                              dryRun: Boolean = false)
    extends GraftDmlCommand {
  import org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] =
    if (dryRun) Seq(
      AttributeReference("path", StringType, nullable = false)(),
      AttributeReference("kind", StringType, nullable = false)())
    else Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val keepVersions = keep match {
      case Left(versions) => versions
      case Right(hours) =>
        val cutoff = System.currentTimeMillis() - hours.toLong * 3600000L
        val head = TxnLake.currentVersion(spark, dir)
        // the version serving reads AT the cutoff instant; when even the
        // oldest retained version is younger than the window, keep all
        val edge =
          try TxnLake.versionAsOfTimestamp(spark, dir, cutoff)
          catch { case _: IllegalArgumentException => 0L }
        math.max(1L, head - edge + 1L).min(Int.MaxValue.toLong).toInt
    }
    if (dryRun) TxnLake.vacuumDryRun(spark, dir, keepVersions).collect().toSeq
    else {
      TxnLake.vacuum(spark, dir, keepVersions = keepVersions)
      Seq(Row(dir))
    }
  }
}

/** `SHOW TBLPROPERTIES <graft table>` — the table's graft-level
  * properties as (key, value) rows, Delta's `delta.*` discipline:
  * partition column (logical name), the stats-tracked column set, the
  * change-feed flag, and one `graft.generatedColumns.<col>` row per
  * generated column with its expression. Metadata-only (manifest +
  * marker files). Non-graft targets keep stock `SHOW TBLPROPERTIES`
  * semantics — the pre-match claims only graft tables. */
case class GraftShowPropertiesCommand(dir: String) extends GraftDmlCommand {
  import org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val det = TxnLake.tableDetail(spark, dir).collect()(0)
    val base = Seq(
      "graft.partitionColumn" -> det.getAs[String]("partition_column"),
      "graft.statsColumns" -> det.getAs[Seq[String]]("stats_columns").mkString(","),
      "graft.changeFeed" -> TxnLake.cdcEnabled(spark, dir).toString)
    val gen = TxnLake.generatedColumnsOf(spark, dir).toSeq
      .map { case (c, e) => s"graft.generatedColumns.$c" -> e }
    val cons = TxnLake.checkConstraintsOf(spark, dir).toSeq
      .map { case (n, e) => s"graft.constraints.$n" -> e }
    val dflt = TxnLake.columnDefaultsOf(spark, dir).toSeq
      .map { case (c, e) => s"graft.defaults.$c" -> e }
    val ident = TxnLake.identityColumnsOf(spark, dir).toSeq
      .map { case (c, (st, sp)) =>
        s"graft.identity.$c" -> s"START WITH $st STEP $sp" }
    val stats = TxnLake.tableStatsOf(spark, dir).toSeq.flatMap(ts => Seq(
      "graft.stats.analyzedVersion" -> ts.version.toString,
      "graft.stats.analyzedRows" -> ts.rows.toString))
    (base ++ gen ++ cons ++ dflt ++ ident ++ stats).sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
  }
}

/** `SHOW PARTITIONS <graft table>` — the manifest's live partition
  * values with file and row counts ([[TxnLake.partitions]]):
  * metadata-only, one log resolve, zero data files. `n_rows` is exact
  * (each entry's rows less its deletion vectors' doomed rows).
  * Non-graft targets keep stock `SHOW PARTITIONS` semantics. */
case class GraftShowPartitionsCommand(dir: String) extends GraftDmlCommand {
  import org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    TxnLake.partitions(spark, dir).collect().toSeq
}

/** `COPY INTO <graft table> FROM '<src>' FILEFORMAT = parquet|csv|json
  * [PATTERN = '<glob>']` — Delta's idempotent bulk loader
  * ([[TxnLake.copyInto]]): only files no previous COPY INTO loaded are
  * read, one atomic commit, ledger folded through checkpoints. Returns
  * the per-call load stats. */
case class GraftCopyIntoCommand(dir: String, src: String, format: String,
                                pattern: Option[String]) extends GraftDmlCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_loaded", LongType, nullable = false)(),
    AttributeReference("rows_loaded", LongType, nullable = false)(),
    AttributeReference("files_skipped", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val st = TxnLake.copyInto(spark, dir, src, format, pattern)
    Seq(Row(st.filesLoaded, st.rowsLoaded, st.filesSkipped, st.version))
  }
}

/** `REORG TABLE <graft table> APPLY (PURGE)` — Delta's merge-on-read
  * debt repayment statement: rewrite ONLY the files carrying
  * outstanding deletion vectors (their partitions), folding the
  * vectors away; plain fragmentation is deliberately NOT compacted
  * (`minFiles = Int.MaxValue` — that is OPTIMIZE's job). Same stats
  * row as OPTIMIZE. */
case class GraftReorgCommand(dir: String) extends GraftDmlCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", LongType, nullable = false)(),
    AttributeReference("files_after", LongType, nullable = false)(),
    AttributeReference("partitions_rewritten", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val st = TxnLake.optimize(spark, dir, minFiles = Int.MaxValue, purgeDv = true)
    Seq(Row(st.filesBefore.toLong, st.filesAfter.toLong,
      st.partitionsCompacted.toLong, st.version))
  }
}

/** `RESTORE [TABLE] <graft table> TO VERSION AS OF n` (or `TO
  * TIMESTAMP AS OF 'ts'`) -> [[TxnLake.restore]]: roll back as a NEW
  * forward commit — metadata-only, history preserved, concurrent
  * read-modify-writes conflict under standard OCC. The timestamp form
  * resolves through [[TxnLake.versionAsOfTimestamp]] (in-commit
  * timestamps), exactly like `TIMESTAMP AS OF` reads. Returns the
  * version restored to and the new head version the restore minted. */
case class GraftRestoreCommand(dir: String, target: Either[Long, String])
    extends GraftDmlCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = target match {
      case Left(ver) => ver
      case Right(ts) =>
        // the SAME parse the TIMESTAMP AS OF read path uses (Spark cast,
        // session timezone, ISO forms accepted) — java.sql.Timestamp
        // .valueOf would reject ISO 'T' literals and bind the JVM's
        // default zone, silently resolving a different instant than the
        // identically-written read
        val row = spark.range(1).select(lit(ts).cast("timestamp").as("__tt")).head()
        require(!row.isNullAt(0), s"RESTORE TO TIMESTAMP AS OF: cannot parse '$ts'")
        TxnLake.versionAsOfTimestamp(spark, dir, row.getTimestamp(0).getTime)
    }
    // new_version = the version restore() itself minted (or the
    // unchanged head on a no-op) — NOT a post-commit currentVersion
    // re-listing, which a concurrent writer could bump first, making
    // the statement report someone else's commit as the restore's head
    val newHead = TxnLake.restore(spark, dir, v)
    Seq(Row(v, newHead))
  }
}

/** `DESCRIBE DETAIL <graft table>` -> [[TxnLake.tableDetail]]: one
  * metadata-only row (format, location, version, file/row counts,
  * partition column, stats columns, retained versions). */
case class GraftDetailCommand(dir: String) extends GraftDmlCommand {
  import org.apache.spark.sql.types._
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = true)(),
    AttributeReference("partition_column", StringType, nullable = false)(),
    AttributeReference("stats_columns", ArrayType(StringType), nullable = false)(),
    AttributeReference("retained_versions", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] =
    TxnLake.tableDetail(spark, dir).collect().toSeq
}

/** `DESCRIBE HISTORY <graft table>` -> [[TxnLake.history]] as rows:
  * one per retained version (version, commit id, touched partitions,
  * live-file count, in-commit timestamp) — metadata-only, no data
  * files are opened. */
case class GraftHistoryCommand(dir: String) extends GraftDmlCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("commit_id", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("touched_partitions",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType), nullable = false)(),
    AttributeReference("n_files",
      org.apache.spark.sql.types.IntegerType, nullable = false)(),
    AttributeReference("committed_at",
      org.apache.spark.sql.types.TimestampType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    TxnLake.history(spark, dir).collect().toSeq
}

/** One ALTER TABLE column statement -> the matching metadata-only
  * engine commit ([[TxnLake.addColumn]] / renameColumn / dropColumn /
  * widenColumn). The action closure runs on the driver at execution
  * time; `what` is the EXPLAIN-visible description. For CATALOG
  * tables (`table` is defined) the session catalog's stored schema is
  * re-synced from the committed manifest afterwards — otherwise
  * `DESCRIBE t` and metastore-resolved reads would keep serving the
  * pre-DDL schema while the lake has moved on. The sync goes through
  * the external catalog directly: [[SessionCatalog.alterTableDataSchema]]
  * validates add-only changes and would reject RENAME/DROP syncs. */
case class GraftDdlCommand(dir: String, table: Option[TableIdentifier],
                           what: String,
                           action: (SparkSession, String) => Unit)
    extends GraftDmlCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    action(spark, dir)
    table.foreach { ti =>
      val catalog = spark.sessionState.catalog
      if (catalog.tableExists(ti)) {
        val meta = catalog.getTableMetadata(ti)
        val resolver = spark.sessionState.conf.resolver
        val full = TxnLake.read(spark, dir).schema
        val dataSchema = org.apache.spark.sql.types.StructType(
          full.filterNot(f =>
            meta.partitionColumnNames.exists(p => resolver(p, f.name))))
        spark.sharedState.externalCatalog.alterTableDataSchema(
          meta.database, meta.identifier.table, dataSchema)
        catalog.refreshTable(ti)
      }
    }
    Seq.empty
  }
}

/** `INSERT INTO / INSERT OVERWRITE <graft table> [(cols)] <query>` ->
  * [[TxnLake.append]] / [[TxnLake.overwrite]] — one transactional
  * commit, never Spark's direct-file insert (which the relation's
  * write guard refuses because it would bypass the manifest). Without
  * a column list, query output maps POSITIONALLY onto the table's
  * logical columns (ANSI INSERT semantics); a column list (or BY
  * NAME) maps by name, and the engine's all-columns contract reports
  * anything missing. */
case class GraftInsertCommand(dir: String, query: LogicalPlan,
                              userCols: Seq[String], overwrite: Boolean,
                              byName: Boolean)
    extends GraftDmlCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val df0 = CatalystBridge.ofRows(spark, query)
    val df =
      if (userCols.nonEmpty) {
        require(df0.columns.length == userCols.length,
          s"INSERT column list has ${userCols.length} columns but the " +
            s"query produces ${df0.columns.length}")
        df0.toDF(userCols: _*)
      } else if (byName) df0
      else {
        val tableCols = TxnLake.read(spark, dir).columns.toSeq
        require(df0.columns.length == tableCols.length,
          s"INSERT query produces ${df0.columns.length} columns but " +
            s"table has ${tableCols.length} (${tableCols.mkString(",")})")
        df0.toDF(tableCols: _*)
      }
    if (overwrite) TxnLake.overwrite(spark, dir, df)
    else TxnLake.append(spark, dir, df)
    Seq.empty
  }
}

/** `MERGE INTO <graft table> USING src ON ...` -> [[TxnLake.merge]].
  *
  * Clause subsets the engine does not model directly are expressed by
  * narrowing the SOURCE relationally before the one atomic commit:
  *   - no INSERT clause: source semi-joined to current target keys
  *     (unmatched source rows must not insert)
  *   - DELETE-only matched clause: source semi-joined to the keys of
  *     target rows satisfying the delete condition, engine deleteWhen
  *     becomes TRUE — matched-and-doomed rows delete, matched-but-kept
  *     rows keep their target values because their source rows are
  *     withheld; plus the anti-join part when INSERT is present
  * The narrowing joins are keyed semi/anti joins on the merge key —
  * the same scale class as the merge's own planning joins. */
case class GraftMergeCommand(dir: String, source: LogicalPlan, key: String,
                             matchedDelete: Option[ExprBox],
                             updateStar: Boolean, insert: Boolean,
                             bySource: Seq[BySourceSpec])
    extends GraftDmlCommand {
  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val src0 = CatalystBridge.ofRows(spark, source)
    val deleteWhen = matchedDelete.map(_.column)
    val bs = bySource.map { s =>
      if (s.delete) TxnLake.BySourceDelete(s.condition.map(_.column))
      else TxnLake.BySourceUpdate(
        s.set.map { case (k, v) => k -> v.column }.toMap,
        s.condition.map(_.column))
    }
    if (updateStar && insert) {
      // full clause set: the source is not narrowed against any table
      // read, so the engine's own snapshot + OCC check suffice
      TxnLake.merge(spark, dir, src0, key, deleteWhen.getOrElse(lit(false)), bs)
    } else {
      // clause narrowing reads the target — pin ONE snapshot version
      // for both the narrowing joins and the staged base ([[TxnLake
      // .mergeAt]]), or a commit landing between the two reads would
      // slip past OCC (staged base == new head) with narrowing from a
      // stale version: a result matching no serial order
      val v = TxnLake.currentVersion(spark, dir)
      val snap = TxnLake.readVersion(spark, dir, v)
      val targetKeys = snap.select(col(key)).distinct()
      if (updateStar) {
        val src = src0.join(targetKeys, Seq(key), "left_semi")
        TxnLake.mergeAt(spark, dir, v, src, key,
          deleteWhen.getOrElse(lit(false)), bs)
      } else if (matchedDelete.isDefined) {
        val doomedKeys = snap.filter(deleteWhen.get).select(col(key)).distinct()
        val matchedDoomed = src0.join(doomedKeys, Seq(key), "left_semi")
        val src = if (insert)
          matchedDoomed.unionByName(src0.join(targetKeys, Seq(key), "left_anti"))
        else matchedDoomed
        TxnLake.mergeAt(spark, dir, v, src, key, lit(true))
      } else if (insert) {
        TxnLake.mergeAt(spark, dir, v,
          src0.join(targetKeys, Seq(key), "left_anti"), key, lit(false))
      } else {
        throw new IllegalArgumentException(
          "graft-txn MERGE needs at least one WHEN clause the engine can " +
            "apply (UPDATE SET * / DELETE / INSERT *)")
      }
    }
    Seq.empty
  }
}
