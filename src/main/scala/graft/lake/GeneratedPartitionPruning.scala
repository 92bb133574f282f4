package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNull, LessThan, LessThanOrEqual, Literal, Or, PredicateHelper}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, TimestampNTZType}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** PARTITION-FILTER DERIVATION FROM GENERATED COLUMNS — Delta's
  * `OptimizeGeneratedColumn` parity (VERDICT r16 #2).
  *
  * A table whose PARTITION column is GENERATED from a source column
  * (`pt = expr(src)`, [[TxnLake.setGeneratedColumns]]) is usually
  * queried by the SOURCE column — the user filters `src = v`, not the
  * engine-owned bucket. Without this rule such a query scans EVERY
  * partition: nothing in the filter mentions `pt`, so manifest
  * partition pruning never fires. At 100 TB that is the difference
  * between one partition and all of them.
  *
  * The rule finds `Filter(..., lake relation)` where the partition
  * column is generated from exactly ONE source column, extracts
  * equality/IN literals bound to that source column, EVALUATES the
  * stored generated expression at each literal (driver-side constant
  * fold — parse, substitute, analyze over OneRowRelation, eval; no
  * jobs, no I/O), and conjoins the implied predicate
  * `pt IN (expr(v1), expr(v2), ...)` — which the existing manifest
  * pruning ([[TxnFileIndex.listFiles]], beneath [[TxnDvRelation]] too)
  * then turns into file skips. Soundness leans on the declare-time discipline:
  * generated expressions are deterministic and evaluation-time-
  * independent (enforced in [[TxnLake.setGeneratedColumns]]), and
  * every committed row satisfies `pt <=> expr(src)` (validated
  * retroactively on declare, recomputed on every write path) — so for
  * any row with `src = v`, `pt` EQUALS `expr(v)` and the added
  * conjunct filters out nothing the original predicate kept.
  *
  * Scope: equality (`=`, `<=>`) and `IN` over literals — the shapes a
  * value substitution proves for ANY deterministic expression — plus
  * RANGE predicates (`>=`, `>`, `<=`, `<`, BETWEEN) when the stored
  * expression matches a NON-DECREASING whitelist (Delta's
  * OptimizeGeneratedColumn function list): `year`, `to_date`,
  * `date_trunc`, `trunc`, prefix `substring`, order-preserving casts.
  * For those, `src >= a` implies `pt = expr(src) >= expr(a)` (strict
  * bounds relax to inclusive — the expression need not be injective),
  * so `src BETWEEN a AND b` derives `pt BETWEEN expr(a) AND expr(b)`.
  * A NULL-valued derivation (expr(v) IS NULL) contributes
  * `pt IS NULL`, never a null literal inside IN (which would filter
  * the very partition it names). Derivation fires only when the
  * filter references NOTHING about the partition column yet — the
  * user's own partition predicate needs no help, and since the
  * derived conjunct references it, fixed-point optimizer batches
  * stabilize after one pass. */
object GeneratedPartitionPruning extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, lr: LogicalRelation) =>
      derived(cond, lr).map(d => Filter(And(cond, d), lr)).getOrElse(f)
  }

  /** Append to the session's user-provided optimizer rules — for
    * sessions built without `GraftExtensions` (the [[TxnCboStats
    * .install]] twin). Late-batch placement is fine: partition pruning
    * happens at PHYSICAL planning (`listFiles`), after every logical
    * batch. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  /** The lake table under `lr`: a `graft-txn` source relation. An
    * engine-internal scan ([[TxnFileIndex]]`.table` false) abstains —
    * the entries it reads may predate the declaration (an older
    * version, a restore of one), where the invariant need not hold,
    * and it carries the files' physical column names. */
  private def relInfo(lr: LogicalRelation): Option[(String, TxnLake.Manifest)] =
    lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case idx: TxnFileIndex if idx.table => Some((idx.dir, idx.manifest))
        case _ => None
      }
      case dv: TxnDvRelation => Some((dv.dir, dv.manifest))
      case _ => None
    }

  private def derived(cond: Expression, lr: LogicalRelation): Option[Expression] =
    try deriveUnsafe(cond, lr)
    catch { case scala.util.control.NonFatal(_) => None } // abstain, never break a plan

  private def deriveUnsafe(cond: Expression, lr: LogicalRelation): Option[Expression] = {
    val spark = SparkSession.active
    val (dir, m) = relInfo(lr).getOrElse(return None)
    val logicalPart = m.renames.getOrElse(m.partCol, m.partCol)
    val gen = TxnLake.genColsCached(TxnLake.fsOf(spark, dir), dir)
    if (gen.isEmpty) return None
    val genExpr = gen.collectFirst {
      case (c, e) if c.equalsIgnoreCase(logicalPart) => e
    }.getOrElse(return None)
    val parsed = spark.sessionState.sqlParser.parseExpression(genExpr)
    val srcNames = parsed.collect {
      case a: UnresolvedAttribute => a.name.toLowerCase
    }.distinct
    if (srcNames.size != 1) return None // multi-column derivation unproven
    val srcAttr = lr.output.collectFirst {
      case a if a.name.equalsIgnoreCase(srcNames.head) => a
    }.getOrElse(return None)
    val partAttr = lr.output.collectFirst {
      case a if a.name.equalsIgnoreCase(logicalPart) => a
    }.getOrElse(return None)
    if (partAttr.exprId == srcAttr.exprId) return None
    // SESSION-TIMEZONE SOUNDNESS: a TIMESTAMP (LTZ) source makes any
    // string/date-shaped derivation session-tz-dependent — deterministic
    // per session, but the WRITER's session computed the stored pt and
    // THIS session would fold expr(v); differing timezones would derive
    // a partition value that was never stored and prune live data
    // (Delta whitelists expressions for exactly this reason). Abstain.
    // TimestampNTZ / Date / numerics / strings carry no session tz.
    if (srcAttr.dataType == org.apache.spark.sql.types.TimestampType)
      return None
    val conjuncts = splitConjunctivePredicates(cond)
    // derive only when the filter says NOTHING about the partition
    // column yet — the user's own partition predicate needs no help,
    // and the derived conjunct references partAttr, so this check is
    // also what makes the fixed-point batch converge after one pass
    // (even when OptimizeIn later rewrites the added In to an InSet)
    if (conjuncts.exists(_.references.exists(_.exprId == partAttr.exprId)))
      return None

    // literals one conjunct binds the source column to (null literal
    // under = matches no row — skip it; under <=> it selects the
    // src-IS-NULL rows, whose pt is expr(null) — derivable)
    def litsOf(c: Expression): Option[Seq[Literal]] = c match {
      case EqualTo(a: AttributeReference, l: Literal)
        if a.exprId == srcAttr.exprId && l.value != null => Some(Seq(l))
      case EqualTo(l: Literal, a: AttributeReference)
        if a.exprId == srcAttr.exprId && l.value != null => Some(Seq(l))
      case EqualNullSafe(a: AttributeReference, l: Literal)
        if a.exprId == srcAttr.exprId => Some(Seq(l))
      case EqualNullSafe(l: Literal, a: AttributeReference)
        if a.exprId == srcAttr.exprId => Some(Seq(l))
      case In(a: AttributeReference, ls)
        if a.exprId == srcAttr.exprId && ls.nonEmpty &&
          ls.forall(_.isInstanceOf[Literal]) =>
        Some(ls.map(_.asInstanceOf[Literal]).filter(_.value != null))
      // OptimizeIn rewrites long IN lists to InSet (internal values)
      case InSet(a: AttributeReference, hset)
        if a.exprId == srcAttr.exprId && hset.nonEmpty =>
        Some(hset.toSeq.filter(_ != null)
          .map(v => Literal(v, srcAttr.dataType)))
      case _ => None
    }
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // constant-fold expr(v) for each bound literal: substitute, analyze
    // over OneRowRelation (resolves function names), eval — pure driver
    // work, no job, no file touched
    def evalAt(l: Literal): Any = {
      val substituted = parsed.transformUp {
        case _: UnresolvedAttribute => Cast(l, srcAttr.dataType, tz)
      }
      val p = Project(Seq(Alias(substituted, "__gp")()), OneRowRelation())
      val e = spark.sessionState.analyzer.execute(p)
        .asInstanceOf[Project].projectList.head
      Cast(e, partAttr.dataType, tz).eval(InternalRow.empty)
    }
    // 1. equality/IN shapes — sound for ANY deterministic expression
    val eqDerived = conjuncts.flatMap(litsOf).headOption
      .filter(_.nonEmpty).map { lits =>
        val values = lits.map(evalAt).distinct
        val (nulls, nonNull) = values.partition(_ == null)
        val preds =
          (if (nonNull.nonEmpty)
            Seq(In(partAttr, nonNull.map(Literal(_, partAttr.dataType)))) else Nil) ++
          (if (nulls.nonEmpty) Seq(IsNull(partAttr)) else Nil)
        preds.reduce(Or)
      }
    if (eqDerived.isDefined) return eqDerived

    // 2. range shapes — need the expression NON-DECREASING. Each bound
    // conjunct folds independently; a bound folding to NULL abstains
    // (a null comparison would prune everything). Strict bounds relax
    // to inclusive: expr need not be injective, only monotone.
    val mono = monoOutType(parsed, srcAttr.dataType).getOrElse(return None)
    def boundOf(c: Expression): Option[(Boolean, Literal)] = c match {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal)
        if a.exprId == srcAttr.exprId && l.value != null => Some((true, l))
      case GreaterThan(a: AttributeReference, l: Literal)
        if a.exprId == srcAttr.exprId && l.value != null => Some((true, l))
      case LessThanOrEqual(a: AttributeReference, l: Literal)
        if a.exprId == srcAttr.exprId && l.value != null => Some((false, l))
      case LessThan(a: AttributeReference, l: Literal)
        if a.exprId == srcAttr.exprId && l.value != null => Some((false, l))
      // literal-first forms flip the direction: l >= src  ⇔  src <= l
      case GreaterThanOrEqual(l: Literal, a: AttributeReference)
        if a.exprId == srcAttr.exprId && l.value != null => Some((false, l))
      case GreaterThan(l: Literal, a: AttributeReference)
        if a.exprId == srcAttr.exprId && l.value != null => Some((false, l))
      case LessThanOrEqual(l: Literal, a: AttributeReference)
        if a.exprId == srcAttr.exprId && l.value != null => Some((true, l))
      case LessThan(l: Literal, a: AttributeReference)
        if a.exprId == srcAttr.exprId && l.value != null => Some((true, l))
      case _ => None
    }
    val rangePreds = conjuncts.flatMap(boundOf).flatMap { case (lower, l) =>
      Option(evalAt(l)).flatMap { v =>
        if (!mono.dateString)
          Some(if (lower) GreaterThanOrEqual(partAttr, Literal(v, partAttr.dataType))
               else LessThanOrEqual(partAttr, Literal(v, partAttr.dataType)))
        else if (partAttr.dataType != StringType)
          // the lexical-order compensation below assumes a STRING
          // partition column: v is already cast to partAttr.dataType
          // (an Int for DateType, whose digits would pass the 4-digit
          // check) and StartsWith over a non-string attr is malformed —
          // a declared non-string partition type over a date→string
          // render abstains rather than building a predicate that
          // fails at eval
          None
        else {
          // ISO date renders are lexically ordered ONLY for years
          // 0001-9999: year >= 10000 renders '+10000-...' ('+' sorts
          // below every digit — lexically smallest, chronologically
          // largest) and BCE years reverse among themselves. Bounds
          // outside the 4-digit window abstain; a LOWER bound keeps
          // the '+'-prefixed partitions it would otherwise wrongly
          // prune (upper bounds only over-keep them — already sound).
          val str = String.valueOf(v)
          if (v == null || !str.take(4).forall(_.isDigit)) None
          else if (lower)
            Some(Or(GreaterThanOrEqual(partAttr, Literal(v, partAttr.dataType)),
              org.apache.spark.sql.catalyst.expressions.StartsWith(partAttr,
                Literal(org.apache.spark.unsafe.types.UTF8String.fromString("+"),
                  partAttr.dataType))))
          else Some(LessThanOrEqual(partAttr, Literal(v, partAttr.dataType)))
        }
      }
    }
    rangePreds.reduceOption(And)
  }

  /** Output of a proven-monotone expression: its type, plus whether the
    * chain passed through a date→string render (whose lexical order
    * only matches chronology for years 0001-9999 — the range path
    * compensates). */
  private case class Mono(outType: DataType, dateString: Boolean)

  /** `Some(outType)` when `e` (the PARSED, unresolved stored
    * expression) is a proven NON-DECREASING function of the single
    * source column under the natural Spark ordering of its output —
    * the property that lets a source bound transfer to a partition
    * bound. The whitelist mirrors Delta's OptimizeGeneratedColumn:
    * each case preserves order, compositionally. LTZ timestamps never
    * reach here (the session-tz abstain above). */
  private def monoOutType(e: Expression, srcType: DataType): Option[Mono] =
    e match {
      case _: UnresolvedAttribute => Some(Mono(srcType, dateString = false))
      case c: Cast => monoOutType(c.child, srcType).flatMap { in =>
        (in.outType, c.dataType) match {
          case (a, b) if a == b => Some(in)
          case (DateType | TimestampNTZType, StringType) =>
            // ISO render ('yyyy-MM-dd[ HH:mm:ss]'): lexical ==
            // chronological for years 0001-9999 (the range path
            // compensates outside that window)
            Some(Mono(StringType, dateString = true))
          case (DateType, TimestampNTZType) => Some(Mono(TimestampNTZType, in.dateString))
          case (TimestampNTZType, DateType) => // chronological floor
            Some(Mono(DateType, in.dateString))
          // widening integral casts only (narrowing truncates, not monotone)
          case (ByteType, ShortType | IntegerType | LongType) => Some(Mono(c.dataType, in.dateString))
          case (ShortType, IntegerType | LongType) => Some(Mono(c.dataType, in.dateString))
          case (IntegerType, LongType) => Some(Mono(LongType, in.dateString))
          case _ => None
        }
      }
      case f: UnresolvedFunction =>
        val name = f.nameParts.last.toLowerCase
        val as = f.arguments
        def strLit(x: Expression): Boolean =
          x.isInstanceOf[Literal] && x.dataType == StringType
        def intLit(x: Expression, ok: Long => Boolean): Boolean = x match {
          case Literal(v: Int, _) => ok(v.toLong)
          case Literal(v: Long, _) => ok(v)
          case _ => false
        }
        name match {
          // year only: month/day/quarter wrap within a year — not monotone
          case "year" if as.size == 1 =>
            monoOutType(as.head, srcType)
              .collect { case Mono(DateType, _) => Mono(IntegerType, false) }
          case "to_date" if as.size == 1 =>
            // single-arg only: to_date over a DATE/NTZ value truncates
            // chronologically; string parsing (2-arg) is format-dependent
            monoOutType(as.head, srcType)
              .collect { case Mono(DateType | TimestampNTZType, d) => Mono(DateType, d) }
          case "date_trunc" if as.size == 2 && strLit(as.head) =>
            monoOutType(as(1), srcType)
              .collect { case Mono(TimestampNTZType, d) => Mono(TimestampNTZType, d) }
          case "trunc" if as.size == 2 && strLit(as(1)) =>
            monoOutType(as.head, srcType)
              .collect { case Mono(DateType, d) => Mono(DateType, d) }
          case "substring" | "substr"
            if as.size == 3 && intLit(as(1), v => v == 0L || v == 1L) &&
              intLit(as(2), _ >= 1L) =>
            // a common PREFIX of lexically ordered strings preserves <=
            monoOutType(as.head, srcType)
              .collect { case Mono(StringType, d) => Mono(StringType, d) }
          case _ => None
        }
      case _ => None
    }
}
