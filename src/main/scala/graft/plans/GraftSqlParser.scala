package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType,
  LongType, StringType, StructType}

import graft.operators.MatView
import graft.sources.TxLog

/** A parsed `CREATE MATERIALIZED VIEW` definition: the canonical
  * single-table aggregate, or the star-schema fact ⋈ dim flavor
  * ([[MatView.refresh]] / [[MatView.refreshJoin]]). */
sealed trait MvShape {
  /** r16 read-shape decorations: `avg` = the select list carried
    * `AVG(v) AS vavg` (served as total/cnt at read time, no state
    * slot); `having` = the post-GROUP-BY filter over the SERVED
    * columns, applied by [[MatView.readNamed]] while the maintained
    * state keeps every group. */
  def avg: Boolean
  def having: Option[String]
}
case class MvSingle(src: String, keys: Seq[String], valCol: String,
                    avg: Boolean = false, having: Option[String] = None,
                    keyExprs: Seq[(String, String)] = Seq.empty)
  extends MvShape
case class MvDistinct(src: String, keys: Seq[String], valCol: String)
  extends MvShape { def avg = false; def having: Option[String] = None }
case class MvJoin(fact: String, dim: String, joinKeys: Seq[String],
                  keys: Seq[String], valCol: String,
                  factFilter: Option[String],
                  avg: Boolean = false, having: Option[String] = None,
                  joinType: String = "inner")
  extends MvShape

/** SQL surface for the TxLog maintenance + materialized-view operators —
  * a DELEGATING parser (the public Delta `DeltaSqlParser` wiring,
  * injected via `SparkSessionExtensions.injectParser`) that intercepts
  * the statements Spark's grammar lacks and hands everything else to the
  * session's own parser untouched:
  *
  *  - `OPTIMIZE graft.`/t``              → [[TxLog.optimizeBinPack]]
  *  - `OPTIMIZE graft.`/t`` ZORDER BY (a, b)` → [[TxLog.optimizeZOrder]]
  *    (output file count sized from live bytes / the session's target)
  *  - `OPTIMIZE graft.`/t`` HILBERT BY (a, b)` → [[TxLog.optimizeHilbert]]
  *  - `VACUUM graft.`/t`` [RETAIN n VERSIONS] [DRY RUN]` →
  *    [[TxLog.vacuum]] (no RETAIN clause = retain ALL versions,
  *    orphan-only reclaim; DRY RUN reports and deletes nothing)
  *  - `DESCRIBE HISTORY graft.`/t``      → [[TxLog.history]] rows
  *  - `DESCRIBE DETAIL graft.`/t``       → one-row operational summary
  *  - `ALTER TABLE graft.`/t`` ADD CONSTRAINT c CHECK (expr)` /
  *    `DROP CONSTRAINT c` / `SHOW CONSTRAINTS graft.`/t``
  *    → [[TxLog.addCheckConstraint]] / [[TxLog.dropCheckConstraint]]
  *  - `ALTER TABLE graft.`/t`` ADD COLUMN x TYPE GENERATED ALWAYS AS
  *    (expr)` → [[TxLog.addGeneratedColumn]]
  *  - `ALTER TABLE graft.`/t`` ADD COLUMN x BIGINT GENERATED ALWAYS AS
  *    IDENTITY [(START WITH n INCREMENT BY n)]` →
  *    [[TxLog.addIdentityColumn]]
  *  - `RESTORE TABLE graft.`/t`` TO VERSION|TIMESTAMP AS OF …` →
  *    [[TxLog.restore]] (metadata-only rollback)
  *  - `CREATE TABLE graft.`/dst`` SHALLOW CLONE graft.`/src``
  *    [VERSION AS OF v]` → [[TxLog.shallowClone]] (zero-copy fork)
  *  - `CREATE MATERIALIZED VIEW graft.`/mv`` AS SELECT k…, COUNT(*) AS
  *    cnt, SUM(v) AS total, MIN(v) AS vmin, MAX(v) AS vmax [, AVG(v)
  *    AS vavg] FROM graft.`/src` GROUP BY k… [HAVING pred]` →
  *    [[MatView.refresh]] (build), with the definition persisted in
  *    the view's commit metadata. r16: keys may be ALIASED EXPRESSIONS
  *    (`n_chars div 100 AS bucket … GROUP BY bucket` — re-derived on
  *    every refresh frame); AVG/HAVING are read-shape decorations
  *    served by [[MatView.readNamed]] while the state keeps every
  *    group
  *  - `CREATE MATERIALIZED VIEW … AS SELECT k…, COUNT(*) AS cnt,
  *    APPROX_COUNT_DISTINCT(v) AS ndv FROM graft.`/src` GROUP BY k…` →
  *    [[MatView.refreshDistinct]] (mergeable HLL sketch per group —
  *    appends fold, deletes recompute honestly)
  *  - `REFRESH MATERIALIZED VIEW graft.`/mv`` → [[MatView.refreshNamed]]
  *    (no re-supplied plan — the build commit carries the definition)
  *
  * The MV query is parsed by the REAL parser and pattern-matched as a
  * plan, never regex-scraped, so whitespace/quoting/case all behave;
  * any shape outside the canonical aggregate quadruple fails loudly
  * with a pointer at the library API. Statements naming a non-`graft`
  * table delegate (and fail with Spark's own error), so the extension
  * never shadows another catalog's syntax. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val OptimizeRe =
    ("""(?is)\s*OPTIMIZE\s+(.+?)""" +
      """(?:\s+WHERE\s+([\w`]+)\s*=\s*(?:'([^']*)'|([\w.\-]+)))?""" +
      """(?:\s+(ZORDER|HILBERT)\s+BY\s*\(([^)]+)\))?\s*;?\s*""").r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*(?:DESC|DESCRIBE)\s+HISTORY\s+(.+?)\s*;?\s*""".r
  private val CreateMvRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(.+?)\s+AS\s+(SELECT\b.+?)\s*;?\s*""".r
  private val RefreshMvRe =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(.+?)\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d{1,18})\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val DescDetailRe =
    """(?is)\s*(?:DESC|DESCRIBE)\s+DETAIL\s+(.+?)\s*;?\s*""".r
  private val AddCheckRe =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+ADD\s+CONSTRAINT\s+([A-Za-z][A-Za-z0-9_-]*)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropCheckRe =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+CONSTRAINT\s+([A-Za-z][A-Za-z0-9_-]*)\s*;?\s*""".r
  private val ShowChecksRe =
    """(?is)\s*SHOW\s+CONSTRAINTS\s+(.+?)\s*;?\s*""".r
  private val AddGenColRe =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+ADD\s+COLUMN\s+([A-Za-z][A-Za-z0-9_-]*)\s+([A-Za-z][A-Za-z0-9_,()\s]*?)\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*;?\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+(.+?)\s+SHALLOW\s+CLONE\s+(.+?)(?:\s+VERSION\s+AS\s+OF\s+(\d{1,18})|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*""".r
  private val ReplaceWhereRe =
    """(?is)\s*INSERT\s+INTO\s+(.+?)\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\b.+?)\s*;?\s*""".r
  private val AddIdentityRe =
    """(?is)\s*ALTER\s+TABLE\s+(.+?)\s+ADD\s+COLUMN\s+([A-Za-z][A-Za-z0-9_-]*)\s+BIGINT\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY\s*(?:\(\s*START\s+WITH\s+(-?\d+)\s+INCREMENT\s+BY\s+(-?\d+)\s*\))?\s*;?\s*""".r

  /** The TxLog path under a `graft.`-catalog identifier, if the text
    * parses as one (same namespace-join rule as TxLogCatalog.path). */
  private def graftPath(ident: String): Option[String] = {
    val parts =
      try delegate.parseMultipartIdentifier(ident)
      catch { case _: Exception => return None }
    if (parts.length >= 2 && parts.head.equalsIgnoreCase("graft"))
      Some(parts.tail.mkString("/"))
    else None
  }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case AddCheckRe(ident, name, check) if graftPath(ident).isDefined =>
      TxLogAddCheckCommand(graftPath(ident).get,
        name.toLowerCase(java.util.Locale.ROOT), check.trim)
    case DropCheckRe(ident, name) if graftPath(ident).isDefined =>
      TxLogDropCheckCommand(graftPath(ident).get,
        name.toLowerCase(java.util.Locale.ROOT))
    case ShowChecksRe(ident) if graftPath(ident).isDefined =>
      TxLogShowChecksCommand(graftPath(ident).get)
    case AddIdentityRe(ident, name, start, step) if graftPath(ident).isDefined =>
      TxLogAddIdentityCommand(graftPath(ident).get,
        name.toLowerCase(java.util.Locale.ROOT),
        Option(start).map(_.toLong).getOrElse(1L),
        Option(step).map(_.toLong).getOrElse(1L))
    case AddGenColRe(ident, name, typeDdl, genExpr)
        if graftPath(ident).isDefined =>
      TxLogAddGenColCommand(graftPath(ident).get,
        name.toLowerCase(java.util.Locale.ROOT),
        delegate.parseDataType(typeDdl.trim), genExpr.trim)
    case HistoryRe(ident) if graftPath(ident).isDefined =>
      TxLogHistoryCommand(graftPath(ident).get)
    case DescDetailRe(ident) if graftPath(ident).isDefined =>
      TxLogDetailCommand(graftPath(ident).get)
    case ReplaceWhereRe(ident, pred, select) if graftPath(ident).isDefined =>
      TxLogReplaceWhereCommand(graftPath(ident).get, pred.trim, select.trim)
    case CloneRe(dstIdent, srcIdent, v, ts) if graftPath(dstIdent).isDefined =>
      val src = graftPath(srcIdent).getOrElse(throw
        new UnsupportedOperationException(
          s"txlog: SHALLOW CLONE sources only graft.-catalog tables, got " +
            s"$srcIdent — a foreign table has no TxLog snapshot to fork"))
      TxLogCloneCommand(src, graftPath(dstIdent).get,
        Option(v).map(_.toLong), Option(ts))
    case RestoreRe(ident, v) if graftPath(ident).isDefined =>
      TxLogRestoreCommand(graftPath(ident).get, Some(v.toLong), None)
    case RestoreTsRe(ident, ts) if graftPath(ident).isDefined =>
      TxLogRestoreCommand(graftPath(ident).get, None, Some(ts))
    case RefreshMvRe(ident) if graftPath(ident).isDefined =>
      MatViewRefreshCommand(graftPath(ident).get)
    case CreateMvRe(ident, query) if graftPath(ident).isDefined =>
      MatViewCreateCommand(graftPath(ident).get, parseMvQuery(query))
    case OptimizeRe(ident, wcol, wstr, wbare, curve, zcols)
        if graftPath(ident).isDefined =>
      val where = Option(wcol).map { c =>
        (c.replace("`", ""), Option(wstr).getOrElse(wbare))
      }
      require(where.isEmpty || zcols == null,
        "txlog: OPTIMIZE ... WHERE is partition-scoped bin-packing only " +
          "— a clustering curve reorders the WHOLE live set (run " +
          "OPTIMIZE ... ZORDER/HILBERT BY without the WHERE)")
      val z = Option(zcols).map { s =>
        val cols = s.split(",").map { c =>
          delegate.parseMultipartIdentifier(c.trim) match {
            case Seq(one) => one
            case other => throw new UnsupportedOperationException(
              s"txlog: ${curve.toUpperCase} BY takes bare column names, got " +
                other.mkString("."))
          }
        }.toSeq
        require(cols.length == 2,
          s"txlog: OPTIMIZE ... ${curve.toUpperCase} BY takes exactly two " +
            s"columns (got ${cols.length}) — the curve is two-axis")
        (cols(0), cols(1))
      }
      TxLogOptimizeCommand(graftPath(ident).get, z,
        hilbert = Option(curve).exists(_.equalsIgnoreCase("HILBERT")),
        where = where)
    case VacuumRe(ident, retain, dry) if graftPath(ident).isDefined =>
      // bare VACUUM is CONSERVATIVE (r14 advice): retain EVERY version —
      // only orphan files no version references are reclaimed, so time
      // travel never silently dies behind a habit-typed `VACUUM t`.
      // Trimming history requires the explicit RETAIN n VERSIONS.
      // DRY RUN reports the reclaim set, deletes nothing.
      TxLogVacuumCommand(graftPath(ident).get,
        Option(retain).map(_.toInt).getOrElse(Int.MaxValue),
        dryRun = dry != null)
    case _ => delegate.parsePlan(sqlText)
  }

  private def mvUnsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      "txlog: CREATE MATERIALIZED VIEW supports exactly `SELECT k…, " +
        "COUNT(*) AS cnt, SUM(v) AS total, MIN(v) AS vmin, MAX(v) AS " +
        "vmax [, AVG(v) AS vavg] FROM graft.`/src` [JOIN graft.`/dim` " +
        "ON k = k | USING (k)] [WHERE fact-filter] GROUP BY k… [HAVING " +
        "served-cols-predicate]` or `SELECT k…, COUNT(*) AS cnt, " +
        "APPROX_COUNT_DISTINCT(v) AS ndv FROM graft.`/src` GROUP " +
        "BY k…` — the incrementally maintainable aggregate shapes " +
        s"(got: $what); other shapes go through the MatView library " +
        "API (refresh/refreshJoin/refreshDistinct)")

  private def unalias(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => unalias(child)
    case other => other
  }

  private def relPath(p: LogicalPlan): String = unalias(p) match {
    case r: UnresolvedRelation
        if r.multipartIdentifier.length >= 2 &&
          r.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      r.multipartIdentifier.tail.mkString("/")
    case other => mvUnsupported(
      s"source must be a graft.` ` table, not ${other.getClass.getSimpleName}")
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Unresolved expression → SQL text binding by bare column name
    * (alias qualifiers stripped — the fact filter re-binds against the
    * fact scan inside refreshJoin). */
  private def bareSql(e: Expression): String =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }.sql

  /** Pattern-match the parsed (unresolved) MV query down to a
    * maintainable shape (single-table or fact ⋈ dim), with the r16
    * read-shape decorations: an optional `AVG(v) AS vavg` select item
    * and an optional HAVING clause (both serve-time — see [[MvShape]]). */
  private def parseMvQuery(query: String): MvShape = {
    delegate.parsePlan(query) match {
      case org.apache.spark.sql.catalyst.analysis
          .UnresolvedHaving(cond, agg: Aggregate) =>
        parseMvAggregate(agg, Some(cond))
      case agg: Aggregate => parseMvAggregate(agg, None)
      case other =>
        mvUnsupported(s"a ${other.getClass.getSimpleName} query")
    }
  }

  private def parseMvAggregate(aggPlan: Aggregate,
                               havingCond: Option[Expression]): MvShape = {
    (aggPlan, havingCond) match {
      case (Aggregate(groupings, aggs, child, _), havingRaw) =>
        val keys = groupings.map {
          case a: UnresolvedAttribute if a.nameParts.length == 1 =>
            a.nameParts.head
          case other => mvUnsupported(s"grouping ${other.sql}")
        }
        if (aggs.length != keys.length + 5 && aggs.length != keys.length + 4 &&
          aggs.length != keys.length + 2)
          mvUnsupported(s"${aggs.length} select items for ${keys.length} keys")
        // a key select item is either the bare grouping column or (r16)
        // an ALIASED EXPRESSION the grouping names — `SELECT n_chars
        // div 100 AS bucket … GROUP BY bucket`, the rollup-by-derived-
        // value MV idiom; the expression is re-derived on every frame
        // the refresh machinery reads (single-table shape only —
        // resolution failures and aggregate functions are loud at
        // build time, where withColumn rejects them)
        val keyExprB = Seq.newBuilder[(String, String)]
        aggs.take(keys.length).zip(keys).foreach {
          case (a: UnresolvedAttribute, k)
            if a.nameParts.length == 1 && a.nameParts.head == k => ()
          case (Alias(child, name), k) if name == k =>
            keyExprB += (k -> bareSql(child))
          case (other, k) =>
            mvUnsupported(s"select item ${other.sql} must be the key $k " +
              "(bare, or an expression aliased AS the key)")
        }
        val keyExprs = keyExprB.result()
        def fnOf(e: Expression, alias: String): (String, Seq[Expression]) =
          e match {
            case Alias(f: UnresolvedFunction, name) if name == alias =>
              (f.nameParts.map(_.toLowerCase).mkString("."), f.arguments)
            case other =>
              mvUnsupported(s"select item ${other.sql} (expected an " +
                s"aggregate aliased AS $alias)")
          }
        def requireCnt(cntE: Expression): Unit = fnOf(cntE, "cnt") match {
          case ("count", Seq(_: UnresolvedStar)) => ()
          case ("count", Seq(_: Literal)) => ()
          case other => mvUnsupported(s"cnt must be COUNT(*), got $other")
        }
        def argCol(e: Expression, alias: String, fn: String): String =
          fnOf(e, alias) match {
            case (`fn`, Seq(a: UnresolvedAttribute))
              if a.nameParts.length == 1 => a.nameParts.head
            case other =>
              mvUnsupported(s"$alias must be ${fn.toUpperCase}(col), got $other")
          }
        // the APPROX-DISTINCT flavor (r15): `k…, COUNT(*) AS cnt,
        // APPROX_COUNT_DISTINCT(v) AS ndv` over ONE table — maintained
        // by [[MatView.refreshDistinct]] as a mergeable HLL sketch per
        // group (appends fold, deletes recompute honestly); joins and
        // WHERE are not maintainable for this shape and stay loud
        if (aggs.length == keys.length + 2) {
          if (havingRaw.nonEmpty) mvUnsupported(
            "HAVING under the APPROX_COUNT_DISTINCT shape (the sketch " +
              "view serves through readDistinct, which has no decorated " +
              "read path)")
          if (keyExprs.nonEmpty) mvUnsupported(
            "a computed grouping key under the APPROX_COUNT_DISTINCT " +
              "shape (single-table bare keys only)")
          val Seq(cntE, ndvE) = aggs.drop(keys.length)
          requireCnt(cntE)
          val ndvCol = argCol(ndvE, "ndv", "approx_count_distinct")
          return unalias(child) match {
            case _: UnresolvedRelation =>
              MvDistinct(relPath(child), keys, ndvCol)
            case other => mvUnsupported(
              s"a ${other.getClass.getSimpleName} source under the " +
                "APPROX_COUNT_DISTINCT shape (single table only)")
          }
        }
        val Seq(cntE, totalE, vminE, vmaxE) =
          aggs.slice(keys.length, keys.length + 4)
        requireCnt(cntE)
        val valCol = argCol(totalE, "total", "sum")
        val vmin = argCol(vminE, "vmin", "min")
        val vmax = argCol(vmaxE, "vmax", "max")
        if (vmin != valCol || vmax != valCol)
          mvUnsupported(s"SUM/MIN/MAX must aggregate ONE column " +
            s"(got $valCol/$vmin/$vmax)")
        // optional 5th item (r16): AVG(v) AS vavg — no state slot, the
        // serve path emits total/cnt ([[MatView.readNamed]]); it must
        // aggregate the SAME column as the maintained pair
        val avg = aggs.length == keys.length + 5
        if (avg) {
          val vavgCol = argCol(aggs.last, "vavg", "avg")
          if (vavgCol != valCol) mvUnsupported(
            s"AVG must aggregate the maintained column $valCol " +
              s"(got $vavgCol) — vavg is served as total/cnt")
        }
        // HAVING (r16) binds the SERVED columns — keys and the aggregate
        // aliases — never raw aggregate calls (the filter runs over the
        // maintained frame at read time, where only the aliases exist)
        val having: Option[String] = havingRaw.map { c =>
          c.foreach {
            case f: UnresolvedFunction => mvUnsupported(
              s"HAVING contains ${f.nameParts.mkString(".")}(…) — " +
                "reference the aliased outputs instead (cnt, total, " +
                "vmin, vmax" + (if (avg) ", vavg" else "") + ")")
            case _ => ()
          }
          val allowed = (keys ++ Seq("cnt", "total", "vmin", "vmax") ++
            (if (avg) Seq("vavg") else Seq.empty)).map(_.toLowerCase).toSet
          c.collect { case u: UnresolvedAttribute => u.nameParts.last }
            .foreach { n =>
              if (!allowed.contains(n.toLowerCase)) mvUnsupported(
                s"HAVING references '$n' — it binds the served columns " +
                  s"only (${allowed.toSeq.sorted.mkString(", ")})")
            }
          bareSql(c)
        }
        def joinShape(j: Join, factFilter: Option[String]): MvJoin = {
          if (keyExprs.nonEmpty) mvUnsupported(
            "a computed grouping key on the JOIN shape (computed keys " +
              "are single-table v1 — derive the column on the fact " +
              "table via GENERATED ALWAYS instead)")
          // INNER folds additively; LEFT OUTER folds too (it is
          // FACT-preserving: each fact row contributes exactly once,
          // matched or as the null-dim row). RIGHT/FULL are
          // DIM-preserving — a fact append can RETIRE a dim's null row,
          // a subtractive move no additive fold expresses — loud.
          def onKeys: Seq[String] = {
            val cond = j.condition.getOrElse(
              mvUnsupported("JOIN without ON key equalities"))
            conjuncts(cond).map {
              case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
                  if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
                a.nameParts.last
              case other => mvUnsupported(
                s"JOIN ON must be same-name column equalities " +
                  s"(got ${other.sql}); alias the dim to the fact's names")
            }
          }
          val (joinType, joinKeys) = j.joinType match {
            case UsingJoin(Inner, cols) => ("inner", cols)
            case UsingJoin(LeftOuter, cols) => ("left", cols)
            case Inner => ("inner", onKeys)
            case LeftOuter => ("left", onKeys)
            case other => mvUnsupported(s"$other join (INNER or LEFT " +
              "OUTER only — a dim-preserving outer join cannot fold " +
              "incrementally)")
          }
          // FIRST relation = fact (the incrementally-folding side),
          // second = dim (any change forces the honest recompute)
          MvJoin(relPath(j.left), relPath(j.right), joinKeys, keys,
            valCol, factFilter, avg, having, joinType)
        }
        unalias(child) match {
          case j: Join => joinShape(j, None)
          case Filter(cond, inner) => unalias(inner) match {
            case j: Join => joinShape(j, Some(bareSql(cond)))
            case r: UnresolvedRelation =>
              mvUnsupported("WHERE on a single-table MV (fold the " +
                "filter into the view's source table, or use the join " +
                "shape whose WHERE is the fact filter)")
            case other =>
              mvUnsupported(s"a ${other.getClass.getSimpleName} under WHERE")
          }
          case _: UnresolvedRelation =>
            MvSingle(relPath(child), keys, valCol, avg, having, keyExprs)
          case other =>
            mvUnsupported(s"a ${other.getClass.getSimpleName} source")
        }
    }
  }

  override def parseExpression(s: String): Expression =
    delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(s)
  override def parseRoutineParam(s: String): StructType =
    delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String): StructType =
    delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType = delegate.parseDataType(s)
}

/** `OPTIMIZE graft.`/t`` [ZORDER BY (a, b) | HILBERT BY (a, b)]` —
  * incremental bin-pack of the small-file tail, or a stats-recording
  * two-axis curve rewrite (Morton or Hilbert) whose output file count
  * is sized from the live bytes over the session's
  * `spark.graft.optimize.targetBytes` (default 128 MiB). Returns the
  * committed version (unchanged when nothing needed packing). */
case class TxLogOptimizeCommand(table: String,
                                zorder: Option[(String, String)],
                                hilbert: Boolean = false,
                                where: Option[(String, String)] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val target = spark.conf
      .get("spark.graft.optimize.targetBytes", (128L << 20).toString).toLong
    val v = (zorder, where) match {
      case (None, Some((c, value))) =>
        TxLog.compactPartition(spark, table, c, value, target)
      case _ => runUnscoped(spark, target)
    }
    Seq(Row(v))
  }
  private def runUnscoped(spark: SparkSession, target: Long): Long = {
    val v = zorder match {
      case None => TxLog.optimizeBinPack(spark, table, target)
      case Some((a, b)) =>
        val snap = TxLog.snapshot(spark, table)
        val bytes = TxLog.fileSizes(spark, table, snap, snap.files).sum
        val files = math.max(1L, (bytes + target - 1) / target).toInt
        if (hilbert) TxLog.optimizeHilbert(spark, table, files, a, b)
        else TxLog.optimizeZOrder(spark, table, files, a, b)
    }
    v
  }
}

/** `VACUUM graft.`/t`` [RETAIN n VERSIONS]` — delete data files only
  * referenced by versions older than the retained tail AND older than
  * `spark.graft.vacuum.minFileAgeMs` (default 1 day — the in-flight
  * writer horizon; 0 = exact, single-writer only). Without a RETAIN
  * clause every version is retained (orphan-only reclaim — time travel
  * survives a bare VACUUM by default). Returns the count. */
case class TxLogVacuumCommand(table: String, retainLast: Int,
                              dryRun: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val age = spark.conf
      .get("spark.graft.vacuum.minFileAgeMs", "86400000").toLong
    Seq(Row(TxLog.vacuum(spark, table, retainLast, age, dryRun).size.toLong))
  }
}

/** `DESCRIBE HISTORY graft.`/t`` — the commit log as rows (version,
  * kind, action counts, txn markers, monotonized timestamps). */
case class TxLogHistoryCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("n_adds", IntegerType, nullable = false)(),
    AttributeReference("n_removes", IntegerType, nullable = false)(),
    AttributeReference("n_dvs", IntegerType, nullable = false)(),
    AttributeReference("declares_schema", BooleanType, nullable = false)(),
    AttributeReference("txn_markers", StringType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    TxLog.history(spark, table).collect().toSeq
}

/** `RESTORE TABLE graft.`/t`` TO VERSION AS OF v | TO TIMESTAMP AS OF
  * 'ts'` — the metadata-only rollback ([[TxLog.restore]]): re-adds the
  * target snapshot's still-existing files, removes the head's extras,
  * re-binds deletion vectors, zero data bytes move; history stays
  * travelable behind it. Timestamps resolve through the same
  * monotonized commit-time mapping as `TIMESTAMP AS OF` reads (ISO
  * instant, or `yyyy-MM-dd HH:mm:ss` read as UTC — the engine's
  * session zone). Returns the restore commit's version. */
case class TxLogRestoreCommand(table: String, toVersion: Option[Long],
                               toTimestamp: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val target = toVersion.getOrElse {
      val ts = toTimestamp.get
      val ms =
        try java.time.Instant.parse(ts).toEpochMilli
        catch {
          case _: Exception =>
            try java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            catch {
              case _: Exception => throw new IllegalArgumentException(
                s"txlog: cannot parse RESTORE timestamp '$ts' " +
                  "(ISO instant, or 'yyyy-MM-dd HH:mm:ss' in UTC)")
            }
        }
      TxLog.versionAtTime(spark, table, ms)
    }
    Seq(Row(TxLog.restore(spark, table, target)))
  }
}

/** `CREATE TABLE graft.`/dst`` SHALLOW CLONE graft.`/src`` [VERSION AS
  * OF v | TIMESTAMP AS OF 'ts']` — the zero-copy metadata-only fork
  * ([[TxLog.shallowClone]]): one commit that re-adds the source
  * snapshot's files by absolute path, with deletion vectors, per-file
  * stats, schema, constraints, and identity high-water marks all
  * carried. Timestamps resolve through the same monotonized
  * commit-time mapping as RESTORE. Returns the clone's commit version
  * (always 0). */
case class TxLogCloneCommand(src: String, dst: String,
                             asOf: Option[Long],
                             asOfTs: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val pinned = asOf.orElse(asOfTs.map { ts =>
      val ms =
        try java.time.Instant.parse(ts).toEpochMilli
        catch {
          case _: Exception =>
            try java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            catch {
              case _: Exception => throw new IllegalArgumentException(
                s"txlog: cannot parse CLONE timestamp '$ts' " +
                  "(ISO instant, or 'yyyy-MM-dd HH:mm:ss' in UTC)")
            }
        }
      TxLog.versionAtTime(spark, src, ms)
    })
    Seq(Row(TxLog.shallowClone(spark, src, dst, pinned)))
  }
}

/** `INSERT INTO graft.`/t`` REPLACE WHERE pred SELECT …` — the atomic
  * slice backfill ([[TxLog.replaceWhere]]): exactly the rows matching
  * `pred` are replaced by the SELECT's rows, merge-on-read, in one
  * commit; incoming rows outside the slice fail loudly. The predicate
  * must not itself contain a SELECT (the clause boundary is textual;
  * use the library API for subquery predicates). Returns the committed
  * version. */
case class TxLogReplaceWhereCommand(table: String, pred: String,
                                    selectSql: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.replaceWhere(spark, table, spark.sql(selectSql), pred)))
}

/** `DESCRIBE DETAIL graft.`/t`` — the table's one-row operational
  * summary (the public Delta command): location, current version,
  * earliest still-readable version, commit count, live file count and
  * bytes, deletion-vector bindings, declared-schema flag. Driver-side
  * metadata only — no data scan. */
case class TxLogDetailCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("earliest_readable_version", LongType,
      nullable = false)(),
    AttributeReference("n_commits", LongType, nullable = false)(),
    AttributeReference("n_live_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("n_dv_bound", LongType, nullable = false)(),
    AttributeReference("declares_schema", BooleanType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // one listing, one snapshot: every column describes the same version
    val log = TxLog.listLog(spark, table)
    require(log.commits.nonEmpty, s"txlog: no commits in $table")
    val snap = TxLog.replay(spark, table, log, None)
    val bytes = TxLog.fileSizes(spark, table, snap, snap.files).sum
    Seq(Row(table, snap.version, TxLog.earliestReadableVersion(spark, table),
      log.commits.size.toLong, snap.files.size.toLong, bytes,
      snap.liveDvs.size.toLong, snap.schema.isDefined,
      // exact, metadata-only ([[TxLog.countRows]]): the log's recorded
      // per-file counts minus the dv mask — no data scan
      TxLog.countRowsIn(spark, table, snap)._1))
  }
}

/** `ALTER TABLE graft.`/t`` ADD CONSTRAINT name CHECK (expr)` →
  * [[TxLog.addCheckConstraint]] (existing rows validated, then a
  * metadata-only commit; every later append/overwrite/update/merge is
  * gated). Returns the committed version. */
case class TxLogAddCheckCommand(table: String, name: String,
                                check: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.addCheckConstraint(spark, table, name, check)))
}

/** `ALTER TABLE graft.`/t`` DROP CONSTRAINT name` →
  * [[TxLog.dropCheckConstraint]]. */
case class TxLogDropCheckCommand(table: String,
                                 name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.dropCheckConstraint(spark, table, name)))
}

/** `ALTER TABLE graft.`/t`` ADD COLUMN name TYPE GENERATED ALWAYS AS
  * (expr)` → [[TxLog.addGeneratedColumn]] (legal only before data
  * lands; one commit carries schema + expression; every later write
  * computes or validates the stored derivation). */
case class TxLogAddGenColCommand(table: String, name: String,
                                 dataType: DataType,
                                 genExpr: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.addGeneratedColumn(spark, table, name, dataType, genExpr)))
}

/** `ALTER TABLE graft.`/t`` ADD COLUMN name BIGINT GENERATED ALWAYS AS
  * IDENTITY [(START WITH n INCREMENT BY n)]` →
  * [[TxLog.addIdentityColumn]]. */
case class TxLogAddIdentityCommand(table: String, name: String,
                                   startWith: Long,
                                   stepBy: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.addIdentityColumn(spark, table, name, startWith, stepBy)))
}

/** `SHOW CONSTRAINTS graft.`/t`` — the active CHECK constraints,
  * name-ordered. */
case class TxLogShowChecksCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("check_expr", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    TxLog.checkConstraints(spark, table).toSeq.sortBy(_._1)
      .map { case (n, e) => Row(n, e) }
}

/** `CREATE MATERIALIZED VIEW graft.`/mv`` AS SELECT …` — builds the
  * view ([[MatView.refresh]] or [[MatView.refreshJoin]] by shape) and
  * persists the definition in the build commit's metadata. Returns the
  * refresh mode taken. */
case class MatViewCreateCommand(view: String, shape: MvShape)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("mode", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(TxLog.versions(spark, view).isEmpty,
      s"txlog: materialized view $view already exists " +
        "(REFRESH MATERIALIZED VIEW to advance it)")
    val mode = shape match {
      case MvSingle(src, keys, valCol, _, _, keyExprs) =>
        MatView.refresh(spark, src, view, keys, valCol, keyExprs.toMap)
      case MvDistinct(src, keys, valCol) =>
        MatView.refreshDistinct(spark, src, view, keys, valCol)
      case MvJoin(fact, dim, joinKeys, keys, valCol, factFilter, _, _, joinType) =>
        // the parser designated the FIRST relation as the fact and binds
        // WHERE against its scan; a dim-first query whose WHERE names a
        // column present in both tables would otherwise be silently
        // filtered on the wrong side (r14 advice). Resolve the filter's
        // column set against BOTH schemas: every referenced column must
        // live in the fact and — unless it is a join key, where the two
        // sides are equal by the ON — must NOT also live in the dim.
        factFilter.foreach { f =>
          val refs = spark.sessionState.sqlParser.parseExpression(f).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.last.toLowerCase
          }.distinct
          val factCols = TxLog.read(spark, fact).columns.map(_.toLowerCase).toSet
          val dimCols = TxLog.read(spark, dim).columns.map(_.toLowerCase).toSet
          val keySet = joinKeys.map(_.toLowerCase).toSet
          refs.foreach { c =>
            require(factCols.contains(c),
              s"txlog: materialized-view WHERE references '$c', which the " +
                s"designated fact table (the query's FIRST relation, $fact) " +
                "does not carry — write the fact first and filter only its " +
                "columns")
            require(keySet.contains(c) || !dimCols.contains(c),
              s"txlog: materialized-view WHERE references '$c', present in " +
                s"BOTH the fact and the dim — ambiguous binding (the filter " +
                "folds on the fact scan); rename the column or filter a " +
                "fact-only column")
          }
        }
        MatView.refreshJoin(spark, fact, dim, view, joinKeys, keys,
          valCol, factFilter, joinType)
    }
    // read-shape decorations (AVG / HAVING) land AFTER the build, as
    // their own metadata-only commit: they never touch maintenance —
    // the state keeps every group; [[MatView.readNamed]] serves the
    // declared shape (quotient + filter) over it
    MatView.declareReadShape(spark, view, shape.avg, shape.having)
    Seq(Row(mode))
  }
}

/** `REFRESH MATERIALIZED VIEW graft.`/mv`` — incremental refresh from
  * the PERSISTED definition; returns the mode actually taken ("noop" /
  * "incremental" / "incremental-delete" / "recompute"). */
case class MatViewRefreshCommand(view: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("mode", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(MatView.refreshNamed(spark, view)))
}
