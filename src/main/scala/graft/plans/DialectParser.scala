package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

import graft.lineage.SqlPreprocessor

/** Parser extension: `spark.sql(...)` accepts the reference corpus's
  * dialect surface directly. Native-first: every statement goes to
  * Spark's own parser untouched, and only a `ParseException` triggers
  * the [[SqlPreprocessor.rewriteDialect]] pass the lineage pipeline
  * uses — T-SQL `SELECT TOP n`, Teradata `SEL`, Presto
  * `AT TIME ZONE`/type names/`ARRAY[...]`/`UNNEST`, `QUALIFY` all
  * fail native parse, so they (and only they) get rewritten and
  * re-parsed, with stock Catalyst analysis/optimization after.
  * Valid standard SQL — including tables named `qualify`, columns
  * named `activity_count`, string literals containing `max(a,b)` —
  * is NEVER text-rewritten. If the rewrite changes nothing, the
  * ORIGINAL ParseException propagates (no misleading second error).
  * Everything that is NOT a whole SQL statement (expressions,
  * identifiers, schemas) delegates untouched: dialect divergence
  * lives at statement level.
  *
  * Two Teradata-isms parse CLEANLY in Spark and would only fail later
  * at analysis, so the text-rewrite fallback never sees them; they are
  * handled on the parsed TREE instead (which is also more precise than
  * any regex — literals and identifiers are distinct node kinds):
  *  - 2-arg `max(a,b)`/`min(a,b)` → `greatest`/`least`, rewritten here
  *    post-parse (Spark's max/min are strictly 1-arg, so no valid
  *    standard query changes meaning);
  *  - bare `ACTIVITY_COUNT` parses as a column reference — resolved by
  *    [[ActivityCountFallback]], an analyzer rule that substitutes
  *    `CAST(0 AS BIGINT)` ONLY when no child output resolves the name,
  *    so real columns named activity_count always win.
  *
  * Attached via [[graft.GraftExtensions]] (injectParser).
  */
class DialectParser(delegate: ParserInterface) extends ParserInterface {
  import org.apache.spark.sql.catalyst.parser.ParseException

  private def dialectFallback[A](sqlText: String, parse: String => A): A =
    try parse(sqlText)
    catch {
      case e: ParseException =>
        val rewritten = SqlPreprocessor.rewriteDialect(sqlText)
        if (rewritten == sqlText) throw e else parse(rewritten)
    }

  /** Teradata 2-arg max/min → greatest/least, on the parsed tree.
    * Spark's aggregate max/min are 1-arg (2-arg forms fail analysis),
    * so the match — plain 2-argument call, no DISTINCT/FILTER — can
    * only hit the Teradata form. */
  private def rewriteTeradataMaxMin(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    plan.transformAllExpressionsWithSubqueries {
      case f @ UnresolvedFunction(Seq(n), args, false, None, false, Nil, _)
          if args.length == 2 &&
            (n.equalsIgnoreCase("max") || n.equalsIgnoreCase("min")) =>
        f.copy(nameParts =
          Seq(if (n.equalsIgnoreCase("max")) "greatest" else "least"))
    }
  }

  /** `FROM <name> VERSION AS OF n` / `TIMESTAMP AS OF ts` over a
    * [[graft.sources.ManifestTables]]-registered name → the manifest
    * source relation pinned to that snapshot (q393's `version` option,
    * reachable from `spark.sql`). Spark's own parser already produces
    * the `RelationTimeTravel` node; this only ROUTES it — unregistered
    * names pass through untouched for the native catalogs, so no
    * standard query changes meaning. A timestamp must be foldable
    * (evaluated here, session-UTC) and maps to the highest snapshot
    * published at or before it. */
  private def resolveManifestTimeTravel(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
    plan.transform {
      case tt @ RelationTimeTravel(ur: UnresolvedRelation, ts, ver) =>
        graft.sources.ManifestTables.lookup(ur.multipartIdentifier) match {
          case None => tt
          case Some((path, ddl)) =>
            val spark = org.apache.spark.sql.SparkSession.active
            val version: Long = ver.map(_.toLong).getOrElse {
              val e = ts.get
              val micros = org.apache.spark.sql.catalyst.expressions.Cast(
                e, org.apache.spark.sql.types.TimestampType,
                Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
              require(micros != null, s"TIMESTAMP AS OF $e is not a timestamp")
              graft.sources.ManifestTables.versionAtTimestamp(
                graft.sources.ManifestRead.fsFor(path), path,
                micros.asInstanceOf[Long])
            }
            require(version > 0,
              s"no snapshot of ${ur.multipartIdentifier.mkString(".")} at the requested point")
            spark.read.format("graft.sources.ManifestSource")
              .schema(ddl).option("path", path)
              .option("version", version).load()
              .queryExecution.analyzed
        }
    }
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    resolveManifestTimeTravel(
      rewriteTeradataMaxMin(dialectFallback(sqlText, delegate.parsePlan)))

  override def parseQuery(sqlText: String): LogicalPlan =
    resolveManifestTimeTravel(
      rewriteTeradataMaxMin(dialectFallback(sqlText, delegate.parseQuery)))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)

  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)

  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)

  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)

  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)

  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)

  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object DialectParser {
  /** Run one statement through the dialect parser against `spark` —
    * the runtime door for driver-owned sessions (user-built sessions
    * get the same parser automatically via
    * `spark.sql.extensions=graft.GraftExtensions`). */
  def sql(spark: org.apache.spark.sql.SparkSession,
      sqlText: String): org.apache.spark.sql.DataFrame = {
    val p = new DialectParser(spark.sessionState.sqlParser)
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, p.parsePlan(sqlText))
  }
}
