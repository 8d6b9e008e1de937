package graft.lineage

import java.util.Locale
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{CTESubstitution, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedPartitionSpec, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Concat, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.execution.command.CreateTableLikeCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.collection.mutable

/** Script-level lineage extraction — the Spark-first equivalent of the
  * reference's per-file pipeline (BatchProcessor.ParsingTask.run,
  * BatchProcessor.java:232-286): preprocess → per statement parse →
  * analyze → extract. Extraction is a function of the script and a
  * read-only base: each run keeps its USE database and its created,
  * dropped and temporary tables in a [[Scope]], resolves tables from
  * it, and never writes the session catalog or runs a statement.
  *
  * Permissive mode (SURVEY §7.4.1): the reference extracts lineage even
  * from scripts it can't fully validate ("90% coverage" philosophy,
  * README.md:81). We mirror that:
  *  - INSERT targets are NOT schema-validated: the insert's query is
  *    unwrapped pre-analysis, so ANSI store-assignment strictness and
  *    missing targets don't kill extraction;
  *  - unknown functions (the reference accepts any `ident(args)`,
  *    Bingql.g4:1436-1442) are shimmed on the fly with a pass-through
  *    that preserves argument references, then analysis is retried;
  *  - Hive-only DDL (STORED AS / typed PARTITIONED BY / s3 LOCATION) is
  *    kept schema-only, from the parsed column definitions;
  *  - a statement reading a table no source resolves is skipped, and
  *    the rest of the script is still extracted.
  */
object LineageRunner {

  final case class Result(
      edges: Seq[(String, ColumnEdge)], // (targetTable or "", edge)
      inserts: Seq[TableInsert],
      datasets: Seq[DatasetNode],
      items: Seq[(String, SelectItemNode)] = Seq.empty, // (targetTable or "", item)
      addPartitions: Seq[AddPartitionEvent] = Seq.empty,
      drops: Seq[TableDrop] = Seq.empty,
      /** Names of top-level SELECT datasets, in statement order — the
        * consumption end-nodes a dashboard source links to
        * (reference dashboard_dataset, LineageDbService.java:200-213). */
      topSelects: Seq[String] = Seq.empty,
      /** Statements skipped as non-lineage residue — unparseable
        * (GRANT, transactions, HPL-SQL procedural leftovers) or
        * parse-only DML (MERGE/UPDATE/DELETE) — and statements reading
        * a table no source resolves. The reference's grammar swallows
        * the former with no visitor (90%-coverage stance); we record
        * them instead of aborting the script. */
      skippedStatements: Seq[String] = Seq.empty)

  /** Registered physical columns of a created table become TABLE-dataset
    * select_item rows (reference visitCreate_table_columns,
    * SqlMetaDataExtractor.java:754-792) — the rows the local metastore
    * fallback later reconstructs schemas from. */
  private def tableItems(
      db: String, tbl: String, cols: Seq[(String, String)]): Seq[(String, SelectItemNode)] =
    cols.map { case (name, dt) =>
      s"$db.$tbl" -> SelectItemNode(name, name, "", "SELECT",
        isSimpleColumn = true, dataType = dt, functionType = "",
        mapToSchema = db, mapToTable = tbl, mapToColumn = name,
        datasetType = "TABLE")
    }

  /** Tables earlier scripts created, by lower-cased `db.tbl`: what a
    * CREATE, CTAS or LIKE publishes and a DROP removes, so a later script
    * on any session reads it (the reference's shared metastore view). */
  private val registry = new ConcurrentHashMap[String, StructType]()

  private val SessionCatalog = "spark_catalog"

  private def key(db: String, tbl: String): String = s"$db.$tbl".toLowerCase(Locale.ROOT)

  /** A statement read a table no source resolves. */
  private final class UnknownTable(name: String)
    extends RuntimeException(s"no source resolves table $name")

  /** A table the script dropped and no [[MetaStore]] knows: unresolved,
    * as a missing table is, and out of the analyzer's reach. */
  private final case class DroppedRelation(name: Seq[String]) extends LeafNode {
    override def output: Seq[Attribute] = Nil
    override lazy val resolved: Boolean = false
  }

  /** One script's view of the catalog (reference tmptblCache and
    * droppedTables, SqlMetaDataExtractor.java:46,79-100): its current
    * database, the tables it created, the names it dropped, its
    * temporary tables, the LOCATIONs it declared and the schemas its
    * [[MetaStore]] answered. */
  final class Scope(spark: SparkSession, metaStore: Option[MetaStore] = None) {
    private[lineage] var db = "default"
    private val created = mutable.HashMap.empty[String, StructType]
    private val dropped = mutable.HashSet.empty[String]
    private val fetched = mutable.HashMap.empty[String, Option[StructType]]
    private[lineage] val temp = mutable.HashSet.empty[String]
    private[lineage] val storageLocs = mutable.HashMap.empty[String, String]

    private[lineage] def qualify(parts: Seq[String]): (String, String) =
      if (parts.length >= 2) (parts.dropRight(1).mkString("."), parts.last)
      else (db, parts.last)

    private[lineage] def create(db: String, tbl: String, schema: StructType): Unit = {
      val k = key(db, tbl)
      created(k) = schema
      dropped -= k
      registry.put(k, schema)
    }

    private[lineage] def drop(db: String, tbl: String): Unit = {
      val k = key(db, tbl)
      created -= k
      dropped += k
      registry.remove(k)
    }

    /** Binds every table the plan reads, subqueries included; CTE names
      * are substituted first, so a CTE never binds to a table. */
    private[lineage] def bind(plan: LogicalPlan): LogicalPlan =
      CTESubstitution(plan).transformUpWithSubqueries { case u: UnresolvedRelation => relation(u) }

    /** Lookup order: the script's own tables; tables earlier scripts
      * created; the fixtures; session-catalog tables and unqualified temp
      * views, left to the analyzer; the [[MetaStore]]. A name the script
      * dropped skips all but its own tables and the [[MetaStore]]. */
    private def relation(u: UnresolvedRelation): LogicalPlan = {
      val parts = u.multipartIdentifier
      val (db, tbl) = qualify(parts)
      val k = key(db, tbl)
      val live = !dropped(k)
      val catalog = spark.sessionState.catalog
      // The analyzer resolves a name against the session's database, not
      // the script's, so a name left to it is qualified first.
      def qualified = if (parts.length >= 2) u else u.copy(multipartIdentifier = Seq(db, tbl))
      def fetch = fetched.getOrElseUpdate(k, metaStore.flatMap(_.lookup(db, tbl)).map(cols =>
        StructType.fromDDL(cols.map { case (n, t) => s"`$n` $t" }.mkString(", "))))
      created.get(k)
        .orElse(if (live) Option(registry.get(k)).orElse(FixtureCatalog.schemas.get(k)) else None)
        .map(schemaOnly(db, tbl, _))
        .getOrElse {
          if (live && parts.length == 1 && catalog.getTempView(tbl).isDefined) u
          else if (live && catalog.tableExists(TableIdentifier(tbl, Some(db)))) qualified
          else fetch.map(schemaOnly(db, tbl, _))
            .getOrElse(if (live) qualified else DroppedRelation(parts))
        }
    }

    /** `spark_catalog.db.tbl` over a relation that has a schema and no
      * data — the shape the analyzer gives a catalog table. */
    private def schemaOnly(db: String, tbl: String, cols: StructType): LogicalPlan = {
      val (d, t) = (db.toLowerCase(Locale.ROOT), tbl.toLowerCase(Locale.ROOT))
      val table = CatalogTable(TableIdentifier(t, Some(d), Some(SessionCatalog)),
        CatalogTableType.EXTERNAL, CatalogStorageFormat.empty, cols)
      val relation = new BaseRelation {
        val sqlContext = spark.sqlContext
        val schema = CharVarcharUtils.replaceCharVarcharWithStringInSchema(cols)
      }
      SubqueryAlias(Seq(SessionCatalog, d, t), LogicalRelation(relation, table))
    }
  }

  def run(spark: SparkSession, script: String,
      metaStore: Option[MetaStore] = None): Result = {
    val scope = new Scope(spark, metaStore)
    val edges = Seq.newBuilder[(String, ColumnEdge)]
    val inserts = scala.collection.mutable.ArrayBuffer.empty[TableInsert]
    val dsNodes = Seq.newBuilder[DatasetNode]
    val items = Seq.newBuilder[(String, SelectItemNode)]
    val addParts = Seq.newBuilder[AddPartitionEvent]
    val drops = Seq.newBuilder[TableDrop]
    val topSelects = scala.collection.mutable.ArrayBuffer.empty[String]

    // Temporary tables (reference tmptblCache + closeSession rename,
    // SqlMetaDataExtractor.java:79-100): Spark's parser rejects CREATE
    // TEMPORARY TABLE, so the keyword is stripped pre-parse and the name
    // remembered — the created dataset becomes TEMPORARY_TABLE, and the
    // store renames its mapping out of scope at write time.
    val TempCreate = """(?is)^\s*create\s+temporary\s+(table\s+.*)$""".r
    def dsType(db: String, tbl: String) =
      if (scope.temp.contains(key(db, tbl))) "TEMPORARY_TABLE" else "TABLE"

    val skippedStmts = Seq.newBuilder[String]

    // A table no source resolves stays an unresolved leaf after analysis,
    // and the walker cannot draw lineage through it: its statement is
    // skipped (recorded, contributing nothing) and the script goes on.
    // Each case below analyzes before it records anything. A resolved
    // plan, the common case, is not walked.
    def analyze(plan: LogicalPlan): LogicalPlan = {
      val analyzed = analyzePermissive(spark, plan, scope)
      if (!analyzed.resolved) analyzed.collectWithSubqueries {
        case u: UnresolvedRelation => u.multipartIdentifier
        case d: DroppedRelation => d.name
      }.headOption.foreach(n => throw new UnknownTable(n.mkString(".")))
      analyzed
    }

    SqlPreprocessor.preprocess(script).foreach { stmt0 =>
      val (stmt, isTemp) = stmt0 match {
        case TempCreate(rest) => (s"CREATE $rest", true)
        case other => (other, false)
      }
      // Statements Spark can't parse (GRANT, BEGIN/COMMIT, HPL-SQL
      // residue) are skip-routed, not fatal — the reference accepts them
      // grammar-side and ignores them visitor-side.
      val parsedOpt =
        try Some(spark.sessionState.sqlParser.parsePlan(stmt))
        catch {
          case _: org.apache.spark.sql.catalyst.parser.ParseException =>
            skippedStmts += stmt
            None
        }
      parsedOpt.foreach { parsed =>
      try parsed match {
        case SetCatalogAndNamespace(ns: UnresolvedNamespace) =>
          scope.db = ns.multipartIdentifier.last.toLowerCase(Locale.ROOT)

        case ct: CreateTable =>
          val (db, tbl) = identOf(scope, ct.name)
          if (isTemp) scope.temp += key(db, tbl)
          scope.create(db, tbl, parsedSchema(ct))
          val loc = ct.tableSpec match {
            case u: UnresolvedTableSpec => u.location.getOrElse("")
            case t: TableSpec => t.location.getOrElse("")
            case _ => ""
          }
          if (loc.nonEmpty) scope.storageLocs(key(db, tbl)) = loc
          dsNodes += DatasetNode(s"$db.$tbl", dsType(db, tbl), db, tbl, storageLoc = loc)
          items ++= tableItems(db, tbl, ct.columns.map(c => c.name -> c.dataType.sql))

        case ctas: CreateTableAsSelect =>
          val (db, tbl) = identOf(scope, ctas.name)
          val analyzed = analyze(ctas.query)
          if (isTemp) scope.temp += key(db, tbl)
          inserts += TableInsert(db, tbl, "CREATE TABLE AS")
          edges ++= LineageWalker.edgesOf(analyzed).map(e => s"$db.$tbl" -> e)
          items ++= LineageWalker.selectItems(analyzed).map(it => s"$db.$tbl" -> it)
          items ++= tableItems(db, tbl,
            analyzed.output.map(a => a.name -> a.dataType.sql))
          scope.create(db, tbl, analyzed.schema)
          dsNodes += DatasetNode(s"$db.$tbl", dsType(db, tbl), db, tbl)

        case w: UnresolvedWith if collectInserts(w.child).nonEmpty =>
          // Hive multi-table INSERT sharing a CTE/FROM
          // (SqlMetaDataExtractor.java:163-169, test 0009): extract each
          // INSERT branch separately under the same CTE scope.
          collectInserts(w.child).map(ins =>
            ins -> analyze(w.copy(child = ins.query))
          ).foreach { case (ins, analyzed) =>
            val (db, tbl) = insertTarget(scope, ins)
            inserts += TableInsert(db, tbl, insertType(ins))
            edges ++= LineageWalker.edgesOf(analyzed).map(e => s"$db.$tbl" -> e)
            items ++= LineageWalker.selectItems(analyzed).map(it => s"$db.$tbl" -> it)
          }

        case ins: InsertIntoStatement =>
          val analyzed = analyze(ins.query)
          val (db, tbl) = insertTarget(scope, ins)
          inserts += TableInsert(db, tbl, insertType(ins))
          edges ++= LineageWalker.edgesOf(analyzed).map(e => s"$db.$tbl" -> e)
          items ++= LineageWalker.selectItems(analyzed).map(it => s"$db.$tbl" -> it)

        case d: DropTable =>
          // Reference removeTable (LineageDbService.java:274-287): purge
          // this job's table_insert rows for the table and remember the
          // drop so later statements no longer see the table.
          val (db, tbl) = d.child match {
            case u: UnresolvedTableOrView => scope.qualify(u.multipartIdentifier)
            case u: UnresolvedIdentifier => scope.qualify(u.nameParts)
            case other => ("", other.nodeName)
          }
          inserts.filterInPlace(t => !(t.dbSchema == db && t.dbTable == tbl))
          scope.drop(db, tbl)
          drops += TableDrop(db, tbl)

        case ap: AddPartitions =>
          // Reference visitAlter_table_stmt (SqlMetaDataExtractor.java:
          // 848-869): only ADD PARTITION matters — record a
          // table_add_partition event carrying the partition LOCATION,
          // falling back to the LOCATION the script declared for the table.
          val (db, tbl) = ap.table match {
            case u: UnresolvedTable => scope.qualify(u.multipartIdentifier)
            case other => ("", other.nodeName)
          }
          val tableLoc = scope.storageLocs.getOrElse(key(db, tbl), "")
          ap.parts.foreach {
            case p: UnresolvedPartitionSpec =>
              addParts += AddPartitionEvent(db, tbl, p.location.getOrElse(tableLoc))
            case _ =>
              addParts += AddPartitionEvent(db, tbl, tableLoc)
          }

        case like: CreateTableLikeCommand =>
          // CREATE TABLE ... LIKE: clone the source schema
          // (reference create_table_like_clause, Bingql.g4; the clone is
          // a TABLE dataset whose columns map to itself, not the source —
          // LIKE copies structure, not data lineage).
          val (db, tbl) = scope.qualify(
            like.targetTable.database.toSeq :+ like.targetTable.table)
          val schema = analyzePermissive(
            spark, UnresolvedRelation(like.sourceTable.nameParts), scope).schema
          scope.create(db, tbl, schema)
          dsNodes += DatasetNode(s"$db.$tbl", "TABLE", db, tbl)
          items ++= tableItems(db, tbl, schema.fields.toSeq.map(f => f.name -> f.dataType.sql))

        case dir: InsertIntoDir =>
          // INSERT OVERWRITE [LOCAL] DIRECTORY '<path>': lineage lands on
          // the directory as the write target (reference grammar
          // Bingql.g4:695-697; parse-only there, extracted here).
          val path = dir.storage.locationUri.map(_.toString).getOrElse("")
          val tgt = s"dir:$path"
          val analyzed = analyze(dir.child)
          inserts += TableInsert("", tgt,
            if (dir.isLocal) "INSERT OVERWRITE LOCAL DIRECTORY"
            else "INSERT OVERWRITE DIRECTORY")
          edges ++= LineageWalker.edgesOf(analyzed).map(e => tgt -> e)
          items ++= LineageWalker.selectItems(analyzed).map(it => tgt -> it)

        case _: ShowTables | _: DescribeRelation | _: ShowPartitions |
            _: TruncateTable | _: ShowColumns =>
          () // introspection/maintenance: routed, no lineage (reference
             // parses and skips these, BatchProcessor skip-routing)

        case _: MergeIntoTable | _: UpdateTable | _: DeleteFromTable =>
          // Parse-only DML parity (reference grammar accepts
          // MERGE/UPDATE/DELETE with no visitor, Bingql.g4 merge_stmt
          // etc.): recorded as skipped, never fatal.
          skippedStmts += stmt

        case fn: org.apache.spark.sql.execution.command.CreateFunctionCommand =>
          // CREATE TEMPORARY FUNCTION name AS 'cls' (reference accepts
          // any ident(args) call, Bingql.g4:1436-1442): register the
          // pass-through shim up front so later calls resolve without
          // the analyze-retry loop.
          shimFunction(spark, fn.identifier.funcName)

        case query =>
          val analyzed = analyze(query)
          edges ++= LineageWalker.edgesOf(analyzed).map(e => "" -> e)
          items ++= LineageWalker.selectItems(analyzed).map(it => "" -> it)
          // The top-level SELECT is itself a dataset — the consumption
          // end-node a dashboard links to (reference closeSession,
          // SqlMetaDataExtractor.java:102-112).
          val name = s"query_${topSelects.size}"
          dsNodes += DatasetNode(name, "SUBQUERY", "", "")
          topSelects += name
      } catch {
        case _: UnknownTable => skippedStmts += stmt
      }
      }
    }
    Result(edges.result(), inserts.toSeq, dsNodes.result(), items.result(),
      addParts.result(), drops.result(), topSelects.toSeq, skippedStmts.result())
  }

  /** Multi-insert branches under a shared FROM (Union of inserts). */
  private def collectInserts(p: LogicalPlan): Seq[InsertIntoStatement] = p match {
    case u: Union => u.children.flatMap(collectInserts)
    case i: InsertIntoStatement => Seq(i)
    case _ => Seq.empty
  }

  private def insertType(i: InsertIntoStatement): String =
    if (i.overwrite) "INSERT OVERWRITE TABLE" else "INSERT INTO TABLE"

  private def insertTarget(scope: Scope, i: InsertIntoStatement): (String, String) =
    i.table match {
      case u: UnresolvedRelation => scope.qualify(u.multipartIdentifier)
      case other => ("", other.nodeName)
    }

  private def identOf(scope: Scope, name: LogicalPlan): (String, String) =
    name match {
      case u: UnresolvedIdentifier => scope.qualify(u.nameParts)
      case other => ("", other.toString)
    }

  /** A parsed CREATE TABLE's columns, ignoring Hive-only storage clauses
    * and external locations. */
  private def parsedSchema(ct: CreateTable): StructType = {
    val partCols = ct.partitioning.flatMap(_.references.map(_.fieldNames().mkString(".")))
    val declared = ct.columns.map(_.name).toSet
    // Hive-style typed partition columns may not be in `columns`.
    StructType(ct.columns.map(c => StructField(c.name, c.dataType)) ++
      partCols.filterNot(declared.contains).map(StructField(_, StringType)))
  }

  /** Registers a pass-through for an unknown function: a string
    * concatenation of its arguments, so every argument stays a parent. */
  private def shimFunction(spark: SparkSession, name: String): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, (exprs: Seq[Expression]) => Concat(exprs.map(Cast(_, StringType))), "scala_udf")

  /** Resolve a plan WITHOUT CheckAnalysis — the reference extracts
    * lineage from scripts it can't fully validate (90%-coverage
    * philosophy, README.md:81), and Hive-lenient SQL in its own corpus
    * (e.g. `SELECT col, count(*)` with no GROUP BY in 0006) resolves but
    * fails Spark's CheckAnalysis. Spark itself skips CheckAnalysis for
    * command inner children, so this matches whole-statement behavior.
    * Tables are bound from the script's [[Scope]] first.
    *
    * Unknown functions (the reference accepts any `ident(args)`,
    * Bingql.g4:1436-1442, README.md:80) are shimmed with a pass-through
    * preserving argument references, then resolution is retried.
    */
  def analyzePermissive(spark: SparkSession, plan: LogicalPlan, scope: Scope): LogicalPlan = {
    // LookupFunctions throws from a RESOLUTION batch (not CheckAnalysis),
    // so unknown functions surface as exceptions even under
    // analyzer.execute — catch, shim, retry.
    val Unresolved = """.*Cannot resolve routine `([^`]+)`.*""".r
    val bound = scope.bind(plan)
    def attempt(n: Int): LogicalPlan =
      // A failed run leaves per-node rule memos on the tree it analyzed;
      // clone() gives each attempt a fresh tree.
      try spark.sessionState.analyzer.execute(bound.clone())
      catch {
        case e: AnalysisException
          if n < 8 && e.getMessage != null && e.getMessage.contains("UNRESOLVED_ROUTINE") =>
          e.getMessage.replaceAll("\n", " ") match {
            case Unresolved(fname) => shimFunction(spark, fname)
            case _ => throw e
          }
          attempt(n + 1)
      }
    attempt(0)
  }
}
