package graft.lineage

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, ExprId, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Column-level lineage extraction from Spark's *analyzed* LogicalPlan —
  * the Spark-first re-design of the reference's SqlMetaDataExtractor
  * (sql_lineage/.../SqlMetaDataExtractor.java): where the reference walks
  * an ANTLR parse tree with a stack machine and heuristic name
  * resolution (DatasetPool.java:166-241), we let Catalyst's Analyzer do
  * resolution, `*` expansion, ordinal GROUP BY binding and struct-field
  * disambiguation exactly, then fold over the resolved tree.
  *
  * Reading the analyzed (NOT optimized) plan keeps pruned/folded columns
  * visible, matching the reference's text-level semantics (SURVEY §4.2).
  */
object LineageWalker {

  /** (schema, table, column) origin of an attribute. */
  type Origin = (String, String, String)

  val Asterisk = "$COL_ASTERISK$" // reference DatasetPool.java:171-195

  /** Base (schema, table) relations read anywhere in the plan. */
  def baseTables(plan: LogicalPlan): Seq[(String, String)] =
    plan.collect { case lr: LogicalRelation => relationName(lr) }.distinct

  private def relationName(lr: LogicalRelation): (String, String) =
    lr.catalogTable match {
      case Some(ct) => (ct.identifier.database.getOrElse(""), ct.identifier.table)
      case None =>
        // Path-backed relation (e.g. a temp view over parquet): derive a
        // name from the file location, schema "main".
        val path = lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.headOption.map(_.getName).getOrElse("unknown")
          case _ => "unknown"
        }
        ("main", path.stripSuffix(".parquet"))
    }

  /** Bottom-up map ExprId -> base-table origins. */
  def origins(plan: LogicalPlan): Map[ExprId, Set[Origin]] = {
    val cteDefs = scala.collection.mutable.Map[Long, Seq[Set[Origin]]]()

    def resolveNamed(ne: NamedExpression, env: Map[ExprId, Set[Origin]]): Set[Origin] =
      ne match {
        case a: AttributeReference => env.getOrElse(a.exprId, Set.empty)
        case Alias(child, _) => refsOf(child, env)
        case other => refsOf(other, env)
      }

    def refsOf(e: Expression, env: Map[ExprId, Set[Origin]]): Set[Origin] =
      e.references.toSeq.flatMap(a => env.getOrElse(a.exprId, Set.empty)).toSet

    def walk(p: LogicalPlan): Map[ExprId, Set[Origin]] = p match {
      case lr: LogicalRelation =>
        val (db, tbl) = relationName(lr)
        lr.output.map(a => a.exprId -> Set((db, tbl, a.name): Origin)).toMap

      // Streaming source leaf (readStream path): same origin contract
      // as a path-backed batch relation — schema "stream", table from
      // the source name. Lineage then spans batch AND streaming plans
      // (q275 pins it); the fold above the leaf is identical.
      case sr: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        // sourceName is "FileSource[<path>]" — keep the source TYPE only
        // so lineage is stable across directories/deployments.
        val tbl = sr.sourceName.takeWhile(_ != '[')
        sr.output.map(a => a.exprId -> Set(("stream", tbl, a.name): Origin)).toMap

      case w: WithCTE =>
        w.cteDefs.foreach { d =>
          val m = walk(d.child)
          cteDefs(d.id) = d.child.output.map(a => m.getOrElse(a.exprId, Set.empty))
        }
        walk(w.plan) // refs resolved via CTERelationRef case below

      case r: CTERelationRef =>
        val defCols = cteDefs.getOrElse(r.cteId, Seq.empty)
        r.output.zipWithIndex.map { case (a, i) =>
          a.exprId -> defCols.lift(i).getOrElse(Set.empty[Origin])
        }.toMap

      case u: Union =>
        val childMaps = u.children.map(walk)
        val merged = childMaps.reduce(_ ++ _)
        // Positional merge, like the reference (DatasetList.java:10-22,
        // MiscChores.union:63-79): output column i inherits the origins
        // of every branch's column i.
        val perPos = u.children.zip(childMaps).map { case (c, m) =>
          c.output.map(a => m.getOrElse(a.exprId, Set.empty[Origin]))
        }
        merged ++ u.output.zipWithIndex.map { case (a, i) =>
          a.exprId -> perPos.flatMap(_.lift(i)).flatten.toSet
        }

      case pj: Project =>
        val env = mergeChildren(pj.children.map(walk))
        env ++ pj.projectList.map(ne => ne.exprId -> resolveNamed(ne, env))

      case ag: Aggregate =>
        val env = mergeChildren(ag.children.map(walk))
        // Reference semantics: group-by column parents are appended to
        // every non-group-by select item (resolveGroupBy,
        // SqlMetaDataExtractor.java:1131-1154).
        val groupOrigins = ag.groupingExpressions
          .flatMap(ge => refsOf(ge, env)).toSet
        // count(*)-style proxy, scoped to THIS select block's input
        // tables (DatasetPool.java:171-195). Note: Catalyst rewrites
        // count(*) to count(1) during analysis, so column-less count(1)
        // gets the proxy too — a deliberate unification (SURVEY §7.4.2).
        lazy val proxy: Set[Origin] =
          baseTables(ag).map { case (d, t) => (d, t, Asterisk) }.toSet
        env ++ ag.aggregateExpressions.map { ne =>
          val own = resolveNamed(ne, env)
          val isGroupCol = ne match {
            case ar: AttributeReference =>
              ag.groupingExpressions.exists(_.references.contains(ar))
            case Alias(c, _) => ag.groupingExpressions.exists(_.semanticEquals(c))
            case _ => false
          }
          val isAgg = ne.exists(_.isInstanceOf[AggregateExpression])
          val withProxy = if (isAgg && own.isEmpty) proxy else own
          ne.exprId -> (if (isGroupCol || !isAgg) withProxy
                        else withProxy ++ groupOrigins)
        }

      case g: Generate =>
        val env = walk(g.child)
        // LATERAL VIEW: every generated column shares the generator's
        // parameter columns as parents (SqlMetaDataExtractor.java:794-846).
        val genOrigins = refsOf(g.generator, env)
        env ++ g.generatorOutput.map(a => a.exprId -> genOrigins)

      case w: Window =>
        val env = mergeChildren(w.children.map(walk))
        env ++ w.windowExpressions.map(ne => ne.exprId -> resolveNamed(ne, env))

      case e: Expand => // GROUPING SETS / CUBE / ROLLUP
        val env = mergeChildren(e.children.map(walk))
        env ++ e.output.zipWithIndex.map { case (a, i) =>
          a.exprId -> e.projections.flatMap(row =>
            row.lift(i).map(ex => refsOf(ex, env)).getOrElse(Set.empty)).toSet
        }

      case other =>
        mergeChildren(other.children.map(walk))
    }

    walk(plan)
  }

  private def mergeChildren(ms: Seq[Map[ExprId, Set[Origin]]]): Map[ExprId, Set[Origin]] =
    if (ms.isEmpty) Map.empty else ms.reduce(_ ++ _)

  def edgesOf(plan: LogicalPlan): Seq[ColumnEdge] = {
    val query = unwrapCommand(plan)
    val env = origins(query)
    val bases = baseTables(query)

    val outCols: Seq[(String, Set[Origin])] = query.output.map { a =>
      a.name -> env.getOrElse(a.exprId, Set.empty[Origin])
    }

    val selectEdges = outCols.flatMap { case (name, os) =>
      os.toSeq.sortBy(identity).map { case (d, t, c) => ColumnEdge(name, d, t, c, "SELECT") }
    }

    def ctxEdges(refs: Set[Origin], ctx: String): Seq[ColumnEdge] =
      outCols.flatMap { case (name, _) =>
        refs.toSeq.sortBy(identity).map { case (d, t, c) => ColumnEdge(name, d, t, c, ctx) }
      }

    val whereEdges = query.collect {
      case f: Filter => f.condition.references.toSeq
        .flatMap(a => env.getOrElse(a.exprId, Set.empty[Origin])).toSet
    }.flatMap(ctxEdges(_, "WHERE"))

    val joinEdges = query.collect {
      case j: Join if j.condition.isDefined => j.condition.get.references.toSeq
        .flatMap(a => env.getOrElse(a.exprId, Set.empty[Origin])).toSet
    }.flatMap(ctxEdges(_, "JOIN"))

    (selectEdges ++ whereEdges ++ joinEdges).distinct
  }

  /** select_item rows of one statement's top SELECT block (reference
    * SelectItem semantics, persistable/SelectItem.java:10-29): one item
    * per output column with definition/alias/data_type/is_simple_column/
    * function_type, plus one item per WHERE and JOIN predicate
    * (SqlMetaDataExtractor.java:302-360). data_type and map_to_* are
    * populated only for direct column references, matching
    * DatasetPool.java:149-155. */
  def selectItems(plan: LogicalPlan): Seq[SelectItemNode] = {
    import org.apache.spark.sql.catalyst.expressions.{GetStructField, Literal, WindowExpression}
    val query = unwrapCommand(plan)
    val env = origins(query)

    def defText(e: Expression): String = (e match {
      case a: AttributeReference => a.name
      case Alias(c, _) => defText(c)
      case g: GetStructField =>
        s"${defText(g.child)}.${g.extractFieldName}"
      case other => other.sql.replace("`", "")
    }).take(1024) // reference CONS_COL_DEF_MAXLEN, SqlMetaDataExtractor.java:59

    def stripAlias(e: Expression): Expression = e match {
      case Alias(c, _) => stripAlias(c)
      case o => o
    }

    def fnType(e: Expression): String = {
      val inner = stripAlias(e)
      if (inner.exists(_.isInstanceOf[WindowExpression])) "WINDOW"
      else if (inner.exists(_.isInstanceOf[AggregateExpression])) "AGGREGATION"
      else inner match {
        case _: AttributeReference | _: GetStructField | _: Literal => ""
        case _ => "SCALAR"
      }
    }

    def itemOf(ne: NamedExpression): SelectItemNode = {
      val inner = stripAlias(ne)
      val simple = inner.isInstanceOf[AttributeReference]
      val origin = if (simple) {
        env.getOrElse(inner.asInstanceOf[AttributeReference].exprId, Set.empty).toSeq match {
          case Seq(one) => Some(one)
          case _ => None
        }
      } else None
      SelectItemNode(
        name = ne.name,
        definition = defText(ne),
        alias = ne match { case _: Alias => ne.name; case _ => "" },
        usageContext = "SELECT",
        isSimpleColumn = simple,
        dataType = if (simple) ne.dataType.sql else "",
        functionType = fnType(ne),
        mapToSchema = origin.map(_._1).getOrElse(""),
        mapToTable = origin.map(_._2).getOrElse(""),
        mapToColumn = origin.map(_._3).getOrElse(""))
    }

    // Top SELECT list: the first Project/Aggregate under the statement's
    // ordering/limit/alias wrappers (for UNION, positionally the first
    // branch, like the reference's isUnionBase dataset).
    @scala.annotation.tailrec
    def topList(p: LogicalPlan): Seq[NamedExpression] = p match {
      case pj: Project => pj.projectList
      case ag: Aggregate => ag.aggregateExpressions
      case w: WithCTE => topList(w.plan)
      case u: Union => topList(u.children.head)
      case d: Distinct => topList(d.child)
      case s: Sort => topList(s.child)
      case l: GlobalLimit => topList(l.child)
      case l: LocalLimit => topList(l.child)
      case f: Filter => topList(f.child)
      case sa: SubqueryAlias => topList(sa.child)
      case other => other.output
    }

    def predicateItem(cond: Expression, ctx: String): SelectItemNode =
      SelectItemNode("", defText(cond), "", ctx,
        isSimpleColumn = false, dataType = "", functionType = "",
        mapToSchema = "", mapToTable = "", mapToColumn = "")

    val selectRows = topList(query).map(itemOf)
    val whereRows = query.collect { case f: Filter => predicateItem(f.condition, "WHERE") }
    val joinRows = query.collect {
      case j: Join if j.condition.isDefined => predicateItem(j.condition.get, "JOIN")
    }
    selectRows ++ whereRows ++ joinRows
  }

  /** Multi-level dataset graph: one node per SELECT-block scope (the
    * reference's dataset/dataset_rel structure — each SubqueryAlias'd
    * block or CTE becomes a Dataset row, with parent→child edges to the
    * scopes it reads; validate_0002 checks exactly this 3-subquery
    * shape). Returns (nodes, edges) where edges are (child, parent). */
  def datasetGraph(plan: LogicalPlan): (Seq[DatasetNode], Seq[(String, String)]) = {
    val query = unwrapCommand(plan)
    val nodes = Seq.newBuilder[DatasetNode]
    val edges = Seq.newBuilder[(String, String)]

    /** Does this scope aggregate? True iff an Aggregate appears before
      * the next scope boundary (SubqueryAlias/CTE ref) — sets the
      * reference's declared-but-never-populated is_aggregated flag
      * (TODO at SqlMetaDataExtractor.java:942). */
    def hasAgg(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: SubqueryAlias | _: CTERelationRef => false
      case other => other.children.exists(hasAgg)
    }

    /** Returns the dataset name this subtree presents to its consumer. */
    def walk(p: LogicalPlan, scopeName: String): Seq[String] = p match {
      case lr: LogicalRelation =>
        val (d, t) = relationName(lr)
        nodes += DatasetNode(s"$d.$t", "TABLE", d, t)
        Seq(s"$d.$t")
      case sa: SubqueryAlias =>
        // The analyzer chains SubqueryAlias(userAlias, SubqueryAlias(
        // qualifiedName, Relation)) around base tables — an aliased
        // table is still the TABLE dataset (reference semantics), not a
        // subquery scope.
        def stripAliases(q: LogicalPlan): LogicalPlan = q match {
          case s: SubqueryAlias => stripAliases(s.child)
          case o => o
        }
        stripAliases(sa.child) match {
          case lr: LogicalRelation => walk(lr, scopeName)
          case _ =>
            val dsType = sa.child match {
              case _: CTERelationRef => "CTE"
              case _ => "SUBQUERY"
            }
            nodes += DatasetNode(sa.alias, dsType, "", "",
              isAggregated = hasAgg(sa.child))
            walk(sa.child, sa.alias).foreach(par => edges += sa.alias -> par)
            Seq(sa.alias)
        }
      case w: WithCTE =>
        w.cteDefs.foreach { d =>
          val name = d.child.collectFirst { case s: SubqueryAlias => s.alias }
            .getOrElse(s"cte_${d.id}")
          nodes += DatasetNode(name, "CTE", "", "",
            isAggregated = hasAgg(d.child))
          walk(d.child match {
            case s: SubqueryAlias => s.child
            case other => other
          }, name).foreach(par => edges += name -> par)
        }
        walk(w.plan, scopeName)
      case r: CTERelationRef =>
        Seq.empty // consumer edge added by enclosing SubqueryAlias via name
      case g: Generate =>
        val name = g.qualifier.getOrElse("lateral_view")
        nodes += DatasetNode(name, "LATERAL_VIEW", "", "")
        walk(g.child, name).foreach(par => edges += name -> par)
        Seq(name)
      case other =>
        other.children.flatMap(walk(_, scopeName))
    }

    val rootName = "_root_"
    nodes += DatasetNode(rootName, "SUBQUERY", "", "", isAggregated = hasAgg(query))
    walk(query, rootName).foreach(par => edges += rootName -> par)
    (nodes.result().distinct, edges.result().distinct)
  }

  /** Strip a top-level command wrapper (INSERT/CTAS) down to its query.
    * Many V1 commands are LEAF nodes holding their query as an inner
    * child (e.g. CreateDataSourceTableAsSelectCommand), so fall back to
    * scanning constructor fields for the query plan. */
  def unwrapCommand(plan: LogicalPlan): LogicalPlan = plan match {
    case i: InsertIntoStatement => unwrapCommand(i.query)
    case c: CreateTableAsSelect => unwrapCommand(c.query)
    case cmd: Command =>
      val candidates = cmd.productIterator.collect {
        case lp: LogicalPlan
          if !lp.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier] => lp
      }.toSeq
      candidates.find(_.output.nonEmpty).orElse(candidates.headOption)
        .map(unwrapCommand).getOrElse(cmd)
    case other => other
  }
}
