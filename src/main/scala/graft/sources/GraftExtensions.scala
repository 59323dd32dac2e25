package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{GetColumnByOrdinal, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedTableOrView, UnresolvedView}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, UpCast}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions wiring catalog-stored views into SQL
  * (reference: PaimonSparkSessionExtensions + PaimonViewResolver +
  * RewriteSparkDDLCommands + PaimonStrategy/PaimonViewExec).
  *
  * Spark 4.1 ships the `ViewCatalog` connector API but its analyzer
  * never consults it — `ResolveSessionCatalog` rejects view DDL against
  * any non-session catalog outright (MISSING_CATALOG_ABILITY.VIEWS),
  * which is exactly why the reference carries its own rules. We differ
  * from the reference in the injection point: instead of a parser
  * override that rewrites DDL statements, a single hint-batch
  * resolution rule (the batch that runs BEFORE the Resolution batch
  * containing ResolveSessionCatalog) converts the parsed view plans
  * into graft commands and substitutes view reads — no parser fork.
  *
  * Register with
  * `spark.sql.extensions=graft.sources.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectHintResolutionRule(s => GraftViewRule(s))
    e.injectResolutionRule(s => GraftUpsertRule(s))
    e.injectPlannerStrategy(s => GraftViewStrategy(s))
    GraftTableFunctions.register(e)
  }
}

/** FROM-clause table-valued functions (reference: paimon-spark
  * PaimonTableValuedFunctions — `paimon_incremental_query`,
  * `paimon_incremental_between_timestamp`,
  * `paimon_incremental_to_auto_tag`). Spark 4's
  * `injectTableFunction` puts them straight into the function
  * registry, so `SELECT * FROM graft_incremental_query('db.t', 3, 5)`
  * works without the temp-view indirection of `CALL
  * sys.incremental_query` (which stays for procedure-style use).
  * Snapshot refs accept ids or tag names. */
object GraftTableFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  def register(e: SparkSessionExtensions): Unit = {
    def inject(name: String, argDoc: String,
        build: (graft.table.GraftTable, Seq[Any]) => org.apache.spark.sql.DataFrame): Unit =
      e.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(GraftTableFunctions.getClass.getName, name),
        (args: Seq[Expression]) => {
          val vals = args.map { a =>
            require(a.foldable, s"$name arguments must be literals")
            a.eval(null) match {
              case u: UTF8String => u.toString
              case other => other
            }
          }
          require(vals.nonEmpty, s"$name needs a table argument")
          val gt = resolveGraft(vals.head.toString)
          build(gt, vals.tail).queryExecution.logical
        }))

    def snapRef(gt: graft.table.GraftTable, v: Any): Long = v match {
      case n: Number => n.longValue()
      case s: String if s.matches("-?\\d+") => s.toLong
      case s: String => gt.sm.tagSnapshotId(s).getOrElse(
        throw new IllegalArgumentException(s"no such tag: $s"))
      case other => throw new IllegalArgumentException(
        s"cannot interpret snapshot ref '$other'")
    }

    inject("graft_incremental_query", "table, from_snapshot, to_snapshot",
      (gt, rest) => gt.incrementalRead(snapRef(gt, rest(0)), snapRef(gt, rest(1))))
    inject("graft_incremental_between_timestamp", "table, from_millis, to_millis",
      (gt, rest) => {
        def ms(v: Any) = v match {
          case n: Number => n.longValue()
          case s: String => s.toLong
          case o => throw new IllegalArgumentException(s"not a timestamp: $o")
        }
        gt.incrementalRead(
          gt.sm.snapshotIdAtTime(ms(rest(0))).getOrElse(-1L),
          gt.sm.snapshotIdAtTime(ms(rest(1))).getOrElse(-1L))
      })
    inject("graft_incremental_to_auto_tag", "table, end_tag",
      (gt, rest) => gt.incrementalToAutoTag(rest(0).toString))
  }

  /** Resolve 'db.t' in the current catalog or 'cat.db.t' by name to a
    * graft table (the TVF has no catalog context of its own). */
  private def resolveGraft(name: String): graft.table.GraftTable = {
    val spark = SparkSession.active
    val cm = spark.sessionState.catalogManager
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
    def asGraft(c: org.apache.spark.sql.connector.catalog.CatalogPlugin) =
      c match { case g: GraftCatalog => Some(g); case _ => None }
    val viaNamed =
      if (parts.size >= 2)
        (try asGraft(cm.catalog(parts.head)) catch { case _: Exception => None })
          .map(g => (g, Identifier.of(
            parts.tail.dropRight(1).toArray, parts.last)))
      else None
    val (g, ident) = viaNamed
      .orElse(asGraft(cm.currentCatalog).map(g =>
        (g, Identifier.of(parts.dropRight(1).toArray, parts.last))))
      .getOrElse(throw new IllegalArgumentException(
        s"'$name' does not resolve to a table in a graft catalog"))
    graft.table.GraftTable.load(spark, g.pathOf(ident))
  }
}

/** INSERT INTO an append table carrying `upsert-key` rewrites to MERGE
  * INTO on that key (reference: paimon-spark
  * RewriteUpsertTable.scala:36 — upsert semantics WITHOUT an LSM
  * primary key; the copy-on-write merge rewrites only the touched
  * files). With `sequence.field` set, the incoming batch first dedups
  * to its newest row per key, and matched updates are guarded so an
  * older row never clobbers a newer stored one. Fires only on fully
  * resolved plans — by then Spark has aligned the query's output to
  * the table's column order, so positional assignment is exact. */
case class GraftUpsertRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private def upsertOf(r: DataSourceV2Relation): Option[(Seq[String], Seq[String])] =
    r.table match {
      case g: GraftSparkTable if g.sch.primaryKeys.isEmpty =>
        g.gt.schema.options.get("upsert-key").map { uk =>
          (uk.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
            g.gt.schema.sequenceFields)
        }.filter(_._1.nonEmpty)
      case _ => None
    }

  private def out(atts: Seq[Attribute], name: String): Attribute =
    atts.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"upsert-key column $name not found"))

  /** newest row per key from the incoming batch: without this, one
    * batch holding several versions of a key would raise MERGE's
    * cardinality error (multiple source rows match one target row) */
  private def dedupBySequence(
      source: LogicalPlan, keys: Seq[String], seqFields: Seq[String]): LogicalPlan = {
    val spec = WindowSpecDefinition(
      keys.map(out(source.output, _)),
      seqFields.map(s => SortOrder(out(source.output, s), Descending)),
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    val rn = Alias(WindowExpression(RowNumber(), spec), "__graft_rn")()
    val withRn = Project(source.output :+ rn, source)
    Project(source.output,
      Filter(EqualTo(rn.toAttribute, Literal(1)), withRn))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case a @ AppendData(r: DataSourceV2Relation, _, _, _, _, _)
        if a.resolved && upsertOf(r).isDefined =>
      val (keys, seqFields) = upsertOf(r).get
      val source =
        if (seqFields.nonEmpty) dedupBySequence(a.query, keys, seqFields)
        else a.query
      val cond = keys.map(k =>
        EqualNullSafe(out(r.output, k), out(source.output, k))).reduce[Expression](And)
      // LEXICOGRAPHIC stale guard via struct comparison: with multiple
      // sequence fields, a per-field AND would freeze rows on mixed
      // comparisons — stored (1,5) vs incoming (2,1) must UPDATE
      // (field 1 decides), but `1<=2 AND 5<=1` says no. Struct
      // ordering compares the fields in order and treats null
      // components as smallest, so a stored row with a NULL sequence
      // stays updatable — bare `target.seq <= source.seq` would be
      // NULL for it, freezing the row forever (the reference rewrite
      // shares that hostility; diverging is a deliberate correctness
      // choice, and the null-component semantics match MergeEngine's
      // struct max). Without sequence.field the batch is NOT
      // deduplicated (reference parity): several versions of one key
      // in one INSERT raise Spark's MERGE cardinality error.
      val updateCond =
        if (seqFields.isEmpty) None
        else Some(LessThanOrEqual(
          CreateStruct(seqFields.map(s => out(r.output, s))),
          CreateStruct(seqFields.map(s => out(source.output, s))))
          .asInstanceOf[Expression])
      val assignments = r.output.zip(source.output).map { case (t, s2) =>
        Assignment(t, s2)
      }
      MergeIntoTable(r, source, cond,
        matchedActions = Seq(UpdateAction(updateCond, assignments)),
        notMatchedActions = Seq(InsertAction(None, assignments)),
        notMatchedBySourceActions = Seq.empty,
        withSchemaEvolution = false)
  }
}

/** Pre-resolution conversion of view DDL + view-read substitution. */
case class GraftViewRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** parts → (catalog, ident) when the name targets a GraftCatalog.
    * Mirrors Spark's CatalogAndIdentifier precedence: an explicit
    * leading catalog name wins; otherwise the current catalog + current
    * namespace apply. */
  private def graftIdent(parts: Seq[String]): Option[(GraftCatalog, Identifier)] = {
    val cm = spark.sessionState.catalogManager
    def asGraft(name: String): Option[GraftCatalog] =
      try cm.catalog(name) match {
        case g: GraftCatalog => Some(g)
        case _ => None
      } catch { case _: Exception => None }
    // global temp views always belong to the session catalog — a
    // graft current catalog must not capture `global_temp.v`
    if (parts.headOption.contains(
        spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.StaticSQLConf.GLOBAL_TEMP_DATABASE)))
      return None
    if (parts.length >= 2) {
      asGraft(parts.head)
        .map(g => (g, Identifier.of(parts.tail.dropRight(1).toArray, parts.last)))
        .orElse {
          cm.currentCatalog match {
            case g: GraftCatalog =>
              Some((g, Identifier.of(parts.dropRight(1).toArray, parts.last)))
            case _ => None
          }
        }
    } else if (parts.length == 1) {
      cm.currentCatalog match {
        // bare names: session temp views take precedence, as in Spark
        case g: GraftCatalog
            if spark.sessionState.catalog.getTempView(parts.head).isEmpty =>
          Some((g, Identifier.of(cm.currentNamespace, parts.head)))
        case _ => None
      }
    } else None
  }

  /** namespace parts → (catalog, namespace): explicit leading catalog
    * name wins, else the current catalog if it is a GraftCatalog. */
  private def graftNamespace(parts: Seq[String]): Option[(GraftCatalog, Array[String])] = {
    val cm = spark.sessionState.catalogManager
    val explicit =
      if (parts.isEmpty) None
      else try cm.catalog(parts.head) match {
        case g: GraftCatalog => Some((g, parts.tail.toArray))
        case _ => None
      } catch { case _: Exception => None }
    explicit.orElse {
      cm.currentCatalog match {
        case g: GraftCatalog => Some((g, parts.toArray))
        case _ => None
      }
    }
  }

  /** parts → (catalog, ident) only when a stored view exists there. */
  private def existingView(parts: Seq[String]): Option[(GraftCatalog, Identifier)] =
    graftIdent(parts).filter { case (g, id) => g.viewExists(id) }

  /** Stored view → SubqueryAlias(Project(stored-schema casts, parsed
    * text)) (reference: PaimonViewResolver.createViewRelation — the
    * frozen schema is re-imposed positionally over the re-parsed query
    * so later base-table widenings can't silently change the view's
    * types). */
  private def viewRelation(parts: Seq[String], g: GraftCatalog, id: Identifier): LogicalPlan = {
    val v = g.loadView(id)
    // Spark's CTESubstitution batch already ran before this rule fires,
    // so WITH-clauses inside the re-parsed view text must be
    // substituted here or their names would resolve as tables
    val parsed = org.apache.spark.sql.catalyst.analysis.CTESubstitution(
      spark.sessionState.sqlParser.parsePlan(v.query))
    val aliases = v.schema.fields.zipWithIndex.map { case (f, i) =>
      Alias(UpCast(GetColumnByOrdinal(i, f.dataType), f.dataType), f.name)()
    }.toSeq
    SubqueryAlias(parts, Project(aliases, qualifyToDefinitionContext(parsed, v)))
  }

  /** Re-qualify unqualified relation names in the re-parsed view text
    * against the view's STORED currentCatalog/currentNamespace, so a
    * reader in a different namespace resolves the same tables the
    * creator did (standard view semantics; the reference persists the
    * context in ViewImpl for exactly this). Names bound by CTEs inside
    * the view text and session temp views stay untouched. */
  private def qualifyToDefinitionContext(
      parsed: LogicalPlan,
      v: org.apache.spark.sql.connector.catalog.View): LogicalPlan = {
    val defCat = Option(v.currentCatalog).filter(_.nonEmpty)
    if (defCat.isEmpty) return parsed
    val defNs = v.currentNamespace.toSeq
    val cteNames = parsed.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    val globalDb = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.StaticSQLConf.GLOBAL_TEMP_DATABASE)
    def isCatalogName(n: String): Boolean =
      try { spark.sessionState.catalogManager.catalog(n); true }
      catch { case _: Exception => false }
    parsed.transformDownWithSubqueries {
      case u @ UnresolvedRelation(ps, _, _) =>
        val q: Option[Seq[String]] = ps match {
          case Seq(t) if !cteNames.contains(t.toLowerCase) &&
              spark.sessionState.catalog.getTempView(t).isEmpty =>
            Some(defCat.get +: (defNs :+ t))
          case Seq(db, t) if db != globalDb && !isCatalogName(db) =>
            Some(Seq(defCat.get, db, t))
          case _ => None
        }
        q.map(np => u.copy(multipartIdentifier = np)).getOrElse(u)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    // ---- reads: substitute stored views for unresolved relations
    case u @ UnresolvedRelation(parts, _, isStreaming) if !isStreaming =>
      existingView(parts)
        .map { case (g, id) => viewRelation(parts, g, id) }
        .getOrElse(u)

    // ---- DDL
    case c @ CreateView(UnresolvedIdentifier(parts, _), userCols, comment, _,
        props, originalText, _, allowExisting, replace, _) =>
      graftIdent(parts).map { case (g, id) =>
        GraftCreateViewCommand(g, id, originalText.getOrElse(
          throw new IllegalArgumentException("CREATE VIEW requires SQL text")),
          userCols.map { case (n, cmt) => (n, cmt.orNull) },
          comment.orNull, props, allowExisting, replace)
      }.getOrElse(c)

    case d @ DropView(UnresolvedIdentifier(parts, _), ifExists) =>
      graftIdent(parts).map { case (g, id) =>
        GraftDropViewCommand(g, id, ifExists)
      }.getOrElse(d)

    case s @ ShowViews(UnresolvedNamespace(parts, _), pattern, output) =>
      graftNamespace(parts).map { case (g, ns) =>
        GraftShowViewsCommand(g, ns, pattern, output)
      }.getOrElse(s)

    case s @ ShowViews(org.apache.spark.sql.catalyst.analysis.CurrentNamespace, pattern, output) =>
      spark.sessionState.catalogManager.currentCatalog match {
        case g: GraftCatalog =>
          GraftShowViewsCommand(g,
            spark.sessionState.catalogManager.currentNamespace, pattern, output)
        case _ => s
      }

    case p @ SetViewProperties(UnresolvedView(parts, _, _, _), props) =>
      existingView(parts).map { case (g, id) =>
        GraftAlterViewPropsCommand(g, id, set = props, unset = Nil)
      }.getOrElse(p)

    case p @ UnsetViewProperties(UnresolvedView(parts, _, _, _), keys, _) =>
      existingView(parts).map { case (g, id) =>
        GraftAlterViewPropsCommand(g, id, set = Map.empty, unset = keys)
      }.getOrElse(p)

    case a @ AlterViewAs(UnresolvedView(parts, _, _, _), originalText, _) =>
      existingView(parts).map { case (g, id) =>
        GraftAlterViewAsCommand(g, id, originalText)
      }.getOrElse(a)

    case r @ RenameTable(UnresolvedTableOrView(parts, _, _), newName, true) =>
      existingView(parts).map { case (g, id) =>
        val toId = graftIdent(newName).map(_._2).getOrElse(
          Identifier.of(id.namespace(), newName.last))
        GraftRenameViewCommand(g, id, toId)
      }.getOrElse(r)
  }
}

// ---- logical commands (eagerly executed: they extend Command) --------

case class GraftCreateViewCommand(
    catalog: GraftCatalog, ident: Identifier, sql: String,
    userCols: Seq[(String, String)], comment: String,
    props: Map[String, String], allowExisting: Boolean, replace: Boolean)
  extends LeafCommand {
  override def output: Seq[Attribute] = Nil
}

case class GraftDropViewCommand(
    catalog: GraftCatalog, ident: Identifier, ifExists: Boolean)
  extends LeafCommand {
  override def output: Seq[Attribute] = Nil
}

case class GraftShowViewsCommand(
    catalog: GraftCatalog, namespace: Array[String],
    pattern: Option[String], override val output: Seq[Attribute])
  extends LeafCommand

case class GraftAlterViewPropsCommand(
    catalog: GraftCatalog, ident: Identifier,
    set: Map[String, String], unset: Seq[String])
  extends LeafCommand {
  override def output: Seq[Attribute] = Nil
}

case class GraftAlterViewAsCommand(
    catalog: GraftCatalog, ident: Identifier, sql: String)
  extends LeafCommand {
  override def output: Seq[Attribute] = Nil
}

case class GraftRenameViewCommand(
    catalog: GraftCatalog, from: Identifier, to: Identifier)
  extends LeafCommand {
  override def output: Seq[Attribute] = Nil
}

// ---- physical execution ----------------------------------------------

case class GraftViewStrategy(spark: SparkSession) extends SparkStrategy {

  /** Analyze (without executing) the view text to freeze its schema. */
  private def analyzedSchema(sql: String): StructType =
    spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(sql)).analyzed.schema

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftCreateViewCommand =>
      GraftViewExec(Nil, () => {
        val wh = c.catalog.warehousePath
        if (GraftViews.exists(wh, c.ident) && c.allowExisting) Nil
        else {
          val base = analyzedSchema(c.sql)
          require(c.userCols.isEmpty || c.userCols.length == base.fields.length,
            s"view column list has ${c.userCols.length} names for " +
              s"${base.fields.length} query columns")
          // user column list renames positionally; comments ride along
          val schema = if (c.userCols.isEmpty) base
            else StructType(base.fields.zip(c.userCols).map {
              case (f, (n, _)) => f.copy(name = n) })
          val cm = spark.sessionState.catalogManager
          val props = new java.util.HashMap[String, String]()
          c.props.foreach { case (k, v) => props.put(k, v) }
          if (c.comment != null) props.put("comment", c.comment)
          val info = new ViewInfo(c.ident, c.sql, cm.currentCatalog.name(),
            cm.currentNamespace, schema,
            base.fields.map(_.name), c.userCols.map(_._1).toArray,
            c.userCols.map(_._2).toArray, props)
          if (c.replace) c.catalog.replaceView(info, orCreate = true)
          else c.catalog.createView(info)
          Nil
        }
      }) :: Nil

    case d: GraftDropViewCommand =>
      GraftViewExec(Nil, () => {
        if (!d.catalog.dropView(d.ident) && !d.ifExists)
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(d.ident)
        Nil
      }) :: Nil

    case s: GraftShowViewsCommand =>
      GraftViewExec(s.output, () => {
        val ns = s.namespace.mkString(".")
        s.catalog.listViews(s.namespace.toIndexedSeq: _*)
          .filter(id => s.pattern.forall(p =>
            org.apache.spark.sql.catalyst.util.StringUtils
              .filterPattern(Seq(id.name()), p).nonEmpty))
          .sortBy(_.name())
          .map(id => InternalRow(
            UTF8String.fromString(ns), UTF8String.fromString(id.name()), false))
          .toIndexedSeq
      }) :: Nil

    case p: GraftAlterViewPropsCommand =>
      GraftViewExec(Nil, () => {
        import org.apache.spark.sql.connector.catalog.ViewChange
        val changes: Seq[ViewChange] =
          p.set.map { case (k, v) => ViewChange.setProperty(k, v) }.toSeq ++
            p.unset.map(ViewChange.removeProperty)
        p.catalog.alterView(p.ident, changes: _*)
        Nil
      }) :: Nil

    case a: GraftAlterViewAsCommand =>
      GraftViewExec(Nil, () => {
        val old = a.catalog.loadView(a.ident)
        val info = new ViewInfo(a.ident, a.sql, old.currentCatalog,
          old.currentNamespace, analyzedSchema(a.sql),
          Array.empty, Array.empty, Array.empty, old.properties)
        a.catalog.replaceView(info, orCreate = false)
        Nil
      }) :: Nil

    case r: GraftRenameViewCommand =>
      GraftViewExec(Nil, () => { r.catalog.renameView(r.from, r.to); Nil }) :: Nil

    case _ => Nil
  }
}

/** Driver-local command exec (same shape as Spark's V2CommandExec:
  * rows computed once on the driver, parallelized only if a downstream
  * operator genuinely executes the plan). */
case class GraftViewExec(
    override val output: Seq[Attribute],
    run: () => Seq[InternalRow]) extends org.apache.spark.sql.execution.LeafExecNode {

  private lazy val result: Seq[InternalRow] = run()

  override def executeCollect(): Array[InternalRow] = result.toArray

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(result, 1)
}
