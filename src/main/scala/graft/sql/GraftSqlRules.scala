package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{ResolvedIdentifier, TableAlreadyExistsException, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualNullSafe, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{InsertIntoDataSourceCommand, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.merge.{MergeSink, TxTable}

/** Analyzer rule wiring the catalog's inert [[GraftSqlTable]] descriptors
  * to real plans — the V1-fallback design (the shape Delta shipped with
  * for years): analysis resolves names through [[GraftCatalog]], then this
  * rule substitutes
  *
  *  - reads: `DataSourceV2Relation(GraftSqlTable)` → a `LogicalRelation`
  *    over [[GraftFileIndex]] (stock vectorized parquet scan; log-level
  *    skipping + partition pruning live in the index). Output attribute
  *    ids are preserved via an aliasing Project, so references already
  *    resolved upstream keep binding;
  *  - `INSERT INTO` / `INSERT OVERWRITE`: the aligned `AppendData` /
  *    `OverwriteByExpression` → Spark's own `InsertIntoDataSourceCommand`
  *    over [[GraftInsertableRelation]] (append / atomic replace commits —
  *    column alignment and casts were already done by the analyzer's
  *    output resolution, exactly as for any V2 table);
  *  - CTAS / RTAS: one atomic first-commit insert;
  *  - `DELETE FROM` / `UPDATE`: [[TxTable.deleteWhere]] /
  *    [[TxTable.updateWhere]] — copy-on-write row-level rewrites, commit-
  *    log atomic, O(matching files).
  *
  * The recursion is manual (not `resolveOperators`) because a DML node's
  * relation child must NOT be swapped before the statement converts —
  * once the child is a `LogicalRelation` the statement can no longer find
  * its TxTable. A not-yet-ready DML node is left whole for a later
  * fixpoint iteration. */
final case class GraftSqlRules(session: SparkSession) extends Rule[LogicalPlan] {

  GraftSqlRules.registerInstalled(session)

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  /** The GraftSqlTable under `p`, looking through subquery aliases. */
  private def tableOf(p: LogicalPlan): Option[GraftSqlTable] = p match {
    case SubqueryAlias(_, child) => tableOf(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable => Some(t)
      case _ => None
    }
    case _ => None
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case a: AppendData if tableOf(a.table).isDefined =>
      if (a.query.resolved && a.outputResolved)
        insertCommand(tableOf(a.table).get, rewrite(a.query), overwrite = false)
      else a // wait for output alignment; convert in a later iteration

    case o: OverwriteByExpression if tableOf(o.table).isDefined =>
      if (o.query.resolved && o.outputResolved) {
        require(o.deleteExpr == Literal.TrueLiteral,
          "graft INSERT OVERWRITE replaces the whole table; for partition-" +
            "scoped overwrite SET spark.sql.sources.partitionOverwriteMode=" +
            "dynamic (or use the API's replacePartitionsBy)")
        insertCommand(tableOf(o.table).get, rewrite(o.query), overwrite = true)
      } else o

    // dynamic INSERT OVERWRITE: atomically swap exactly the partition
    // fragments present in the query result — untouched partitions' files
    // are never rewritten or moved (the replacePartitionsBy contract);
    // the layout guard inside refuses a granularity mismatch loudly
    case o: OverwritePartitionsDynamic if tableOf(o.table).isDefined =>
      if (o.query.resolved && o.outputResolved) {
        val t = tableOf(o.table).get
        requireNoAsOf(t, "INSERT OVERWRITE (dynamic)")
        require(t.partCols.nonEmpty,
          "dynamic INSERT OVERWRITE targets a partitioned table; this " +
            "graft table is unpartitioned — plain INSERT OVERWRITE " +
            "replaces it atomically")
        GraftDynamicOverwriteCommand(t.dir, rewrite(o.query),
          t.partCols, t.schema().fieldNames.toSeq)
      } else o

    case d: DeleteFromTable if tableOf(d.table).isDefined =>
      if (d.condition.resolved) {
        val t = tableOf(d.table).get
        requireNoAsOf(t, "DELETE")
        GraftDeleteCommand(t.dir, condSql(d.condition, "DELETE"))
      } else d

    case u: UpdateTable if tableOf(u.table).isDefined =>
      if (u.assignments.forall(_.resolved) && u.condition.forall(_.resolved)) {
        val t = tableOf(u.table).get
        requireNoAsOf(t, "UPDATE")
        val sets = u.assignments.map { as =>
          val name = as.key match {
            case a: AttributeReference => a.name
            case other => throw new UnsupportedOperationException(
              s"UPDATE of nested field ${other.sql} is not supported")
          }
          name -> condSql(as.value, "UPDATE")
        }
        GraftUpdateCommand(t.dir,
          u.condition.map(condSql(_, "UPDATE")).getOrElse("true"), sets)
      } else u

    case m: MergeIntoTable if tableOf(m.targetTable).isDefined =>
      if (m.resolved) {
        val t = tableOf(m.targetTable).get
        requireNoAsOf(t, "MERGE")
        convertMerge(m, t)
      } else m

    case c: CreateTableAsSelect => c.name match {
      case ResolvedIdentifier(cat: GraftCatalog, ident) if c.query.resolved =>
        val dir = cat.tableDir(ident)
        // '@' addressing resolves into _graft_branches/: a CTAS through it
        // would fabricate a branch-shaped table with no graft.branch.base
        // (same guard as GraftCatalog.createTable; branches come from
        // CALL graft.system.create_branch)
        require(!ident.name().contains("@") || TxTable.exists(session, dir),
          s"cannot CREATE TABLE ${ident.name()}: '@' names a branch ref " +
            "(use CALL graft.system.create_branch to open one)")
        if (TxTable.exists(session, dir)) {
          if (c.ignoreIfExists) LocalRelation(Nil)
          else throw new TableAlreadyExistsException(
            (cat.name() +: ident.namespace().toSeq :+ ident.name()))
        } else
          InsertIntoDataSourceCommand(
            LogicalRelation(GraftInsertableRelation(dir, c.query.schema,
              identityPartCols(c.partitioning),
              tableSpecProps(c.tableSpec) ++ bucketPropOf(c.partitioning))),
            rewrite(c.query), overwrite = true)
      case _ => c.mapChildren(rewrite)
    }

    case r: ReplaceTableAsSelect => r.name match {
      case ResolvedIdentifier(cat: GraftCatalog, ident) if r.query.resolved =>
        val dir = cat.tableDir(ident)
        require(r.orCreate || TxTable.exists(session, dir),
          s"REPLACE TABLE: no table at $dir (use CREATE OR REPLACE)")
        // OR CREATE must not fabricate a branch dir either (replacing an
        // EXISTING branch's contents stays legal — it has a real base)
        require(!ident.name().contains("@") || TxTable.exists(session, dir),
          s"cannot CREATE TABLE ${ident.name()}: '@' names a branch ref " +
            "(use CALL graft.system.create_branch to open one)")
        InsertIntoDataSourceCommand(
          LogicalRelation(GraftInsertableRelation(dir, r.query.schema,
            identityPartCols(r.partitioning),
            tableSpecProps(r.tableSpec) ++ bucketPropOf(r.partitioning))),
          rewrite(r.query), overwrite = true)
      case _ => r.mapChildren(rewrite)
    }

    case r: DataSourceV2Relation if tableOf(r).isDefined =>
      swapToV1(r, tableOf(r).get)

    // `spark.read.format("graft")` planted its row-materializing V1
    // fallback for a DV'd or column-mapped table (GraftDataSource can only
    // return a BaseRelation). On a session with the graft extensions,
    // swap it for the same machinery the catalog path uses: clean files on
    // the stock vectorized GraftFileIndex relation, only DV'd files through
    // the position anti-join, renames as a Project over the physical scan —
    // so the reader API and the SQL front door plan identically. Sessions
    // without the extensions keep the correct (slower) fallback.
    case l: LogicalRelation if l.relation.isInstanceOf[GraftDvScanRelation] =>
      val rel = l.relation.asInstanceOf[GraftDvScanRelation]
      republish(l.output, swappedRead(rel.dir, rel.asOf))

    // `spark.readStream.table("graft.db.t")` — swap the catalog-resolved
    // V2 streaming descriptor onto the V1 GraftStreamSource path (the
    // same source format("graft") plants), output ids preserved
    case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
        if r.table.isInstanceOf[GraftSqlTable] =>
      val t = r.table.asInstanceOf[GraftSqlTable]
      requireNoAsOf(t, "streaming read")
      import scala.jdk.CollectionConverters._
      val opts = r.extraOptions.asScala.toMap
      require(!opts.get("mode").contains("cdc"),
        "cdc-mode streams carry extra columns the catalog table does not " +
          "declare — use spark.readStream.format(\"graft\") with the path")
      val v1 = org.apache.spark.sql.graftbridge.GraftBridge
        .v1StreamingRelation(session, "graft", opts + ("path" -> t.dir))
      val caseSensitive =
        session.conf.get("spark.sql.caseSensitive", "false").toBoolean
      def sameName(a: String, b: String) =
        if (caseSensitive) a == b else a.equalsIgnoreCase(b)
      Project(r.output.map { o =>
        val src = v1.output.find(a => sameName(a.name, o.name)).getOrElse(
          throw new IllegalStateException(
            s"column '${o.name}' missing from the stream schema of ${t.dir}"))
        Alias(src, o.name)(exprId = o.exprId)
      }, v1)

    // time travel over a persistent view is undefined — the view is SQL
    // text, not a versioned object; refuse loudly before expansion
    case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
      tt.relation match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
            if graftView(u.multipartIdentifier).isDefined =>
          throw new UnsupportedOperationException(
            s"VERSION/TIMESTAMP AS OF over view " +
              s"${u.multipartIdentifier.mkString(".")} is undefined — " +
              "views are SQL text, not versioned tables; time-travel the " +
              "underlying table(s) inside the view definition instead")
        case _ => tt.mapChildren(rewrite)
      }

    // persistent-view reads: an unresolved relation naming a stored graft
    // view expands to its re-parsed defining text (so it tracks table
    // changes like any SQL view); nested view references expand in the
    // same pass, with a cycle guard. Spark's ResolveRelations never
    // resolves these names (loadTable misses), so they reach this rule
    // still unresolved.
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
        if graftView(u.multipartIdentifier).isDefined =>
      expandView(u.multipartIdentifier, graftView(u.multipartIdentifier).get)

    case other =>
      other.mapChildren(rewrite).transformExpressionsDown {
        case se: SubqueryExpression => se.withNewPlan(rewrite(se.plan))
      }
  }

  /** The stored graft view a multipart name addresses (None when the
    * leading part is not a graft catalog or no view file exists). */
  private def graftView(parts: Seq[String])
      : Option[org.apache.spark.sql.connector.catalog.View] = {
    if (parts.length < 2) return None
    val cat = try session.sessionState.catalogManager.catalog(parts.head)
      catch { case _: Exception => return None }
    cat match {
      case g: GraftCatalog =>
        val ident = org.apache.spark.sql.connector.catalog.Identifier
          .of(parts.tail.init.toArray, parts.last)
        if (g.viewExists(ident)) Some(g.loadView(ident)) else None
      case _ => None
    }
  }

  /** Views currently being expanded on this thread — a self- (or mutually-)
    * referencing view definition must fail, not loop the analyzer. */
  private val expanding = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private def expandView(parts: Seq[String],
      v: org.apache.spark.sql.connector.catalog.View): LogicalPlan = {
    val key = parts.mkString(".")
    require(!expanding.get().contains(key),
      s"recursive view definition: $key references itself " +
        s"(expansion chain: ${expanding.get().mkString(" -> ")} -> $key)")
    expanding.set(expanding.get() + key)
    try {
      val parsed = session.sessionState.sqlParser.parsePlan(v.query)
      // the analyzer's Substitution batch already ran by the time this
      // rule injects the body, so a WITH clause inside it would never
      // substitute — apply CTE substitution to the fresh subtree here
      val afterCte = org.apache.spark.sql.catalyst.analysis
        .CTESubstitution(parsed)
      // SQL-standard view semantics: RELATIVE names in the body bind to
      // the view's CREATION context (stored at CREATE), not whatever
      // catalog/namespace the reader happens to be in. Names already
      // carrying a catalog stay; CTE references were substituted above so
      // they can't be mis-qualified.
      def isCatalog(n: String): Boolean =
        try { session.sessionState.catalogManager.catalog(n); true }
        catch { case _: Throwable => false }
      val qualified = afterCte.transformDownWithSubqueries {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          val p = u.multipartIdentifier
          val np =
            if (p.length == 1)
              (v.currentCatalog +: v.currentNamespace.toSeq) :+ p.head
            else if (p.length == 2 && !isCatalog(p.head))
              v.currentCatalog +: p
            else p
          if (np == p) u else u.copy(multipartIdentifier = np)
      }
      SubqueryAlias(parts.last, rewrite(qualified))
    } finally expanding.set(expanding.get() - key)
  }

  /** TBLPROPERTIES declared on a CTAS/RTAS statement. */
  private def tableSpecProps(spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase): Map[String, String] =
    spec match {
      case ts: org.apache.spark.sql.catalyst.plans.logical.TableSpec =>
        ts.properties
      case ts: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
        ts.properties
      case _ => Map.empty
    }

  /** bucket(N, col) transform of a CTAS PARTITIONED BY clause, as the
    * graft.bucket statement property (see [[TxTable.bucketSpec]]). */
  private def bucketPropOf(partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform]): Map[String, String] =
    partitioning.filter(_.name == "bucket") match {
      case Seq() => Map.empty
      case Seq(t) =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform carries no bucket count: $t"))
        Map("graft.bucket" ->
          s"$n:${t.references()(0).fieldNames().mkString(".")}")
      case many => throw new IllegalArgumentException(
        s"at most one bucket(...) transform is supported, got ${many.length}")
    }

  private def identityPartCols(partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform]): Seq[String] =
    partitioning.filterNot(_.name == "bucket").map { t =>
      require(t.name == "identity",
        s"graft tables support identity and bucket partitioning only, got $t")
      t.references()(0).fieldNames().mkString(".")
    }

  private def requireNoAsOf(t: GraftSqlTable, op: String): Unit =
    require(t.asOf.isEmpty, s"$op against a time-travelled snapshot is " +
      "meaningless — target the table head")

  /** Read swap. The Project re-publishes the relation's columns under the
    * ORIGINAL output ids so upstream resolved references keep binding.
    * [[GraftSql.dataFrame]] decides the scan shape: one stock relation for
    * clean tables, clean-relation ∪ deletion-vector-branch otherwise.
    *
    * If the table has been `ANALYZE`d, the persisted stats attach to the
    * scan as catalog statistics, so plan estimation (broadcast-vs-shuffle,
    * CBO join sizing) runs on the measured live row count and byte size
    * instead of fileSize × compressionFactor defaults. Clean tables only:
    * a DV'd live set splits into two branches and whole-table stats would
    * misattribute (purge_dvs restores the clean shape and the stats). */
  private def swapToV1(r: DataSourceV2Relation, t: GraftSqlTable): LogicalPlan =
    republish(r.output, swappedRead(t.dir, t.asOf))

  /** The swapped read plan for a table snapshot, ANALYZE stats attached.
    * A clean table carries the whole-table stats (rows, bytes, column
    * stats) on its single GraftFileIndex relation. A DV'd table splits
    * into clean ∪ anti-join branches, so whole-table stats would
    * misattribute; instead the per-branch split [[TxTable.analyze]]
    * persists attaches separately — clean-file stats (with column stats,
    * whose bounds stay valid for any subset of the rows) on the clean
    * relation, DV'd-file LIVE stats distributed over the anti-join
    * branch's data-batch relations proportional to their file bytes. The
    * tables most actively churned by MoR deletes — exactly the ones a CDC
    * pipeline joins — keep measured join estimates instead of falling back
    * to size defaults until purge_dvs runs. */
  private def swappedRead(dir: String, asOf: Option[Long]): LogicalPlan = {
    val lr0 = GraftBridge.analyzed(GraftSql.dataFrame(session, dir, asOf))
    if (!TxTable.hasLiveDvs(session, dir, asOf))
      TxTable.catalogStats(session, dir, asOf) match {
        case Some(cs) => attachCleanStats(lr0, dir, cs)
        case None => lr0
      }
    else TxTable.catalogStatsSplit(session, dir, asOf) match {
      case Some((cleanCs, dvRows, dvBytes)) =>
        attachDvStats(attachCleanStats(lr0, dir, cleanCs), dir,
          dvRows, dvBytes)
      case None => lr0
    }
  }

  /** Re-publish `lr`'s columns under the caller's ORIGINAL output ids so
    * upstream resolved references keep binding. */
  private def republish(output: Seq[Attribute], lr: LogicalPlan): LogicalPlan = {
    val caseSensitive =
      session.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def sameName(a: String, b: String) =
      if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    val aliases: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
      output.map { o =>
        val src = lr.output.find(a => sameName(a.name, o.name)).getOrElse(
          throw new IllegalStateException(
            s"column '${o.name}' vanished between resolution and planning " +
              "— concurrent schema change?"))
        Alias(src, o.name)(exprId = o.exprId)
      }
    Project(aliases, lr)
  }

  /** Attach `cs` to the (single) GraftFileIndex relation over `dir`. */
  private def attachCleanStats(plan: LogicalPlan, dir: String,
      cs: org.apache.spark.sql.catalyst.catalog.CatalogStatistics): LogicalPlan =
    plan.transform {
      case l: LogicalRelation if l.catalogTable.isEmpty &&
          (l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location match {
                case g: GraftFileIndex => g.dir == dir
                case _ => false
              }
            case _ => false
          }) =>
        l.copy(catalogTable = Some(statsCatalogTable(dir, l.relation.schema, cs)))
    }

  /** Distribute the DV'd files' LIVE stats over the anti-join branch's
    * data-batch relations (stock parquet reads of the DV'd files), weighted
    * by each relation's actual file bytes. Sidecar reads (`data/dv-*`) keep
    * their own tiny defaults. Estimation then sees live-adjusted sizes:
    * the anti join passes its left side's estimate through, and the union
    * sums to ≈ the table's measured live size. */
  private def attachDvStats(plan: LogicalPlan, dir: String,
                            dvRows: Long, dvBytes: Long): LogicalPlan = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
    val dirQ = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(session.sparkContext.hadoopConfiguration)
      fs.makeQualified(p).toString + "/"
    }
    def dataBatchRel(l: LogicalRelation): Option[HadoopFsRelation] =
      l.relation match {
        case h: HadoopFsRelation if !h.location.isInstanceOf[GraftFileIndex] &&
            h.location.rootPaths.nonEmpty &&
            h.location.rootPaths.forall { rp =>
              val s = rp.toString
              s.startsWith(dirQ) && !s.contains("/dv-")
            } => Some(h)
        case _ => None
      }
    val weights = plan.collect {
      case l: LogicalRelation if l.catalogTable.isEmpty &&
          dataBatchRel(l).isDefined =>
        l -> dataBatchRel(l).get.location.sizeInBytes
    }
    val total = math.max(1L, weights.map(_._2).sum).toDouble
    val statsFor = weights.map { case (l, b) =>
      val w = b / total
      l -> CatalogStatistics(
        sizeInBytes = BigInt(math.max(1L, math.round(dvBytes * w))),
        rowCount = Some(BigInt(math.max(0L, math.round(dvRows * w)))))
    }.toMap
    plan.transform {
      case l: LogicalRelation if statsFor.contains(l) =>
        l.copy(catalogTable =
          Some(statsCatalogTable(dir, l.relation.schema, statsFor(l))))
    }
  }

  /** Minimal CatalogTable vehicle for the ANALYZE stats —
    * LogicalRelation.computeStats reads ONLY `.stats` from it; identity
    * and storage exist to satisfy the case-class contract. */
  private def statsCatalogTable(dir: String, schema: org.apache.spark.sql.types.StructType,
      cs: org.apache.spark.sql.catalyst.catalog.CatalogStatistics)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        new org.apache.hadoop.fs.Path(dir).getName),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(dir).toUri)),
      schema = schema,
      provider = Some("parquet"),
      stats = Some(cs))
  }

  private def insertCommand(t: GraftSqlTable, query: LogicalPlan,
                            overwrite: Boolean): LogicalPlan =
    InsertIntoDataSourceCommand(
      LogicalRelation(GraftInsertableRelation(t.dir, t.schema(), t.partCols)),
      query, overwrite)

  /** Re-render a resolved condition/assignment expression as SQL text the
    * rewrite engine re-resolves against the bare table (qualifiers point
    * at the SQL alias, which doesn't exist there — strip to bare names).
    * Subqueries don't round-trip through text; refuse loudly. */
  private def condSql(cond: Expression, op: String): String = {
    require(!cond.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft $op with subqueries in the condition is not supported — " +
        "materialize the subquery or use the TxTable API")
    cond.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    }.sql
  }

  // ------------------------------------------------------------ MERGE INTO

  /** `MERGE INTO graft.db.t t USING src s ON t.k = s.k WHEN ...` → one
    * [[MergeSink.mergeIntoTx]] commit (single full-outer hash join on the
    * keys, OCC replace). The supported subset is the tri-clause algebra
    * that engine implements:
    *
    *  - ON: a conjunction of `t.<key> = s.<col>` equalities;
    *  - WHEN MATCHED [AND c] THEN DELETE, and/or an UNconditioned
    *    WHEN MATCHED THEN UPDATE SET (the engine tests delete first, so a
    *    delete clause must precede the update clause, as CDC merges
    *    write them);
    *  - WHEN NOT MATCHED [AND c] THEN INSERT;
    *  - WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE.
    *
    * UPDATE/INSERT values are expressions over the SOURCE row (the
    * `s.col`, literal, and computed forms); referencing the target row in
    * a SET value, a conditioned UPDATE, or multiple clauses of one kind
    * fail loudly — use the TxTable API for those shapes. Values are cast
    * to the target column's type; a column the statement doesn't set
    * rides as a typed NULL (insert) / keeps its target value (update),
    * the standard MERGE semantics. */
  private def convertMerge(m: MergeIntoTable, t: GraftSqlTable): LogicalPlan = {
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft MERGE: $what is not supported — use the TxTable/MergeSink API")
    // WITH SCHEMA EVOLUTION needs no handling HERE: when the table opted
    // in (graft.merge.schemaEvolution=true ⇒ AUTOMATIC_SCHEMA_EVOLUTION
    // capability), Spark's ResolveMergeIntoSchemaEvolution already applied
    // the source-vs-target delta through GraftCatalog.alterTable (the
    // metadata-only ADD COLUMNS / type-widening path) before this rule
    // sees the resolved merge; without the opt-in, resolution fails on the
    // unknown column with Spark's own error.
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // ON clause → (target key, source column) pairs
    val keyPairs: Seq[(String, String)] = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) => (a.name, b.name)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) => (a.name, b.name)
      case EqualNullSafe(a: AttributeReference, b: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) => (a.name, b.name)
      case EqualNullSafe(b: AttributeReference, a: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) => (a.name, b.name)
      case other => unsupported(
        s"non-equi ON condition ${other.sql} (need t.<key> = s.<col> conjuncts)")
    }
    val keys = keyPairs.map(_._1)
    require(keys.distinct.size == keys.size,
      s"graft MERGE: duplicate target key in ON clause: $keys")

    /** Source-side expression rendered with bare names (resolved against
      * the projected source df). Target references are illegal here. */
    def srcSql(e: Expression, where: String): String = {
      require(!e.exists(_.isInstanceOf[SubqueryExpression]),
        s"graft MERGE: subquery in $where is not supported")
      e.transform {
        case a: AttributeReference if sOut.contains(a) =>
          UnresolvedAttribute(Seq(a.name))
        case a: AttributeReference if tOut.contains(a) =>
          unsupported(s"target column ${a.name} referenced in $where " +
            "(values must be computable from the source row)")
      }.sql
    }
    /** Source attribute names any joined-row condition references — these
      * must survive into the projected source under their own names. */
    val condSrcAttrs = scala.collection.mutable.LinkedHashSet.empty[String]
    /** Joined-row condition rendered over the t/s aliases mergeInto uses. */
    def joinedSql(e: Expression, where: String): String = {
      require(!e.exists(_.isInstanceOf[SubqueryExpression]),
        s"graft MERGE: subquery in $where is not supported")
      e.transform {
        case a: AttributeReference if tOut.contains(a) =>
          UnresolvedAttribute(Seq("t", a.name))
        case a: AttributeReference if sOut.contains(a) =>
          condSrcAttrs += a.name
          UnresolvedAttribute(Seq("s", a.name))
      }.sql
    }

    /** (target column, rendered value expr, Some(srcAttr) when the value
      * is exactly a bare source column). */
    def assignMap(as: Seq[Assignment],
                  where: String): Seq[(String, String, Option[String])] =
      as.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => unsupported(s"nested-field assignment ${other.sql}")
        }
        val bare = a.value match {
          case ar: AttributeReference if sOut.contains(ar) => Some(ar.name)
          case _ => None
        }
        (name, srcSql(a.value, where), bare)
      }

    // clause inventory (one of each kind; delete-before-update on match)
    var updateSets: Option[Seq[(String, String, Option[String])]] = None
    var matchedDelete: Option[Option[String]] = None
    m.matchedActions.foreach {
      case UpdateAction(cond, as, _) =>
        if (updateSets.isDefined) unsupported("two WHEN MATCHED UPDATE clauses")
        if (cond.isDefined) unsupported("a conditioned WHEN MATCHED UPDATE")
        updateSets = Some(assignMap(as, "UPDATE SET"))
      case DeleteAction(cond) =>
        if (matchedDelete.isDefined) unsupported("two WHEN MATCHED DELETE clauses")
        if (updateSets.isDefined) unsupported(
          "WHEN MATCHED DELETE after an unconditioned UPDATE (unreachable " +
            "clause; put the delete first)")
        matchedDelete = Some(cond.map(joinedSql(_, "MATCHED DELETE condition")))
      case other => unsupported(s"matched action $other")
    }
    var insertSets: Option[Seq[(String, String, Option[String])]] = None
    var insertCond: Option[String] = None
    m.notMatchedActions.foreach {
      case InsertAction(cond, as) =>
        if (insertSets.isDefined) unsupported("two WHEN NOT MATCHED INSERT clauses")
        insertSets = Some(assignMap(as, "INSERT VALUES"))
        // filterInsertable evaluates under the same `s` alias
        insertCond = cond.map(joinedSql(_, "INSERT condition"))
      case other => unsupported(s"not-matched action $other")
    }
    var nmbsDelete: Option[Option[String]] = None
    m.notMatchedBySourceActions.foreach {
      case DeleteAction(cond) =>
        if (nmbsDelete.isDefined) unsupported(
          "two WHEN NOT MATCHED BY SOURCE clauses")
        nmbsDelete = Some(cond.map(joinedSql(_, "NOT MATCHED BY SOURCE condition")))
      case other => unsupported(s"not-matched-by-source action $other")
    }
    require(updateSets.isDefined || matchedDelete.isDefined ||
      insertSets.isDefined || nmbsDelete.isDefined,
      "graft MERGE: no actionable clause")

    // per target column: the UPDATE / INSERT values as (rendered expr,
    // bare source attr when the value is exactly one source column)
    val updateA = updateSets.getOrElse(Nil).map(a => a._1 -> ((a._2, a._3))).toMap
    val insertA = insertSets.getOrElse(Nil).map(a => a._1 -> ((a._2, a._3))).toMap
    val keyM = keyPairs.toMap
    // `UPDATE SET *` / `INSERT *` expand to include the key as `k = s.k` —
    // a no-op against the ON equality; allow exactly that form and drop it
    // (a key set to anything ELSE would re-key the row, which a keyed
    // merge cannot express)
    def requireKeyNoop(m: Map[String, (String, Option[String])],
                       clause: String): Unit =
      keyM.foreach { case (k, srcCol) =>
        m.get(k).foreach { case (_, bare) =>
          require(bare.contains(srcCol),
            s"graft MERGE: $clause of merge key $k to a value other than " +
              "its ON-clause source column is not supported")
        }
      }
    requireKeyNoop(updateA, "UPDATE SET")
    requireKeyNoop(insertA, "INSERT VALUES")
    val realUpdates = updateA.keySet.filterNot(keyM.contains)

    // GENERATED ALWAYS AS (<expr>) columns under MERGE: the expression is
    // the single source of truth — explicit values refuse (like identity
    // ALWAYS); an INSERT computes the expression over the inserted
    // values; an UPDATE that changes a generation SOURCE recomputes it
    // (every source the expression reads must be an updated column or an
    // ON key — otherwise the recompute would need the target row, which
    // a keyed merge's SET values cannot reference: refuse loudly).
    val genSpecs = TxTable.generatedSpecs(session, t.dir)
    // Column DEFAULTs under MERGE: a `WHEN NOT MATCHED THEN INSERT (k,
    // price)` into a table with `status STRING DEFAULT 'new'` must land
    // the default, not NULL — the reference's ON CONFLICT insert into
    // DEFAULT-bearing tables and Spark's own V2 merge resolution both
    // fill it. The CURRENT default SQL pads exactly the insert-side
    // value of omitted columns (updates never see it: unmentioned
    // columns are not in updateCols, so the update slice keeps the
    // target's values). Identity and generated columns are excluded —
    // they are engine-computed, never defaulted.
    val mergeDefaults: Map[String, String] =
      if (insertSets.isEmpty) Map.empty
      else {
        val ids = TxTable.identitySpecs(session, t.dir).keySet
        TxTable.columnDefaults(session, t.dir, None).collect {
          case (c, (Some(cur), _))
            if !ids.exists(_.equalsIgnoreCase(c)) &&
              !genSpecs.keys.exists(_.equalsIgnoreCase(c)) =>
            c.toLowerCase(java.util.Locale.ROOT) -> cur
        }.toMap
      }
    def mergeDefaultFor(n: String): Option[String] =
      mergeDefaults.get(n.toLowerCase(java.util.Locale.ROOT))
    var updateAG = updateA
    var insertAG = insertA
    var realUpdatesG = realUpdates
    genSpecs.toSeq.sortBy(_._1).foreach { case (g, exprSql) =>
      def named(m: Map[String, (String, Option[String])], n: String) =
        m.find(_._1.equalsIgnoreCase(n)).map(_._2._1)
      def keyed(n: String) = keyM.find(_._1.equalsIgnoreCase(n)).map(_._2)
      if (updateA.keys.exists(_.equalsIgnoreCase(g)) ||
        insertA.keys.exists(_.equalsIgnoreCase(g)) ||
        keyM.keys.exists(_.equalsIgnoreCase(g)))
        unsupported(s"an explicit value for generated column `$g` " +
          s"(GENERATED ALWAYS AS ($exprSql)) — omit it; the engine " +
          "computes it")
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprSql)
      val refs = parsed.collect {
        case a: UnresolvedAttribute => a.name }.distinct
      def subst(lookup: String => Option[String],
                missingToNull: Boolean): Option[String] = {
        var ok = true
        val e2 = parsed.transform {
          case a: UnresolvedAttribute =>
            lookup(a.name).orElse(keyed(a.name)) match {
              case Some(v) => org.apache.spark.sql.catalyst.parser
                .CatalystSqlParser.parseExpression(s"($v)")
              case None if missingToNull =>
                org.apache.spark.sql.catalyst.expressions.Literal(null)
              case None => ok = false; a
            }
        }
        if (ok) Some(e2.sql) else None
      }
      if (insertSets.isDefined) {
        // a source column the INSERT omits is its DEFAULT (when declared)
        // or NULL in the inserted row — the computed expression sees
        // exactly what the row will carry
        val gi = subst(n => named(insertA, n).orElse(mergeDefaultFor(n)),
          missingToNull = true).get
        insertAG = insertAG + (g -> ((gi, Option.empty[String])))
      }
      val touchesSource = refs.exists(r =>
        realUpdates.exists(_.equalsIgnoreCase(r)))
      if (touchesSource) {
        subst(n => named(updateA, n), missingToNull = false) match {
          case Some(gu) =>
            updateAG = updateAG + (g -> ((gu, Option.empty[String])))
            realUpdatesG = realUpdatesG + g
          case None => unsupported(
            s"UPDATE SET of generation source column(s) of `$g` without " +
              s"setting every column ($exprSql reads ${refs.mkString(", ")}) " +
              "— the recompute cannot read the target row")
        }
      }
    }

    val targetFields = t.schema().fields.toSeq
    targetFields.foreach(f => require(!f.name.startsWith("__graft_upd_"),
      s"graft MERGE: target column ${f.name} collides with the engine's " +
        "reserved __graft_upd_ prefix"))
    // identity columns under MERGE (the reference's CDC-into-BIGSERIAL
    // shape): a GENERATED ALWAYS column may not take explicit values —
    // from an INSERT clause, an UPDATE SET, or the ON key when inserts
    // exist; an UNMENTIONED identity column gets engine-assigned values
    // for the insert slice (allocateIdentityForMerge — updates keep the
    // target's ids because the column is never in updateCols). BY DEFAULT
    // accepts explicit values and the allocator skips past their max.
    val idSpecs = TxTable.identitySpecs(session, t.dir)
    val identityAssign = scala.collection.mutable.ArrayBuffer.empty[String]
    val identityExplicit = scala.collection.mutable.ArrayBuffer.empty[String]
    idSpecs.foreach { case (c, sp) =>
      val isKey = keyM.contains(c)
      val inUpdate = updateA.contains(c) && !isKey
      val inInsert = insertA.contains(c) && !isKey
      if (inUpdate) unsupported(
        s"UPDATE SET of identity column `$c` (ids are engine-managed)")
      if (!sp.explicit && insertSets.isDefined && (isKey || inInsert))
        unsupported(s"explicit values for GENERATED ALWAYS identity " +
          s"column `$c` (via ${if (isKey) "the ON key" else "INSERT"}) — " +
          "omit it and the engine assigns, or declare it GENERATED BY " +
          "DEFAULT")
      if (insertSets.isDefined) {
        if (isKey || inInsert) identityExplicit += c
        else identityAssign += c
      }
    }
    // One in-row value per column feeds the INSERT path. When the UPDATE
    // clause disagrees — a different expression, or the INSERT column list
    // omits a column the UPDATE sets (standard MERGE inserts NULL there) —
    // the update value rides a `__graft_upd_<col>` side-channel column
    // instead (MergeSink.mergePlan's updateSources contract), so each
    // clause applies exactly its own value.
    val divergent =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val producedBare = scala.collection.mutable.Map.empty[String, String]
    val produced: Seq[(String, String)] = targetFields.map { f =>
      val e: String = keyM.get(f.name) match {
        case Some(k) => producedBare(f.name) = k; k
        case None => (updateAG.get(f.name), insertAG.get(f.name)) match {
          case (Some((u, ub)), Some((i, ib))) if u == i =>
            ib.orElse(ub).foreach(producedBare(f.name) = _); u
          case (Some((u, _)), Some((i, ib))) =>
            divergent += ((f.name, u, f.dataType.sql))
            ib.foreach(producedBare(f.name) = _); i
          case (Some((u, ub)), None) =>
            if (insertSets.isEmpty) {
              // no INSERT clause: the in-row value only ever feeds updates
              ub.foreach(producedBare(f.name) = _); u
            } else {
              divergent += ((f.name, u, f.dataType.sql))
              mergeDefaultFor(f.name).getOrElse("NULL")
            }
          case (None, Some((i, ib))) =>
            ib.foreach(producedBare(f.name) = _); i
          case (None, None) => mergeDefaultFor(f.name).getOrElse("NULL")
        }
      }
      f.name -> s"CAST(($e) AS ${f.dataType.sql})"
    }
    val updProjs = divergent.toSeq.map { case (c, u, tpe) =>
      s"__graft_upd_$c" -> s"CAST(($u) AS $tpe)"
    }
    val updateSources =
      divergent.toSeq.map { case (c, _, _) => c -> s"__graft_upd_$c" }
    // source columns the joined-row conditions reference must reach the
    // join under their own names: pass non-target names through verbatim;
    // a name that collides with a produced target column is only safe when
    // that column carries exactly the same bare source attribute
    val producedNames = produced.map(_._1).toSet
    val passthrough = condSrcAttrs.toSeq.filterNot(producedNames.contains)
      .map(n => n -> n)
    condSrcAttrs.filter(producedNames.contains).foreach { n =>
      require(producedBare.get(n).contains(n),
        s"graft MERGE: a condition references s.$n but the statement also " +
          s"computes target column $n from a different expression — the " +
          "condition would read the computed value; rename one side")
    }

    GraftMergeCommand(t.dir, rewrite(m.sourceTable),
      (produced ++ updProjs ++ passthrough).map { case (n, e) => s"($e) AS `$n`" },
      keys,
      updateCols = realUpdatesG.toSeq.sorted,
      updateSources = updateSources,
      matchedDeleteCond = matchedDelete.map(_.getOrElse("true")),
      insertNotMatched = insertSets.isDefined,
      insertCond = insertCond,
      notMatchedBySourceDeleteCond = nmbsDelete.map(_.getOrElse("true")),
      identityAssign = identityAssign.toSeq.sorted,
      identityExplicit = identityExplicit.toSeq.sorted)
  }
}

/** Dynamic `INSERT OVERWRITE` as one atomic partition swap — see
  * [[TxTable.replacePartitionsBy]]. The analyzer's output resolution
  * already aligned and cast the query to the table's column order;
  * `colNames` re-labels positionally so staging partitions by name. */
final case class GraftDynamicOverwriteCommand(dir: String,
                                              queryPlan: LogicalPlan,
                                              partCols: Seq[String],
                                              colNames: Seq[String])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val df = GraftBridge.ofRows(sparkSession, queryPlan).toDF(colNames: _*)
    TxTable.replacePartitionsBy(sparkSession, dir, df, partCols)
    Nil
  }
}

/** `DELETE FROM` as a log commit. The write strategy is a per-table
  * choice via TBLPROPERTIES (the Delta `enableDeletionVectors` shape):
  * `graft.deletes.mode = cow` (default) rewrites matching files without
  * the matched rows ([[TxTable.deleteWhere]]); `= dv` records deletion
  * vectors instead ([[TxTable.deleteWhereDV]]) — O(matched rows) written,
  * reads pay a position anti-join on the touched files until
  * `CALL graft.system.purge_dvs` folds them back. */
final case class GraftDeleteCommand(dir: String, condSql: String)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val mode = TxTable.tableProperties(sparkSession, dir)
      .getOrElse("graft.deletes.mode", "cow")
    mode match {
      case "cow" => TxTable.deleteWhere(sparkSession, dir, expr(condSql))
      case "dv"  => TxTable.deleteWhereDV(sparkSession, dir, expr(condSql))
      case other => throw new IllegalArgumentException(
        s"table property graft.deletes.mode must be 'cow' or 'dv', got " +
          s"'$other' on $dir")
    }
    Nil
  }
}

/** `UPDATE` as a log commit — strategy follows the same
  * `graft.deletes.mode` table property as DELETE: `cow` (default)
  * rewrites the touched files ([[TxTable.updateWhere]]); `dv` vectors
  * out the old rows and appends transformed copies in one atomic commit
  * ([[TxTable.updateWhereDV]]) — O(matched rows) written. */
final case class GraftUpdateCommand(dir: String, condSql: String,
                                    sets: Seq[(String, String)])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    // GENERATED ALWAYS AS (<expr>) columns: SET of the column itself
    // refuses; a SET touching any generation SOURCE recomputes the
    // generated column with the NEW source values (the update applies
    // all SETs simultaneously over the old row, so the recompute
    // substitutes each source reference with that source's SET
    // expression — unchanged sources read the old row, which is exactly
    // their new value).
    val genSpecs = TxTable.generatedSpecs(sparkSession, dir)
    val setNames = sets.map(_._1)
    val derived = genSpecs.toSeq.sortBy(_._1).flatMap { case (g, exprSql) =>
      require(!setNames.exists(_.equalsIgnoreCase(g)),
        s"UPDATE SET of generated column `$g` (GENERATED ALWAYS AS " +
          s"($exprSql)) — the engine computes it; update its source " +
          "columns instead")
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprSql)
      val refs = parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name }.distinct
      if (!refs.exists(r => setNames.exists(_.equalsIgnoreCase(r)))) None
      else {
        val e2 = parsed.transform {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            sets.find(_._1.equalsIgnoreCase(a.name)) match {
              case Some((_, v)) => org.apache.spark.sql.catalyst.parser
                .CatalystSqlParser.parseExpression(s"($v)")
              case None => a // unchanged source: the old row's value
            }
        }
        Some(g -> e2.sql)
      }
    }
    val setCols = (sets ++ derived).map { case (c, e) => c -> expr(e) }.toMap
    val mode = TxTable.tableProperties(sparkSession, dir)
      .getOrElse("graft.deletes.mode", "cow")
    mode match {
      case "cow" => TxTable.updateWhere(sparkSession, dir, expr(condSql), setCols)
      case "dv"  => TxTable.updateWhereDV(sparkSession, dir, expr(condSql), setCols)
      case other => throw new IllegalArgumentException(
        s"table property graft.deletes.mode must be 'cow' or 'dv', got " +
          s"'$other' on $dir")
    }
    Nil
  }
}

/** `MERGE INTO` as one [[MergeSink.mergeIntoTx]] commit. `sourcePlan` is
  * the resolved (and graft-swapped) source; `projections` re-shape it to
  * one column per target column (cast to the target type) plus the
  * passthrough columns the conditions read; the condition strings are
  * `t.`/`s.`-qualified SQL over the engine's join aliases. */
final case class GraftMergeCommand(dir: String, sourcePlan: LogicalPlan,
                                   projections: Seq[String], keys: Seq[String],
                                   updateCols: Seq[String],
                                   updateSources: Seq[(String, String)],
                                   matchedDeleteCond: Option[String],
                                   insertNotMatched: Boolean,
                                   insertCond: Option[String],
                                   notMatchedBySourceDeleteCond: Option[String],
                                   identityAssign: Seq[String] = Nil,
                                   identityExplicit: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val src0 = GraftBridge.ofRows(sparkSession, sourcePlan)
      .selectExpr(projections: _*)
    // identity columns: fresh ids assigned to every source row (unused
    // ones — matched rows that update — become gaps; uniqueness, not
    // density, is the allocator's contract) in an OCC-pinned allocator
    // commit BEFORE the merge; BY DEFAULT explicit values advance it past
    // their max. See TxTable.allocateIdentityForMerge.
    val src =
      if (identityAssign.isEmpty && identityExplicit.isEmpty) src0
      else TxTable.allocateIdentityForMerge(sparkSession, dir, src0,
        identityAssign, identityExplicit)
    // graft.deletes.mode governs MERGE like DELETE/UPDATE: 'cow' commits
    // one atomic replace (rewrites the table); 'dv' commits the change
    // set merge-on-read — O(changed rows) written
    val mode = TxTable.tableProperties(sparkSession, dir)
      .getOrElse("graft.deletes.mode", "cow")
    val run = mode match {
      case "cow" => MergeSink.mergeIntoTx _
      case "dv"  => MergeSink.mergeIntoDV _
      case other => throw new IllegalArgumentException(
        s"table property graft.deletes.mode must be 'cow' or 'dv', got " +
          s"'$other' on $dir")
    }
    run(sparkSession, dir, src, keys, updateCols,
      matchedDeleteCond.map(expr), insertNotMatched, insertCond.map(expr),
      notMatchedBySourceDeleteCond.map(expr), Nil, None,
      updateSources.toMap)
    Nil
  }
}

object GraftSqlRules {
  // sessions whose analyzer carries this rule (GraftExtensions installed):
  // for THOSE sessions the DV'd/column-mapped `format("graft")` read is
  // swapped onto the vectorized plan before execution, so the V1
  // row-materializing fallback never runs. Weak keys: never pins sessions.
  private val installed: java.util.Set[org.apache.spark.sql.SparkSession] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]))

  private[sql] def registerInstalled(s: org.apache.spark.sql.SparkSession): Unit =
    installed.add(s)

  /** True when `s` has GraftExtensions' analyzer rules active. */
  private[sql] def installedOn(s: org.apache.spark.sql.SparkSession): Boolean =
    installed.contains(s)
}
