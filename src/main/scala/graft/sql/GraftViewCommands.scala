package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, StringType}

/** Runnable commands behind the persistent-view statement forms
  * (`CREATE/DROP/SHOW/ALTER VIEW` over a [[GraftCatalog]]). Spark 4.1
  * ships the `ViewCatalog` SPI but no V2 view execution — its session-
  * catalog rule rejects every other catalog with "does not support
  * views" — so [[GraftSqlParser]] intercepts the statements at parse
  * time (the VACUUM/OPTIMIZE approach) and these commands drive the
  * catalog's [[org.apache.spark.sql.connector.catalog.ViewCatalog]]
  * implementation directly. Reads resolve in [[GraftSqlRules]]: an
  * unresolved relation naming a stored view expands to its re-parsed
  * defining text, cycle-guarded. */
private[sql] object GraftViewCommands {
  def catalogOf(session: SparkSession, cat: String): GraftCatalog =
    session.sessionState.catalogManager.catalog(cat) match {
      case g: GraftCatalog => g
      case other => throw new IllegalArgumentException(
        s"'$cat' is not a graft catalog (got $other)")
    }

  def identOf(rel: String): Identifier = {
    val parts = rel.split('.')
    require(parts.length >= 2,
      s"view name '$rel' needs a namespace (<ns...>.<view>)")
    Identifier.of(parts.init, parts.last)
  }
}

/** `CREATE [OR REPLACE] VIEW [IF NOT EXISTS] <cat>.<ns>.<v> AS <query>`.
  * The defining text is analyzed ONCE here (schema capture + early error
  * surfacing — a body that doesn't resolve fails the CREATE, not the
  * first read), then stored verbatim; reads re-parse it, so the view
  * tracks table changes like any SQL view. */
final case class GraftCreateViewCommand(cat: String, rel: String,
                                        sql: String, replace: Boolean,
                                        ifNotExists: Boolean)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    import GraftViewCommands._
    val catalog = catalogOf(session, cat)
    val ident = identOf(rel)
    if (ifNotExists && catalog.viewExists(ident)) return Nil
    val analyzed = org.apache.spark.sql.graftbridge.GraftBridge
      .ofRows(session, session.sessionState.sqlParser.parsePlan(sql))
    val cm = session.sessionState.catalogManager
    val schema = analyzed.schema
    val info = new ViewInfo(ident, sql, cm.currentCatalog.name(),
      cm.currentNamespace, schema, schema.fieldNames,
      Array.empty[String], Array.empty[String],
      java.util.Collections.emptyMap[String, String]())
    if (replace) catalog.replaceView(info, orCreate = true)
    else catalog.createView(info)
    Nil
  }
}

/** `DROP VIEW [IF EXISTS] <cat>.<ns>.<v>`. */
final case class GraftDropViewCommand(cat: String, rel: String,
                                      ifExists: Boolean)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    import GraftViewCommands._
    val catalog = catalogOf(session, cat)
    val ident = identOf(rel)
    if (!catalog.dropView(ident) && !ifExists)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    Nil
  }
}

/** `SHOW VIEWS IN <cat>.<ns...>` — output shape matches Spark's own
  * SHOW VIEWS (namespace, viewName, isTemporary). */
final case class GraftShowViewsCommand(cat: String, ns: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("namespace", StringType, nullable = false)(),
    AttributeReference("viewName", StringType, nullable = false)(),
    AttributeReference("isTemporary", BooleanType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val catalog = GraftViewCommands.catalogOf(session, cat)
    catalog.listViews(ns: _*).toSeq
      .map(i => Row(ns.mkString("."), i.name(), false))
  }
}

/** `ALTER VIEW ... SET TBLPROPERTIES(...)` / `UNSET TBLPROPERTIES(...)`. */
final case class GraftAlterViewPropsCommand(cat: String, rel: String,
                                            set: Map[String, String],
                                            unset: Seq[String])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    import GraftViewCommands._
    val changes =
      set.toSeq.sortBy(_._1).map { case (k, v) => ViewChange.setProperty(k, v) } ++
        unset.map(ViewChange.removeProperty)
    catalogOf(session, cat).alterView(identOf(rel), changes: _*)
    Nil
  }
}

/** `ALTER VIEW <v> RENAME TO <v2>` (same catalog; an unqualified target
  * renames within the source's namespace). */
final case class GraftRenameViewCommand(cat: String, rel: String,
                                        toRel: String)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    import GraftViewCommands._
    val from = identOf(rel)
    val to =
      if (toRel.contains('.')) identOf(toRel)
      else Identifier.of(from.namespace(), toRel)
    catalogOf(session, cat).renameView(from, to)
    Nil
  }
}
