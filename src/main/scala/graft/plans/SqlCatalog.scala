package graft.plans

import java.nio.file.Files
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Filter, InsertIntoStatement, LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.command.RunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Catalog, IcebergLite, IcebergTransforms}

/** SQL-visible lakehouse tables — the catalog's full SQL face:
  * `SELECT ... FROM graft.db.t` with time travel (`VERSION AS OF
  * <snap|'ref'>`, `TIMESTAMP AS OF`, `branch_x`/`tag_x` suffixes) and
  * WHERE-driven metadata pruning; the DML surface (INSERT INTO /
  * OVERWRITE, UPDATE, DELETE, MERGE INTO, TRUNCATE, branch-scoped
  * writes for write-audit-publish); DDL (CREATE NAMESPACE / TABLE /
  * CTAS / DESCRIBE / ALTER evolution / TBLPROPERTIES); metadata
  * tables as 4-part names; and `CALL graft.system.*` maintenance
  * procedures. [[graft.sources.Catalog]] is the name store (the
  * analogue of the reference's metastore client, `/root/reference/
  * src/metastore/mod.rs:16-86`; [[graft.sources.RestCatalog]] speaks
  * its wire protocol).
  *
  * Wiring: register the catalog name with
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalogPlugin].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/path/to/catalog")
  * }}}
  * Three cooperating pieces, all injected by [[GraftExtensions]]:
  *
  *  1. [[GraftCatalogPlugin]] — a Spark `TableCatalog` +
  *     `SupportsNamespaces` + `ProcedureCatalog` over the catalog
  *     JSON, powering DDL, listings, and CALL procedures. Its
  *     `loadTable` throws `NoSuchTableException` BY DESIGN: reads do
  *     not go through a DSv2 scan (which would re-implement parquet
  *     reading) but through rule 2, keeping Spark's vectorized reader
  *     + whole-stage codegen.
  *  2. [[GraftSqlResolution]] (analyzer rule) — resolves relations to
  *     the LAZY [[GraftRelation]] marker (snapshot pinned, output
  *     attrs from metadata, NO file listing at analysis), resolves
  *     time travel through [[IcebergLite.resolveRef]] /
  *     [[IcebergLite.snapshotAsOf]], and routes every DML statement
  *     to a RunnableCommand over the table layer's primitives —
  *     claiming still-blocked DML targets ([[GraftDmlTarget]]) so a
  *     write address is never mistaken for a scan.
  *  3. [[GraftMetadataPrune]] (optimizer rule, operator-optimization
  *     batch) — replaces each marker with the real read planned over
  *     exactly the files surviving the WHERE's supported conjuncts
  *     (partition / manifest-summary / file-bounds skipping through
  *     [[IcebergLite.filtersFromExpression]]) — at 100 TB the
  *     difference between scanning a table and scanning a day. The
  *     FULL predicate stays row-level on top (pruning can only skip
  *     work, never change results), and the substitution happens
  *     inside the batch's fixed point so column pruning and parquet
  *     filter pushdown still reach the spliced scan.
  */
/** The LAZY table marker: analysis binds only the snapshot and the
  * output attributes (metadata reads — no file listing, no
  * FileIndex); the optimizer rule replaces it with the real read AFTER
  * WHERE conjuncts have pruned the file list. At 10⁶ files this is
  * what keeps SQL analysis O(metadata): the eager alternative builds a
  * scan over every file at resolution only for pruning to discard it,
  * and a plan touching one partition never lists — or requires the
  * existence of — files outside it (SqlCatalogSpec proves a query
  * survives a vanished file in a pruned-away partition). */
case class GraftRelation(tablePath: String, snapshotId: Option[Long],
    output: Seq[Attribute])
    extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  /** Real statistics from MANIFEST metadata (file sizes + record
    * counts) instead of the leaf default (defaultSizeInBytes = assume
    * huge): any stats consumer that runs before the optimizer splice
    * — join estimation, CBO row counts — sees the table's true size
    * without listing storage. Any UNKNOWN count (-1, the adopted-file
    * case manifestFiles models) falls back to the conservative leaf
    * default — asserting certainty of emptiness for a table we cannot
    * size is the one inversion worse than no stats at all. Cached
    * per (table, snapshot) JVM-wide: a snapshot is immutable, and a
    * fresh GraftRelation per query must not re-parse every manifest
    * on the driver. */
  override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
    GraftRelation.statsFor(tablePath, snapshotId)
}

object GraftRelation {
  // keyed by (table, snapshot id, snapshot-file mtime): ids are
  // max+1 per table, so rollback + expiry can REUSE an id for
  // different content — the recreated file's mtime misses the cache
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      org.apache.spark.sql.catalyst.plans.logical.Statistics]()
  private def statsFor(tablePath: String, snapshotId: Option[Long]) = {
    // resolve "current" to a concrete id first — None is not a stable key
    val snap = snapshotId.orElse(
      graft.sources.IcebergLite.currentSnapshotId(tablePath))
    snap match {
      case None => org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(1), rowCount = Some(BigInt(0))) // truly empty table
      case Some(id) =>
        if (statsCache.size > 4096) statsCache.clear()
        val mtime = try Files.getLastModifiedTime(java.nio.file.Paths.get(
          s"$tablePath/metadata/snap-$id.snapshot.json")).toMillis
        catch { case _: java.io.IOException => -1L }
        statsCache.computeIfAbsent((tablePath, id, mtime), { case (p, s, _) =>
          // manifest-LIST totals first: one small JSON read at any
          // table size. Only a list predating totals tracking walks
          // the manifests; unknown per-file counts there fall back to
          // the conservative leaf default.
          graft.sources.IcebergLite.snapshotTotals(p, Some(s)) match {
            case Some((rows, bytes)) =>
              org.apache.spark.sql.catalyst.plans.logical.Statistics(
                sizeInBytes = BigInt(bytes).max(1), rowCount = Some(BigInt(rows)))
            case None =>
              val files = graft.sources.IcebergLite.dataFiles(p, Some(s))
              if (files.exists(f => f.fileSizeBytes < 0 || f.recordCount < 0))
                org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes =
                  org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes)
              else org.apache.spark.sql.catalyst.plans.logical.Statistics(
                sizeInBytes = BigInt(files.map(_.fileSizeBytes).sum).max(1),
                rowCount = Some(BigInt(files.map(_.recordCount).sum)))
          }
        })
    }
  }
}

object GraftSqlCatalog {
  /** Spark's case-insensitive column resolution: the schema's
    * canonical spelling for a user-written name, if any. EVERY
    * user-facing identifier on the SQL surface resolves through this
    * before reaching the table layer (whose rename maps and physical
    * names are exact-case). */
  def resolveColumn(fieldNames: Iterable[String], name: String): Option[String] =
    // exact-case first: on a legacy table that already holds case-twin
    // columns (predating the collision guards) an exactly-spelled
    // identifier must resolve to its own twin, never the other one
    fieldNames.find(_ == name)
      .orElse(fieldNames.find(_.equalsIgnoreCase(name)))

  /** Catalog root for `name` iff `name` is registered as a graft
    * catalog in this session. */
  def rootFor(spark: SparkSession, name: String): Option[String] =
    spark.conf.getOption(s"spark.sql.catalog.$name")
      .filter(_ == classOf[GraftCatalogPlugin].getName)
      .flatMap(_ => spark.conf.getOption(s"spark.sql.catalog.$name.root"))

  /** DDL-declared schema of a table that has no snapshot yet: the
    * table layer is schema-on-write, but `CREATE TABLE (cols)` has to
    * mean something before the first insert — the first INSERT aligns
    * to this declaration, and a SELECT on the still-empty table
    * returns zero rows WITH the declared columns. Superseded by the
    * snapshot schema the moment data lands. */
  private def declaredFile(tablePath: String) =
    java.nio.file.Paths.get(tablePath, "metadata", "declared-schema.json")

  def declareSchema(tablePath: String, schema: StructType): Unit =
    // read lock-free by every empty-table SELECT/INSERT alignment —
    // tmp + ATOMIC_MOVE like all reader-visible metadata
    graft.sources.IcebergLite.atomicWrite(declaredFile(tablePath), schema.json)

  def declaredSchema(tablePath: String): Option[StructType] = {
    val p = declaredFile(tablePath)
    if (!Files.exists(p)) None
    else org.apache.spark.sql.types.DataType.fromJson(Files.readString(p)) match {
      case s: StructType => Some(s)
      case _ => None
    }
  }

  /** `PARTITIONED BY` clauses map onto the hidden-partitioning spec:
    * bare columns are identity transforms; `years/months/days/hours
    * (col)`, `bucket(n, col)` and `truncate(w, col)` are the Iceberg
    * transforms [[graft.sources.IcebergTransforms]] implements. */
  def toSpecField(t: Transform,
      schema: StructType): IcebergTransforms.PartitionField = {
    import IcebergTransforms._
    val colName = t.references().head.fieldNames().mkString(".")
    val srcType = schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(
        s"partition column $colName is not in the table schema")).dataType
    def intArg: Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value().toString.toInt
    }.getOrElse(throw new IllegalArgumentException(s"$t needs an int argument"))
    val transform = t.name() match {
      case "identity" => Identity
      case "years" => Year
      case "months" => Month
      case "days" => Day
      case "hours" => Hour
      case "bucket" => Bucket(intArg)
      case "truncate" => Truncate(intArg)
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform $other")
    }
    PartitionField(colName, transform, srcType)
  }

  /** (catalogRoot, tablePath) when `parts` names a registered graft
    * table; None leaves the relation for Spark's normal resolution
    * (and its standard TABLE_OR_VIEW_NOT_FOUND error). */
  def resolve(spark: SparkSession, parts: Seq[String]): Option[String] =
    if (parts.length != 3) None
    else rootFor(spark, parts.head).flatMap { root =>
      try Some(Catalog.tablePath(root, parts(1), parts(2)))
      catch { case _: IllegalArgumentException => None }
    }

  /** A registered VIEW at `parts` (3-part, graft catalog): the
    * catalog root and the stored document. */
  def resolveView(spark: SparkSession,
      parts: Seq[String]): Option[(String, Catalog.ViewDoc)] =
    if (parts.length != 3) None
    else rootFor(spark, parts.head).flatMap { root =>
      Catalog.viewDoc(root, parts(1), parts(2)).map((root, _))
    }
}

/** Persisted SQL views — the metastore object the reference models as
  * table_type VIRTUAL_VIEW with viewOriginalText/viewExpandedText
  * (branching-metastore Table.java:38-61). The ORIGINAL text is
  * stored; expansion (unqualified table references scoped to the
  * view's own catalog.database) happens lazily at read, which is the
  * same answer viewExpandedText precomputes. Spark 4.1 ships the
  * ViewCatalog interface but no v2 view execution, so the DDL and the
  * read path both route through [[GraftSqlResolution]]. */
object GraftViews {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
  import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith

  private def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  /** Unqualified 1-part relation names visible from `p` down, with the
    * LEXICAL scope of CTE definitions: an UnresolvedWith adds its CTE
    * names for ITS subtree only (a CTE in one subquery must not shadow
    * a real table elsewhere in the body). Calls `leaf` for every
    * relation outside CTE scope, rebuilding the plan bottom-up. */
  private def mapRelations(p: LogicalPlan, scope: Set[String])(
      leaf: UnresolvedRelation => LogicalPlan): LogicalPlan = {
    val here = p match {
      case w: UnresolvedWith => scope ++ w.cteRelations.map(r => lc(r._1))
      case _ => scope
    }
    val mapped = p match {
      case u @ UnresolvedRelation(parts, _, _)
          if !(parts.length == 1 && here.contains(lc(parts.head))) => leaf(u)
      case other =>
        other.withNewChildren(other.children.map(mapRelations(_, here)(leaf)))
    }
    mapped.transformExpressions {
      case se: SubqueryExpression => se.withNewPlan(mapRelations(se.plan, here)(leaf))
    }
  }

  /** Scope unqualified relation names in a view body to the view's
    * own catalog.database — SQL's rule: a view means the same tables
    * no matter who reads it. `catalogName` is the name the READER
    * resolved through (the same root may be registered under a
    * different name per session). CTE names stay untouched within
    * their lexical scope. */
  def rescope(parsed: LogicalPlan, catalogName: String, db: String): LogicalPlan =
    mapRelations(parsed, Set.empty) { case UnresolvedRelation(p, opts, stream) =>
      if (p.length >= 3) UnresolvedRelation(p, opts, stream)
      else {
        val full = if (p.length == 1) Seq(catalogName, db) ++ p else catalogName +: p
        UnresolvedRelation(full, opts, stream)
      }
    }

  /** Every (db, view) transitively referenced AS A VIEW from `sql` —
    * the write-time cycle check walks stored documents, never the
    * analyzer (an OR REPLACE cycle would otherwise only surface as an
    * analyzer max-iterations failure at read time). CTE names are
    * exempt with the same lexical scoping the rescope applies. */
  def viewClosure(spark: SparkSession, root: String, catalogName: String,
      db: String, sql: String): Set[(String, String)] = {
    def refsOf(dbCtx: String, text: String): Seq[(String, String)] = {
      val refs = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      mapRelations(spark.sessionState.sqlParser.parsePlan(text), Set.empty) { u =>
        refs += u.multipartIdentifier; u
      }
      refs.toSeq.flatMap {
        case Seq(n) => Some((dbCtx, n))
        case Seq(d, n) => Some((d, n))
        case Seq(c, d, n) if c == catalogName => Some((d, n))
        case _ => None
      }.filter { case (d, n) => Catalog.viewDoc(root, d, n).isDefined }
    }
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    var frontier = refsOf(db, sql)
    while (frontier.nonEmpty) {
      val next = frontier.filterNot(seen)
      next.foreach(seen += _)
      frontier = next.flatMap { case (d, n) =>
        Catalog.viewDoc(root, d, n).toSeq.flatMap(doc => refsOf(d, doc.sql))
      }
    }
    seen.toSet
  }
}

/** Claims view DDL addressed at a graft catalog AT PARSE TIME.
  * Spark 4.1's ResolveSessionCatalog throws MISSING_CATALOG_ABILITY
  * for any non-session-catalog CreateView/ShowViews BEFORE extension
  * resolution rules run, so an analyzer-rule claim can never win the
  * race — the injected parser rewrites the statement root instead
  * (view DDL is always a root-level plan). */
object GraftViewStatements {
  private def graftRoot(cat: String): Option[String] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    def opt(k: String) =
      try Option(conf.getConfString(k)) catch { case _: Exception => None }
    opt(s"spark.sql.catalog.$cat")
      .filter(_ == classOf[GraftCatalogPlugin].getName)
      .flatMap(_ => opt(s"spark.sql.catalog.$cat.root"))
  }

  def claim(plan: LogicalPlan): LogicalPlan = plan match {
    case cv: org.apache.spark.sql.catalyst.plans.logical.CreateView =>
      cv.child match {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(parts, _)
            if parts.length == 3 && graftRoot(parts.head).isDefined =>
          GraftCreateViewCommand(graftRoot(parts.head).get, parts.head,
            parts(1), parts(2),
            cv.originalText.getOrElse(throw new IllegalArgumentException(
              "CREATE VIEW needs the original query text")),
            cv.userSpecifiedColumns.map(_._1), cv.comment, cv.properties,
            cv.allowExisting, cv.replace)
        case _ => cv
      }
    case dv: org.apache.spark.sql.catalyst.plans.logical.DropView =>
      dv.child match {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(parts, _)
            if parts.length == 3 && graftRoot(parts.head).isDefined =>
          GraftDropViewCommand(graftRoot(parts.head).get, parts(1), parts(2),
            dv.ifExists)
        case _ => dv
      }
    case sv: org.apache.spark.sql.catalyst.plans.logical.ShowViews =>
      sv.namespace match {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace(parts, _)
            if parts.length == 2 && graftRoot(parts.head).isDefined =>
          GraftShowViewsCommand(graftRoot(parts.head).get, parts(1),
            sv.pattern, sv.output)
        case _ => sv
      }
    case org.apache.spark.sql.catalyst.plans.logical.AlterViewAs(
        GraftViewAddress(root, cat, db, name), originalText, _) =>
      GraftAlterViewAsCommand(root, cat, db, name, originalText)
    case org.apache.spark.sql.catalyst.plans.logical.SetViewProperties(
        GraftViewAddress(root, _, db, name), props) =>
      GraftViewPropertiesCommand(root, db, name, props, Nil, ifExists = true)
    case org.apache.spark.sql.catalyst.plans.logical.UnsetViewProperties(
        GraftViewAddress(root, _, db, name), keys, ifExists) =>
      GraftViewPropertiesCommand(root, db, name, Map.empty, keys, ifExists)
    case other => other
  }

  /** ALTER VIEW statements address the view via UnresolvedView. */
  private object GraftViewAddress {
    def unapply(p: LogicalPlan): Option[(String, String, String, String)] =
      p match {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedView(
            parts, _, _, _) if parts.length == 3 =>
          graftRoot(parts.head).map((_, parts.head, parts(1), parts(2)))
        case _ => None
      }
  }
}

/** CREATE [OR REPLACE] VIEW: validates by ANALYZING the scoped body
  * now (a stored view that cannot analyze would fail every future
  * reader instead of its author), refuses cycles against the stored
  * documents, and persists original text + the analysis-time schema. */
case class GraftCreateViewCommand(root: String, catalogName: String,
    db: String, viewName: String, sqlText: String, aliases: Seq[String],
    comment: Option[String], properties: Map[String, String],
    allowExisting: Boolean, replace: Boolean) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    require(Catalog.listDatabases(root).contains(db),
      s"database $db does not exist")
    if (Catalog.viewDoc(root, db, viewName).isDefined && allowExisting &&
        !replace) return Nil
    val closure = GraftViews.viewClosure(spark, root, catalogName, db, sqlText)
    require(!closure.contains((db, viewName)),
      s"cyclic view reference through $db.$viewName")
    val scoped = GraftViews.rescope(
      spark.sessionState.sqlParser.parsePlan(sqlText), catalogName, db)
    val schema0 = org.apache.spark.sql.GraftColumnBridge.toDF(spark, scoped).schema
    require(aliases.isEmpty || aliases.length == schema0.length,
      s"view column list has ${aliases.length} names for " +
        s"${schema0.length} query columns")
    val schema =
      if (aliases.isEmpty) schema0
      else StructType(schema0.fields.zip(aliases).map { case (f, a) =>
        f.copy(name = a) })
    Catalog.createView(root, db, viewName, Catalog.ViewDoc(
      sqlText, catalogName, aliases, comment, properties, schema.json),
      replace, allowExisting)
    Nil
  }
}

/** ALTER VIEW ... AS: a new body under the same name — the stored
  * comment and properties survive, the column-alias list does not
  * (the new query defines the columns, Spark's own semantics). Same
  * write-time validation as CREATE: analyze now, refuse cycles. */
case class GraftAlterViewAsCommand(root: String, catalogName: String,
    db: String, viewName: String, sqlText: String) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    val old = Catalog.viewDoc(root, db, viewName).getOrElse(
      throw new IllegalArgumentException(s"view $db.$viewName does not exist"))
    val closure = GraftViews.viewClosure(spark, root, catalogName, db, sqlText)
    require(!closure.contains((db, viewName)),
      s"cyclic view reference through $db.$viewName")
    val scoped = GraftViews.rescope(
      spark.sessionState.sqlParser.parsePlan(sqlText), catalogName, db)
    val schema = org.apache.spark.sql.GraftColumnBridge.toDF(spark, scoped).schema
    Catalog.createView(root, db, viewName, old.copy(sql = sqlText,
      aliases = Nil, schemaJson = schema.json), replace = true)
    Nil
  }
}

/** ALTER VIEW ... SET/UNSET TBLPROPERTIES over the stored document. */
case class GraftViewPropertiesCommand(root: String, db: String,
    viewName: String, set: Map[String, String], unset: Seq[String],
    ifExists: Boolean) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    val old = Catalog.viewDoc(root, db, viewName).getOrElse(
      throw new IllegalArgumentException(s"view $db.$viewName does not exist"))
    val missing = unset.filterNot(old.properties.contains)
    require(ifExists || missing.isEmpty,
      s"properties not set on $db.$viewName: ${missing.mkString(", ")} " +
        "(use IF EXISTS to ignore)")
    Catalog.createView(root, db, viewName,
      old.copy(properties = old.properties ++ set -- unset), replace = true)
    Nil
  }
}

case class GraftDropViewCommand(root: String, db: String, viewName: String,
    ifExists: Boolean) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    val had = Catalog.dropView(root, db, viewName)
    require(had || ifExists, s"view $db.$viewName does not exist")
    Nil
  }
}

case class GraftShowViewsCommand(root: String, db: String,
    pattern: Option[String],
    override val output: Seq[Attribute]) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    // SHOW VIEWS patterns are glob-ish: '*' any, '|' alternation —
    // everything else is LITERAL. This deliberately DIVERGES from
    // Spark's StringUtils.filterPattern, which only swaps '*' for
    // '.*' and so lets regex metachars leak through ('a.b' matches
    // 'axb'; '[' silently yields an empty result). Quoting gives the
    // safer glob semantics: 'a.b' matches only 'a.b', '[' is literal.
    val rx = pattern.map(p => p.toLowerCase(java.util.Locale.ROOT)
      .split("\\|").map(_.split("\\*", -1)
        .map(seg => if (seg.isEmpty) "" else java.util.regex.Pattern.quote(seg))
        .mkString(".*")).mkString("(", ")|(", ")"))
    Catalog.listViews(root, db)
      .filter(n => rx.forall(n.toLowerCase(java.util.Locale.ROOT).matches))
      .map(n => Row(db, n, false))
  }
}

/** A DML statement's still-unresolved graft target, claimed by the
  * resolution rule on FIRST sight of the statement — before the
  * generic relation case could turn the target into a read relation
  * (a DML target is a write address, not a scan). `resolved = false`
  * keeps the analyzer iterating until the statement's sources resolve
  * and the DML case consumes the placeholder. */
case class GraftDmlTarget(parts: Seq[String], alias: Option[String])
    extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
  override def output: Seq[Attribute] = Nil
  override lazy val resolved: Boolean = false
}

/** Analyzer rule: name resolution + time travel + INSERT/DML routing. */
case class GraftSqlResolution(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedTableOrView}
  import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThanOrEqual, Literal, PlanExpression, SubqueryExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertStarAction, MergeIntoTable, RenameTable, SubqueryAlias, TruncateTable, UpdateStarAction, UpdateTable}

  /** A command's table argument — parsers emit UnresolvedTable for
    * table-only commands and UnresolvedTableOrView for the rest;
    * accept either and yield the resolved table path. */
  private object GraftTablePath {
    def unapply(plan: LogicalPlan): Option[String] =
      GraftTableParts.unapply(plan).map(_._2)
  }

  /** Same, keeping the NAME parts alongside the resolved path. */
  private object GraftTableParts {
    def unapply(plan: LogicalPlan): Option[(Seq[String], String)] = {
      val parts = plan match {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedTable(p, _, _) => Some(p)
        case UnresolvedTableOrView(p, _, _) => Some(p)
        case _ => None
      }
      parts.flatMap(p => GraftSqlCatalog.resolve(spark, p).map((p, _)))
    }
  }

  /** An INSERT address: the raw relation or the claimed placeholder. */
  private object GraftInsertAddress {
    def unapply(plan: LogicalPlan): Option[Seq[String]] = plan match {
      case UnresolvedRelation(parts, _, _) => Some(parts)
      case GraftDmlTarget(parts, _) => Some(parts)
      case _ => None
    }
  }

  /** The DML target: a graft table reference, optionally aliased,
    * optionally branch-scoped (`graft.db.t.branch_x`). */
  private object GraftTarget {
    def unapply(plan: LogicalPlan): Option[(String, Option[String], Option[String])] = {
      def table(parts: Seq[String]): Option[(String, Option[String])] =
        if (parts.length == 4 && parts(3).startsWith("branch_"))
          GraftSqlCatalog.resolve(spark, parts.take(3))
            .map((_, Some(parts(3).stripPrefix("branch_"))))
        else GraftSqlCatalog.resolve(spark, parts).map((_, None))
      plan match {
        case SubqueryAlias(ident, UnresolvedRelation(parts, _, _)) =>
          table(parts).map { case (p, b) => (p, Some(ident.name), b) }
        case UnresolvedRelation(parts, _, _) =>
          // no alias: SQL scoping lets the bare table name qualify
          table(parts).map { case (p, b) => (p, Some(parts(2)), b) }
        case GraftDmlTarget(parts, alias) =>
          table(parts).map { case (p, b) => (p, alias.orElse(Some(parts(2))), b) }
        case _ => None
      }
    }
  }

  /** DML conditions/values arrive UNRESOLVED (the target never
    * resolves through the catalog); qualifiers — the table alias or
    * name — are stripped so the expression re-resolves by bare column
    * name against the table read inside the command. Subqueries are
    * refused (they would need the outer analyzer's decorrelation). */
  private def bare(e: Expression): Expression = {
    require(!e.exists(_.isInstanceOf[PlanExpression[_]]) &&
      !e.exists(_.isInstanceOf[SubqueryExpression]),
      "subqueries in DML conditions are not supported for graft tables")
    e.transform {
      case a: UnresolvedAttribute => UnresolvedAttribute.quoted(a.nameParts.last)
    }
  }

  private def relationFor(path: String, snapshotId: Option[Long]): LogicalPlan = {
    // PIN the snapshot at analysis: the optimizer-side rule builds the
    // real read later, and a DataFrame analyzed before a concurrent
    // commit must not see parts of its own plan read different
    // snapshots
    val snap = snapshotId.orElse(IcebergLite.currentSnapshotId(path))
    val shape = IcebergLite.logicalShape(path, snap)
    // conservative nullability: the read null-fills files that predate
    // added columns, so no column may be assumed non-null plan-wide
    def attrs(s: StructType) = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(StructType(s.fields.map(_.copy(nullable = true))))
    // lazy only when the snapshot RECORDS its schema — the recorded
    // shape is the deferred read's contract
    val tracked = IcebergLite.tableSchema(path, snap).isDefined
    if (tracked && shape.nonEmpty) GraftRelation(path, snap, attrs(shape))
    else if (IcebergLite.dataFiles(path, snap).nonEmpty)
      // pre-schema-tracking table WITH data (e.g. a DDL adoption of an
      // old root): the data wins over any declaration — resolve
      // eagerly (row-level filtering only)
      IcebergLite.read(spark, path, snap).queryExecution.analyzed
    else GraftSqlCatalog.declaredSchema(path) match {
      // empty table: zero rows with the DDL-declared columns
      case Some(s) => LocalRelation(attrs(s))
      case None => LocalRelation(Nil: Seq[Attribute])
    }
  }

  /** `VERSION AS OF` takes a snapshot id or a branch/tag name;
    * `TIMESTAMP AS OF` resolves through the commit-time parent walk
    * (latest ancestor at or before the requested instant). */
  private def snapFor(path: String, timestamp: Option[Expression],
      version: Option[String]): Option[Long] = version match {
    case Some(v) if v.nonEmpty && v.forall(_.isDigit) => Some(v.toLong)
    case Some(v) => Some(IcebergLite.resolveRef(path, v))
    case None => timestamp.map { e =>
      require(e.foldable, s"TIMESTAMP AS OF must be a constant, got $e")
      val cast = Cast(e, TimestampType, Some(conf.sessionLocalTimeZone))
      val micros = cast.eval(null)
      require(micros != null, s"TIMESTAMP AS OF evaluated to null: $e")
      IcebergLite.snapshotAsOf(path, micros.asInstanceOf[Long] / 1000L)
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot of $path at or before ${e.sql}"))
    }
  }

  /** `parts` names a graft table (3-part) or branch target (4-part). */
  private def graftParts(parts: Seq[String]): Boolean =
    GraftSqlCatalog.resolve(spark, parts).isDefined ||
      (parts.length == 4 && parts(3).startsWith("branch_") &&
        GraftSqlCatalog.resolve(spark, parts.take(3)).isDefined)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    // CLAIM still-blocked DML targets first (top-down: the statement
    // is seen before its children): a MERGE/INSERT whose source has
    // not resolved yet must not lose its target to the relation case
    case m @ MergeIntoTable(SubqueryAlias(ident, UnresolvedRelation(parts, _, _)),
        source, _, _, _, _, _) if !source.resolved && graftParts(parts) =>
      m.copy(targetTable = GraftDmlTarget(parts, Some(ident.name)))
    case m @ MergeIntoTable(UnresolvedRelation(parts, _, _),
        source, _, _, _, _, _) if !source.resolved && graftParts(parts) =>
      m.copy(targetTable = GraftDmlTarget(parts, None))
    case i @ InsertIntoStatement(UnresolvedRelation(parts, _, _),
        _, _, query, _, _, _) if !query.resolved && graftParts(parts) =>
      i.copy(table = GraftDmlTarget(parts, None))
    case i @ InsertIntoStatement(GraftInsertAddress(parts), partSpec,
        userCols, query, overwrite, _, byName) if query.resolved &&
        GraftSqlCatalog.resolve(spark, parts).isDefined =>
      require(partSpec.isEmpty,
        "static PARTITION clauses are unsupported; partitioned graft tables " +
          "derive layout from their own spec (dynamic overwrite)")
      GraftInsertCommand(GraftSqlCatalog.resolve(spark, parts).get, query,
        overwrite, byName, toBranch = None,
        userCols = if (byName) Nil else userCols)
    // write-audit-publish in SQL: INSERT INTO graft.db.t.branch_audit
    // appends to the branch head; main is untouched until fast_forward
    case InsertIntoStatement(GraftInsertAddress(parts), partSpec,
        userCols, query, overwrite, _, byName) if query.resolved &&
        parts.length == 4 && parts(3).startsWith("branch_") &&
        GraftSqlCatalog.resolve(spark, parts.take(3)).isDefined =>
      require(partSpec.isEmpty,
        "static PARTITION clauses are unsupported on branch INSERT")
      require(!overwrite, "INSERT OVERWRITE onto a branch is unsupported; " +
        "write-audit-publish appends to the branch, then fast_forward")
      GraftInsertCommand(GraftSqlCatalog.resolve(spark, parts.take(3)).get,
        query, overwrite = false, byName,
        toBranch = Some(parts(3).stripPrefix("branch_")),
        userCols = if (byName) Nil else userCols)
    case RelationTimeTravel(UnresolvedRelation(parts, _, _), ts, ver)
        if GraftSqlCatalog.resolve(spark, parts).isDefined =>
      val path = GraftSqlCatalog.resolve(spark, parts).get
      relationFor(path, snapFor(path, ts, ver))
    // a view name reads as its stored body, unqualified references
    // scoped to the view's own catalog.database, column aliases
    // applied — SubqueryAlias keeps the view's name as the qualifier
    case UnresolvedRelation(parts, _, false)
        if GraftSqlCatalog.resolveView(spark, parts).isDefined =>
      val (_, doc) = GraftSqlCatalog.resolveView(spark, parts).get
      // scope to the READER's catalog name (parts.head), not the
      // stored creation-time name: the same root may be registered
      // under a different name in this session
      val scoped = GraftViews.rescope(
        spark.sessionState.sqlParser.parsePlan(doc.sql), parts.head, parts(1))
      val aliased =
        if (doc.aliases.nonEmpty)
          org.apache.spark.sql.catalyst.analysis.UnresolvedSubqueryColumnAliases(
            doc.aliases, scoped)
        else scoped
      // NESTED analysis (same pattern as the metadata-table case): the
      // body may contain CTEs, and CTESubstitution lives in the
      // Substitution batch that already ran — a raw parsed subtree
      // spliced mid-resolution would never get its WITH names bound
      SubqueryAlias(parts(2), org.apache.spark.sql.GraftColumnBridge
        .toDF(spark, aliased).queryExecution.analyzed)
    case UnresolvedRelation(parts, _, false)
        if GraftSqlCatalog.resolve(spark, parts).isDefined =>
      relationFor(GraftSqlCatalog.resolve(spark, parts).get, None)
    // real Iceberg's metadata tables as 4-part names:
    // SELECT * FROM graft.db.t.history / files / partitions / refs /
    // manifests / delete_files / column_stats / snapshots
    case UnresolvedRelation(parts, _, false) if parts.length == 4 &&
        metadataTables.contains(parts(3).toLowerCase) &&
        GraftSqlCatalog.resolve(spark, parts.take(3)).isDefined =>
      val path = GraftSqlCatalog.resolve(spark, parts.take(3)).get
      metadataTables(parts(3).toLowerCase)(spark, path)
        .queryExecution.analyzed
    // ... and its branch_/tag_ suffixes: graft.db.t.branch_audit
    // reads the branch head (same as VERSION AS OF 'audit')
    case UnresolvedRelation(parts, _, false) if parts.length == 4 &&
        (parts(3).startsWith("branch_") || parts(3).startsWith("tag_")) &&
        GraftSqlCatalog.resolve(spark, parts.take(3)).isDefined =>
      val path = GraftSqlCatalog.resolve(spark, parts.take(3)).get
      val ref = parts(3).stripPrefix("branch_").stripPrefix("tag_")
      relationFor(path, Some(IcebergLite.resolveRef(path, ref)))
    // ALTER TABLE ... RENAME TO: the V2 path needs loadTable (which
    // this catalog refuses by design — see GraftCatalogPlugin), so the
    // statement resolves here instead, to a name-only catalog move
    case RenameTable(UnresolvedTableOrView(parts, _, _), newName, false)
        if parts.length == 3 && GraftSqlCatalog.rootFor(spark, parts.head).isDefined =>
      require(newName.length == 1 ||
        (newName.length == 3 && newName.take(2) == parts.take(2)),
        "RENAME cannot move a table across databases or catalogs")
      GraftRenameTableCommand(GraftSqlCatalog.rootFor(spark, parts.head).get,
        parts(1), parts(2), newName.last)
    case TruncateTable(GraftTablePath(path)) =>
      GraftTruncateCommand(path)
    // DELETE ... WHERE keys IN (subquery): the subquery result is the
    // delete-key set — route to the equality-delete primitive instead
    // of refusing the subquery (the command analyzes the boxed plan
    // at run time; it cannot resolve in place because the enclosing
    // DML target is a placeholder the builtin analyzer cannot see
    // through)
    case DeleteFromTable(GraftTarget(path, _, branch),
        in: org.apache.spark.sql.catalyst.expressions.InSubquery) =>
      require(branch.isEmpty, "DELETE on a branch is unsupported; " +
        "route CDC deletes through MERGE INTO the branch")
      val keyCols = in.values.map {
        case a: UnresolvedAttribute => a.nameParts.last
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
        case other => throw new IllegalArgumentException(
          s"DELETE ... IN (subquery) supports plain key columns, got ${other.sql}")
      }
      GraftDeleteInCommand(path, keyCols, GraftPlanBox(in.query.plan))
    case DeleteFromTable(GraftTarget(path, _, branch), cond) =>
      require(branch.isEmpty, "DELETE on a branch is unsupported; " +
        "route CDC deletes through MERGE INTO the branch")
      GraftDeleteCommand(path,
        org.apache.spark.sql.GraftColumnBridge.toCol(bare(cond)),
        noCondition = cond == Literal.TrueLiteral)
    // UPDATE ... WHERE keys IN (subquery): the update-only merge
    // with the subquery result as the key set (same routing rationale
    // as the IN-delete above)
    case UpdateTable(GraftTarget(path, _, branch), assignments,
        Some(in: org.apache.spark.sql.catalyst.expressions.InSubquery)) =>
      require(branch.isEmpty, "UPDATE on a branch is unsupported; " +
        "route changes through MERGE INTO the branch")
      val keyCols = in.values.map {
        case a: UnresolvedAttribute => a.nameParts.last
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
        case other => throw new IllegalArgumentException(
          s"UPDATE ... IN (subquery) supports plain key columns, got ${other.sql}")
      }
      val assigns = assignments.map { case Assignment(key, value) =>
        val name = key match {
          case a: UnresolvedAttribute => a.nameParts.last
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
          case other => throw new IllegalArgumentException(
            s"unsupported SET target $other (nested fields are not updatable)")
        }
        (name, org.apache.spark.sql.GraftColumnBridge.toCol(bare(value)))
      }
      GraftUpdateInCommand(path, keyCols, assigns, GraftPlanBox(in.query.plan))
    case UpdateTable(GraftTarget(path, _, branch), assignments, condOpt) =>
      require(branch.isEmpty, "UPDATE on a branch is unsupported; " +
        "route changes through MERGE INTO the branch")
      GraftUpdateCommand(path,
        assignments.map { case Assignment(key, value) =>
          val name = key match {
            case a: UnresolvedAttribute => a.nameParts.last
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
            case other => throw new IllegalArgumentException(
              s"unsupported SET target $other (nested fields are not updatable)")
          }
          (name, org.apache.spark.sql.GraftColumnBridge.toCol(bare(value)))
        },
        org.apache.spark.sql.GraftColumnBridge.toCol(
          bare(condOpt.getOrElse(Literal.TrueLiteral))))
    case MergeIntoTable(GraftTarget(path, tAlias, branch), source, cond,
        matched, notMatched, notMatchedBySource, _) if source.resolved =>
      mergeFor(path, tAlias, branch, source, cond, matched, notMatched,
        notMatchedBySource)
    // ALTER TABLE column evolution maps onto the metadata-only
    // evolution API (add-with-null-fill / rename / type widening)
    case org.apache.spark.sql.catalyst.plans.logical.AddColumns(
        org.apache.spark.sql.catalyst.analysis.UnresolvedTable(parts, _, _), cols)
        if GraftSqlCatalog.resolve(spark, parts).isDefined =>
      val adds = cols.map { c =>
        require(c.position.isEmpty && c.default.isEmpty,
          "ADD COLUMNS supports plain columns only (no positions or defaults)")
        // a nested path (s.x INT) routes through the same metadata-only
        // commit — one snapshot for the whole statement
        (c.path.map(_.name).getOrElse(Nil) :+ c.colName, c.dataType)
      }
      GraftAddColumnsCommand(GraftSqlCatalog.resolve(spark, parts).get, adds)
    case org.apache.spark.sql.catalyst.plans.logical.RenameColumn(
        org.apache.spark.sql.catalyst.analysis.UnresolvedTable(parts, _, _),
        field, newName)
        if GraftSqlCatalog.resolve(spark, parts).isDefined =>
      require(field.name.length == 1, "RENAME COLUMN supports top-level columns only")
      GraftRenameColumnCommand(GraftSqlCatalog.resolve(spark, parts).get,
        field.name.head, newName)
    case org.apache.spark.sql.catalyst.plans.logical.AlterColumns(
        org.apache.spark.sql.catalyst.analysis.UnresolvedTable(parts, _, _), specs)
        if GraftSqlCatalog.resolve(spark, parts).isDefined =>
      val widens = specs.map { sp =>
        require(sp.newDataType.isDefined && sp.newNullability.isEmpty &&
          sp.newComment.isEmpty && sp.newPosition.isEmpty && sp.newDefaultExpression.isEmpty,
          "ALTER COLUMN supports TYPE widening only")
        (sp.column.name, sp.newDataType.get)
      }
      GraftWidenColumnsCommand(GraftSqlCatalog.resolve(spark, parts).get, widens)
    case org.apache.spark.sql.catalyst.plans.logical.SetTableProperties(
        GraftTablePath(path), props) =>
      GraftSetPropertiesCommand(path, props)
    case org.apache.spark.sql.catalyst.plans.logical.UnsetTableProperties(
        GraftTablePath(path), keys, _) =>
      GraftUnsetPropertiesCommand(path, keys)
    case org.apache.spark.sql.catalyst.plans.logical.ShowTableProperties(
        GraftTablePath(path), key, output) =>
      val all = IcebergLite.tableProperties(path)
      val shown = key.map(k => all.view.filterKeys(_ == k).toMap).getOrElse(all)
      LocalRelation(output, shown.toSeq.sortBy(_._1).map { case (k, v) =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(k),
          org.apache.spark.unsafe.types.UTF8String.fromString(v))
      })
    case org.apache.spark.sql.catalyst.plans.logical.ShowPartitions(
        GraftTablePath(path), None, output) =>
      // through the partitions METADATA TABLE: past the planning
      // threshold the manifest walk runs as a Spark job instead of a
      // driver loop — a 10⁵-manifest table answers distributed
      val tuples = IcebergLite.partitionsMetadata(spark, path)
        .select("part").filter(org.apache.spark.sql.functions.col("part") =!= "")
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      LocalRelation(output, tuples.map(t =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(t))))
    // SHOW CREATE TABLE on a VIEW: the stored declaration, re-runnable
    case org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable(
        UnresolvedTableOrView(parts, _, _), _, output)
        if GraftSqlCatalog.resolveView(spark, parts).isDefined =>
      val (_, doc) = GraftSqlCatalog.resolveView(spark, parts).get
      val aliasList =
        if (doc.aliases.isEmpty) ""
        else doc.aliases.mkString(" (", ", ", ")")
      LocalRelation(output, Seq(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          s"CREATE VIEW ${parts.mkString(".")}$aliasList AS\n${doc.sql}"))))
    // SHOW CREATE TABLE renders a re-runnable declaration from
    // metadata: logical shape, partition transforms, set properties
    case org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable(
        GraftTableParts(parts, path), _, output) =>
      val shape = IcebergLite.logicalShape(path, None) match {
        case s if s.nonEmpty => s
        case _ => GraftSqlCatalog.declaredSchema(path)
          .getOrElse(new org.apache.spark.sql.types.StructType())
      }
      val cols = shape.fields.map(f =>
        s"${f.name} ${f.dataType.sql}").mkString(",\n  ")
      val spec = IcebergLite.partitionSpec(path)
      val partBy =
        if (spec.isEmpty) ""
        else spec.map { f => f.transform match {
          case IcebergTransforms.Identity => f.source
          case IcebergTransforms.Bucket(n) => s"bucket($n, ${f.source})"
          case IcebergTransforms.Truncate(w) => s"truncate($w, ${f.source})"
          // temporal tags are singular ("year") but the SQL transform
          // names toSpecField accepts are Spark's plurals — render the
          // plural so the declaration actually re-runs
          case t => s"${t.tag}s(${f.source})"
        }}.mkString("\nPARTITIONED BY (", ", ", ")")
      val props = IcebergLite.tableProperties(path)
      val tblProps =
        if (props.isEmpty) ""
        else props.toSeq.sortBy(_._1)
          .map { case (k, v) =>
            // SQL single-quote doubling keeps the rendered DDL re-runnable
            s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'" }
          .mkString("\nTBLPROPERTIES (", ", ", ")")
      LocalRelation(output, Seq(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          s"CREATE TABLE ${parts.mkString(".")} (\n  $cols)$partBy$tblProps"))))
    // DESCRIBE answers from metadata alone (the plugin's loadTable
    // refuses by design): logical shape + the partition spec section
    case org.apache.spark.sql.catalyst.plans.logical.DescribeRelation(
        UnresolvedTableOrView(parts, _, _), _, _, output)
        if GraftSqlCatalog.resolve(spark, parts).isDefined =>
      describeFor(GraftSqlCatalog.resolve(spark, parts).get, output)
    // DESCRIBE on a persisted view: the stored analysis-time schema
    // plus the original text (Hive's "# View Text" convention)
    case org.apache.spark.sql.catalyst.plans.logical.DescribeRelation(
        UnresolvedTableOrView(parts, _, _), _, _, output)
        if GraftSqlCatalog.resolveView(spark, parts).isDefined =>
      val (_, doc) = GraftSqlCatalog.resolveView(spark, parts).get
      val schema = org.apache.spark.sql.types.DataType.fromJson(doc.schemaJson)
        .asInstanceOf[StructType]
      def vrow(a: String, b: String, c: String) =
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(a),
          org.apache.spark.unsafe.types.UTF8String.fromString(b),
          if (c == null) null
          else org.apache.spark.unsafe.types.UTF8String.fromString(c))
      LocalRelation(output,
        schema.fields.toSeq.map(f => vrow(f.name, f.dataType.simpleString, null)) ++
          Seq(vrow("# View Text", doc.sql, null)))
    case org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect(
        org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier(parts, _),
        partitioning, query, _, _, ignoreIfExists, _)
        if parts.length == 3 &&
          GraftSqlCatalog.rootFor(spark, parts.head).isDefined && query.resolved =>
      GraftCtasCommand(GraftSqlCatalog.rootFor(spark, parts.head).get,
        parts(1), parts(2), partitioning, query, ignoreIfExists)
    // the identifier may already be catalog-resolved (rule order
    // within the fixpoint is not ours to choose)
    case org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect(
        r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier,
        partitioning, query, _, _, ignoreIfExists, _)
        if r.catalog.isInstanceOf[GraftCatalogPlugin] && query.resolved =>
      GraftCtasCommand(
        GraftSqlCatalog.rootFor(spark, r.catalog.name).getOrElse(
          throw new IllegalStateException(s"catalog ${r.catalog.name} lost its root")),
        r.identifier.namespace.head, r.identifier.name,
        partitioning, query, ignoreIfExists)
  }

  /** The metadata-table suffixes a 4-part name resolves to. */
  private val metadataTables: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "history" -> ((s, p) => IcebergLite.history(s, p)),
    "snapshots" -> ((s, p) => IcebergLite.history(s, p)),
    "refs" -> ((s, p) => IcebergLite.refsMetadata(s, p)),
    "files" -> ((s, p) => IcebergLite.filesMetadata(s, p)),
    "partitions" -> ((s, p) => IcebergLite.partitionsMetadata(s, p)),
    "manifests" -> ((s, p) => IcebergLite.manifestsMetadata(s, p)),
    "delete_files" -> ((s, p) => IcebergLite.deleteFilesMetadata(s, p)),
    "column_stats" -> ((s, p) => IcebergLite.columnStatsMetadata(s, p)))

  private def describeFor(path: String, output: Seq[Attribute]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val shape = IcebergLite.logicalShape(path, None) match {
      case s if s.nonEmpty => s
      case _ => GraftSqlCatalog.declaredSchema(path)
        .getOrElse(new org.apache.spark.sql.types.StructType())
    }
    def row(a: String, b: String, c: String) = InternalRow(
      UTF8String.fromString(a), UTF8String.fromString(b),
      if (c == null) null else UTF8String.fromString(c))
    val cols = shape.fields.toSeq.map(f =>
      row(f.name, f.dataType.simpleString, null))
    val spec = IcebergLite.partitionSpec(path)
    val partSection =
      if (spec.isEmpty) Nil
      else row("# Partition Information", "", null) +: spec.map(f =>
        row(f.name, "", s"${f.transform.tag}(${f.source})"))
    LocalRelation(output, cols ++ partSection)
  }

  // ------------------------------------------------------------ MERGE
  /** Maps the supported MERGE shapes onto [[IcebergLite.merge]]:
    *  - `ON` must be a conjunction of `target.col = source.col`
    *    equalities over SAME-NAMED columns (the key columns);
    *  - `WHEN MATCHED THEN UPDATE SET *` (+ `WHEN NOT MATCHED THEN
    *    INSERT *`) is the upsert;
    *  - `WHEN MATCHED AND source.seq >= target.seq THEN UPDATE SET *`
    *    maps onto the ordered-upsert `precedence` column;
    *  - `WHEN MATCHED AND source.flag THEN DELETE` maps onto the CDC
    *    `tombstone`; a bare `WHEN MATCHED THEN DELETE` (no update
    *    action) is [[IcebergLite.WhenMatched.Delete]];
    *  - `UPDATE SET col = expr`, `INSERT (cols) VALUES (exprs)` and
    *    `WHEN NOT MATCHED BY SOURCE THEN DELETE` map onto the column
    *    level clauses.
    * Everything else refuses with a message naming the gap. */
  private def mergeFor(path: String, tAlias: Option[String],
      toBranch: Option[String], source: LogicalPlan, cond: Expression,
      matched: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
      notMatched: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
      notMatchedBySource: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    // WHEN NOT MATCHED BY SOURCE THEN DELETE — the snapshot-sync form
    // (target rows whose keys the source lacks die). Unconditional
    // DELETE only; inherently a full-table rewrite (every file may
    // hold an unmatched row), priced as such by the primitive.
    val deleteBySource = notMatchedBySource match {
      case Seq() => false
      case Seq(DeleteAction(None)) => true
      case other => throw new IllegalArgumentException(
        s"WHEN NOT MATCHED BY SOURCE supports THEN DELETE only, got $other")
    }
    val sAlias = source match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }
    val targetNames = tAlias.toSeq.map(_.toLowerCase).toSet
    val sourceNames = sAlias.toSeq.map(_.toLowerCase).toSet
    // 't' = target-side reference, 's' = source-side, by resolved
    // attribute membership or alias qualifier; an UNQUALIFIED
    // still-unresolved name is target-side (the analyzer resolves
    // every source reference it can — the target is our placeholder)
    def side(e: Expression): Option[(Char, String)] = e match {
      case a: AttributeReference if source.outputSet.contains(a) => Some(('s', a.name))
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        val q = a.nameParts.init.last.toLowerCase
        if (targetNames.contains(q)) Some(('t', a.nameParts.last))
        else if (sourceNames.contains(q)) Some(('s', a.nameParts.last))
        else None
      case a: UnresolvedAttribute => Some(('t', a.nameParts.last))
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // (target name, source name) per ON conjunct — differently-named
    // keys are the join-corpus norm (l_orderkey = o_orderkey); the
    // command renames the source key to the target name up front
    val keyPairs = conjuncts(cond).map {
      case EqualTo(l, r) => (side(l), side(r)) match {
        case (Some(('t', tn)), Some(('s', sn))) => (tn, sn)
        case (Some(('s', sn)), Some(('t', tn))) => (tn, sn)
        case _ => throw new IllegalArgumentException(
          s"MERGE ON conjunct must equate a target and a source column " +
            s"(qualify both sides with their aliases): ${EqualTo(l, r).sql}")
      }
      case other => throw new IllegalArgumentException(
        s"MERGE ON must be a conjunction of equalities, got ${other.sql}")
    }
    val keyCols = keyPairs.map(_._1)
    val keyRenames: Map[String, String] =
      keyPairs.filter { case (tn, sn) => tn != sn }
        .map { case (tn, sn) => sn -> tn }.toMap
    // duplicate detection is CASE-INSENSITIVE like Spark's resolver:
    // `ON t.a = s.k AND t.b = s.K` names the same source column twice
    require(keyPairs.map(_._1.toLowerCase).distinct.size == keyPairs.size,
      "MERGE ON equates the same target key column twice")
    require(keyPairs.map(_._2.toLowerCase).distinct.size == keyPairs.size,
      "MERGE ON uses the same source column for two target keys")
    // an assignment VALUE sees target columns bare and source columns
    // as __graft_s_<name> — the disambiguation the merge's touched-row
    // join uses (source keys are renamed first, so a reference to the
    // source key lands on its target name). An INSERT value sees the
    // source row only.
    val sourceColsLower = source.output.map(_.name.toLowerCase).toSet
    // LAZY: only a bare single-part SET value needs the target shape —
    // qualified and star assignments (the common forms) never pay this
    // probe, which on a SPEC-LESS table includes logicalShape's
    // manifest walk for adopted legacy partition columns. When the
    // probe does run it must be sound: the walk is the only witness of
    // legacy partition columns (a declaration alone cannot rule them
    // out — an adopted root can carry BOTH a declared-schema.json and
    // schema-less hive manifests — so the declared fields are UNIONED
    // with the shape, never substituted for it). Aligned to the branch
    // head the MERGE actually targets (branch schema may have evolved
    // past main).
    lazy val targetColsLower: Set[String] = {
      val snap = toBranch.map(IcebergLite.resolveRef(path, _))
      val declared =
        if (IcebergLite.tableSchema(path, snap).isDefined) Nil
        else GraftSqlCatalog.declaredSchema(path)
          .map(_.fieldNames.toSeq).getOrElse(Nil)
      (IcebergLite.logicalShape(path, snap).fieldNames.toSeq ++ declared)
        .map(_.toLowerCase).toSet
    }
    // renamed-source-key lookup is CASE-INSENSITIVE like Spark's
    // resolver: `SET v = SID` must land on the same __graft_s_<target>
    // column `SET v = sid` does (the rename map is keyed by the
    // ON-clause spelling, the reference by the user's)
    val keyRenamesLower: Map[String, String] =
      keyRenames.map { case (sn, tn) => sn.toLowerCase -> tn }
    def srcRef(name: String): UnresolvedAttribute =
      UnresolvedAttribute.quoted(
        "__graft_s_" + keyRenamesLower.getOrElse(name.toLowerCase, name))
    def assignVal(e: Expression, insert: Boolean = false): org.apache.spark.sql.Column = {
      require(!e.exists(_.isInstanceOf[PlanExpression[_]]) &&
        !e.exists(_.isInstanceOf[SubqueryExpression]),
        "subqueries in MERGE assignments are not supported for graft tables")
      org.apache.spark.sql.GraftColumnBridge.toCol(e.transform {
        case a: AttributeReference if source.outputSet.contains(a) =>
          srcRef(a.name)
        case a: UnresolvedAttribute
            if a.nameParts.length > 1 &&
              sourceNames.contains(a.nameParts.init.last.toLowerCase) =>
          srcRef(a.nameParts.last)
        case a: UnresolvedAttribute if insert => throw new IllegalArgumentException(
          s"INSERT values may reference source columns only, got ${a.sql}")
        case a: UnresolvedAttribute =>
          // an unqualified name that lives on BOTH sides must not
          // silently prefer the target (Spark raises
          // AMBIGUOUS_REFERENCE here; `SET v = v` meaning source.v
          // would otherwise self-assign and commit unchanged data);
          // a name that lives ONLY on the source resolves to the
          // source (it is about to be renamed to __graft_s_<name>,
          // so the bare name would dangle)
          val onSource = a.nameParts.length == 1 &&
            sourceColsLower.contains(a.nameParts.head.toLowerCase)
          if (onSource && targetColsLower.contains(a.nameParts.head.toLowerCase))
            throw new IllegalArgumentException(
              s"reference `${a.nameParts.head}` in MERGE UPDATE SET is " +
                "ambiguous (a column of that name exists on both the " +
                "target and the source); qualify it with the table alias")
          // an UNKNOWABLE target shape (empty: no tracked schema, no
          // declaration, no files) keeps the bare name target-side —
          // fail-safe: a genuinely-target name resolves, a dangling
          // one errors as UNRESOLVED_COLUMN instead of silently
          // rewriting the target with the source column
          if (onSource && targetColsLower.nonEmpty) srcRef(a.nameParts.last)
          else UnresolvedAttribute.quoted(a.nameParts.last)
      })
    }
    def assignTarget(key: Expression): String = side(key) match {
      case Some(('t', tn)) => tn
      case _ => throw new IllegalArgumentException(
        s"SET target must be a target column, got ${key.sql}")
    }
    var precedence: Option[String] = None
    var tombstone: Option[String] = None
    var hasUpdate = false
    var deleteAll = false
    var setPairs: Option[Seq[(String, org.apache.spark.sql.Column)]] = None
    matched.foreach {
      case UpdateStarAction(None) => hasUpdate = true
      case UpdateStarAction(Some(GreaterThanOrEqual(l, r))) =>
        (side(l), side(r)) match {
          case (Some(('s', sn)), Some(('t', tn))) if sn == tn =>
            hasUpdate = true; precedence = Some(sn)
          case _ => throw new IllegalArgumentException(
            "conditional UPDATE supports only source.seq >= target.seq " +
              "over a same-named column (ordered upsert)")
        }
      case org.apache.spark.sql.catalyst.plans.logical.UpdateAction(None, assigns, _) =>
        hasUpdate = true
        val pairs = assigns.map(a => assignTarget(a.key) -> assignVal(a.value))
        require(pairs.map(_._1).distinct.size == pairs.size,
          "UPDATE SET assigns the same column twice")
        setPairs = Some(pairs)
      case org.apache.spark.sql.catalyst.plans.logical.UpdateAction(Some(c), _, _) =>
        throw new IllegalArgumentException(
          "conditional UPDATE SET col = expr is unsupported (fold the " +
            s"condition into the assignment with CASE): ${c.sql}")
      case DeleteAction(Some(flag)) => side(flag) match {
        case Some(('s', sn)) => tombstone = Some(sn)
        case _ => throw new IllegalArgumentException(
          "conditional DELETE supports only a boolean SOURCE column flag")
      }
      case DeleteAction(None) => deleteAll = true
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED action $other (UPDATE SET ... / DELETE only)")
    }
    val whenNotMatched = notMatched match {
      case Seq() => IcebergLite.WhenNotMatched.Skip
      case Seq(InsertStarAction(None)) => IcebergLite.WhenNotMatched.InsertAll
      case Seq(org.apache.spark.sql.catalyst.plans.logical.InsertAction(None, assigns)) =>
        val pairs = assigns.map(a => assignTarget(a.key) -> assignVal(a.value, insert = true))
        require(pairs.map(_._1).distinct.size == pairs.size,
          "INSERT assigns the same column twice")
        IcebergLite.WhenNotMatched.Insert(pairs)
      case Seq(org.apache.spark.sql.catalyst.plans.logical.InsertAction(Some(c), _)) =>
        throw new IllegalArgumentException(
          s"conditional INSERT is unsupported (filter the source instead): ${c.sql}")
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED action $other " +
          "(one INSERT * or INSERT (cols) VALUES (exprs))")
    }
    val insertAll = whenNotMatched != IcebergLite.WhenNotMatched.Skip
    val columnInsert = whenNotMatched.isInstanceOf[IcebergLite.WhenNotMatched.Insert]
    require(!(deleteAll && (hasUpdate || tombstone.nonEmpty)),
      "a bare WHEN MATCHED THEN DELETE cannot combine with UPDATE " +
        "(use a source tombstone flag for per-row routing)")
    require(!(deleteAll && insertAll),
      "WHEN MATCHED THEN DELETE with WHEN NOT MATCHED THEN INSERT is " +
        "unsupported (the merge primitive cannot insert rows it tombstones); " +
        "split into a delete-only MERGE and an INSERT, or flag deletes in " +
        "the source")
    require(matched.count(a => a.isInstanceOf[UpdateStarAction] ||
      a.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.UpdateAction]) <= 1,
      "at most one WHEN MATCHED ... UPDATE clause is supported (clause " +
        "ordering between multiple UPDATE arms has no merge-primitive mapping)")
    require(setPairs.isEmpty || tombstone.isEmpty,
      "UPDATE SET col = expr cannot combine with a DELETE arm or an " +
        "ordered-upsert condition (those are replace-semantics forms)")
    require(!columnInsert || tombstone.isEmpty,
      "column-level INSERT cannot combine with a DELETE arm")
    require(tombstone.isEmpty || hasUpdate,
      "a flag-tombstone arm (WHEN MATCHED AND source.flag THEN DELETE) " +
        "combines only with WHEN MATCHED THEN UPDATE SET * (the CDC " +
        "replace form); for delete-only routing pre-filter the source " +
        "and use a bare WHEN MATCHED THEN DELETE")
    require(!columnInsert || !hasUpdate || setPairs.nonEmpty,
      "column-level INSERT combines with column-level UPDATE SET " +
        "assignments (or stands alone), not with UPDATE SET *")
    require(!deleteBySource || (!deleteAll && (!hasUpdate || setPairs.nonEmpty)),
      "WHEN NOT MATCHED BY SOURCE THEN DELETE combines with column-level " +
        "UPDATE SET assignments and/or an INSERT arm, not with UPDATE SET * " +
        "or matched-DELETE forms")
    require(hasUpdate || deleteAll || insertAll || deleteBySource,
      "MERGE needs WHEN MATCHED THEN UPDATE/DELETE, WHEN NOT MATCHED " +
        "THEN INSERT, or WHEN NOT MATCHED BY SOURCE THEN DELETE")
    require(!hasUpdate || insertAll || setPairs.nonEmpty,
      "upsert MERGE needs WHEN NOT MATCHED THEN INSERT * (the merge " +
        "primitive always inserts unmatched source rows); update-only " +
        "MERGE is supported with column-level SET assignments")
    val whenMatched =
      if (deleteAll) IcebergLite.WhenMatched.Delete
      else setPairs match {
        case Some(assigns) => IcebergLite.WhenMatched.Update(assigns, deleteBySource)
        case None if hasUpdate => IcebergLite.WhenMatched.UpdateAll(precedence, tombstone)
        case None => IcebergLite.WhenMatched.Keep(deleteBySource)
      }
    GraftMergeCommand(path, source, keyCols, whenMatched, whenNotMatched,
      toBranch, keyRenames)
  }
}

case class GraftRenameTableCommand(root: String, db: String,
    from: String, to: String) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    Catalog.renameTable(root, db, from, to)
    Nil
  }
}

/** `CREATE TABLE ... AS SELECT`: register + declare the query's
  * schema + first append, in one statement. `PARTITIONED BY` maps
  * onto the hidden spec exactly as in plain DDL. */
case class GraftCtasCommand(root: String, db: String, table: String,
    partitioning: Seq[Transform], query: LogicalPlan,
    ignoreIfExists: Boolean) extends RunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = query :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    val exists = Catalog.listDatabases(root).contains(db) &&
      Catalog.listTables(root, db).contains(table)
    if (exists) {
      require(ignoreIfExists, s"table $db.$table already exists")
      return Nil
    }
    val df = org.apache.spark.sql.GraftColumnBridge.toDF(spark, query)
    val path = Catalog.createTable(root, db, table)
    if (partitioning.nonEmpty)
      IcebergLite.createTable(path,
        partitioning.map(GraftSqlCatalog.toSpecField(_, df.schema)))
    GraftSqlCatalog.declareSchema(path, df.schema)
    IcebergLite.append(spark, path, df)
    Nil
  }
}

case class GraftTruncateCommand(tablePath: String) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    IcebergLite.truncate(tablePath)
    Nil
  }
}

case class GraftSetPropertiesCommand(tablePath: String,
    props: Map[String, String]) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    IcebergLite.setProperties(tablePath, props)
    Nil
  }
}

case class GraftUnsetPropertiesCommand(tablePath: String,
    keys: Seq[String]) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    IcebergLite.unsetProperties(tablePath, keys)
    Nil
  }
}

/** Column evolution commands. A still-empty DDL-declared table has no
  * snapshot to commit against — evolution rewrites the declaration
  * instead; once data exists the snapshot schema governs. */
case class GraftAddColumnsCommand(tablePath: String,
    adds: Seq[(Seq[String], org.apache.spark.sql.types.DataType)])
    extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    (IcebergLite.currentSnapshotId(tablePath),
        GraftSqlCatalog.declaredSchema(tablePath)) match {
      case (None, Some(d)) =>
        // still-empty declared table: rewrite the declaration — nested
        // paths evolve the declared struct through the same pure
        // transform the snapshot path uses
        GraftSqlCatalog.declareSchema(tablePath,
          adds.foldLeft(d) { case (s, (p, dt)) =>
            IcebergLite.addFieldToStruct(s, p, dt) })
      case _ => IcebergLite.addFields(spark, tablePath, adds)
    }
    Nil
  }
}

case class GraftRenameColumnCommand(tablePath: String,
    from: String, to: String) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    (IcebergLite.currentSnapshotId(tablePath),
        GraftSqlCatalog.declaredSchema(tablePath)) match {
      case (None, Some(d)) =>
        // the FROM spelling resolves case-insensitively like Spark's
        // resolver; TO collides case-insensitively too (two columns
        // differing only in case would be ambiguous to every reader) —
        // except against the renamed column itself (re-casing is fine)
        val actual = GraftSqlCatalog.resolveColumn(d.fieldNames, from).getOrElse(
          throw new IllegalArgumentException(s"column $from does not exist"))
        require(!d.fieldNames.exists(n =>
            !n.equalsIgnoreCase(actual) && n.equalsIgnoreCase(to)),
          s"column $to already exists")
        GraftSqlCatalog.declareSchema(tablePath, StructType(d.fields.map(f =>
          if (f.name == actual) f.copy(name = to) else f)))
      case _ =>
        val actual = GraftSqlCatalog.resolveColumn(
          IcebergLite.logicalShape(tablePath, None).fieldNames, from).getOrElse(from)
        IcebergLite.renameColumn(tablePath, actual, to)
    }
    Nil
  }
}

case class GraftWidenColumnsCommand(tablePath: String,
    widens: Seq[(Seq[String], org.apache.spark.sql.types.DataType)])
    extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    (IcebergLite.currentSnapshotId(tablePath),
        GraftSqlCatalog.declaredSchema(tablePath)) match {
      case (None, Some(d)) =>
        // a declaration with no data yet may retype freely (nothing
        // narrow is on disk to widen FROM) — existence still checked
        GraftSqlCatalog.declareSchema(tablePath,
          widens.foldLeft(d) { case (s, (p, t)) =>
            IcebergLite.widenFieldInStruct(s, p, t, checkWidening = false) })
      case _ => IcebergLite.widenFields(spark, tablePath, widens)
    }
    Nil
  }
}

/** `DELETE FROM ... WHERE ...`. Conditions the metadata filter set
  * represents EXACTLY run as the pruned copy-on-write delete (files
  * the filters prove untouched are carried verbatim). Any other
  * condition — OR, functions, cross-column comparisons — routes
  * through the metadata-column workflow instead: matching rows are
  * located by predicate and removed as a merge-on-read POSITION
  * delete (no rewrite at all; compaction materializes later). The
  * lossy pruning translation is never used to decide which rows die —
  * that would delete more rows than the predicate names. */
case class GraftDeleteCommand(tablePath: String,
    condition: org.apache.spark.sql.Column,
    noCondition: Boolean) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    if (noCondition) { IcebergLite.truncate(tablePath); return Nil }
    val exact = IcebergLite.resolvedConditionExpr(spark, tablePath, condition, None)
      .flatMap(IcebergLite.filtersFromExpressionExact)
    exact match {
      case Some(filters) => IcebergLite.delete(spark, tablePath, filters)
      case None =>
        val victims = IcebergLite.readWithMetadataColumns(spark, tablePath)
          .filter(condition)
          .select(col("_file").as("file_path"), col("_pos").as("pos"))
        IcebergLite.deletePositions(spark, tablePath, victims)
    }
    Nil
  }
}

/** Opaque holder for a not-yet-analyzed plan stored on a command: a
  * bare LogicalPlan constructor arg would register as a TreeNode
  * CHILD, and an unresolved child keeps the whole statement
  * unresolved forever (the analyzer cannot resolve a subquery whose
  * enclosing DML target is a graft placeholder it does not know). The
  * command analyzes the boxed plan itself at run time. */
case class GraftPlanBox(plan: LogicalPlan)

/** `DELETE FROM t WHERE (k, ...) IN (subquery)` → merge-on-read
  * EQUALITY delete: the subquery result IS the delete-key set, so the
  * statement costs the subquery plus one delete-file write — no
  * target-table scan, no rewrite (the scale-right shape; SQL IN
  * equality also never matches NULL keys, which is exactly the
  * eq-delete join's semantics). */
case class GraftDeleteInCommand(tablePath: String, keyCols: Seq[String],
    subquery: GraftPlanBox) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    // key names must be REAL table columns before anything commits: an
    // eq-delete file keyed on a typo'd name poisons every subsequent
    // read (the delete-application join fails), where the plain-DELETE
    // path fails before committing — validate against the logical
    // shape, the same metadata-only truth INSERT aligns to
    // key spellings resolve CASE-INSENSITIVELY like Spark's resolver,
    // and the eq-delete is keyed by the shape's canonical casing — a
    // wrong-case key column in the delete file would silently fail to
    // apply on a case-sensitive store
    val shape = IcebergLite.logicalShape(tablePath, None)
    val resolved = keyCols.map(k =>
      GraftSqlCatalog.resolveColumn(shape.fieldNames, k).getOrElse(k))
    // two case-variant spellings of one column are the same key twice
    require(resolved.map(_.toLowerCase).distinct.length == resolved.length,
      s"DELETE ... IN names a key column twice: ${keyCols.mkString(", ")}")
    val unknown = resolved.filterNot(shape.fieldNames.contains)
    require(shape.isEmpty || unknown.isEmpty,
      s"DELETE ... IN key columns not in the table: ${unknown.mkString(", ")}")
    val keys = org.apache.spark.sql.GraftColumnBridge.toDF(spark, subquery.plan)
    require(keys.columns.length == keyCols.length,
      s"IN subquery produces ${keys.columns.length} columns for " +
        s"${keyCols.length} key columns")
    IcebergLite.deleteEquality(spark, tablePath, keys.toDF(resolved: _*))
    Nil
  }
}

/** `UPDATE t SET col = expr WHERE (k, ...) IN (subquery)` → the
  * update-only merge: the subquery result is the key set, the
  * SET expressions transform matched rows in place (target columns
  * bare), unmatched keys no-op, and the rewrite stays scoped to
  * key-touched files. Duplicate subquery keys dedupe first (IN is a
  * set-membership test; the merge primitive rejects ambiguous
  * duplicate sources). */
case class GraftUpdateInCommand(tablePath: String, keyCols: Seq[String],
    assignments: Seq[(String, org.apache.spark.sql.Column)],
    subquery: GraftPlanBox) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    // same case-insensitive key resolution as the DELETE ... IN route
    val shape = IcebergLite.logicalShape(tablePath, None)
    val resolved = keyCols.map(k =>
      GraftSqlCatalog.resolveColumn(shape.fieldNames, k).getOrElse(k))
    require(resolved.map(_.toLowerCase).distinct.length == resolved.length,
      s"UPDATE ... IN names a key column twice: ${keyCols.mkString(", ")}")
    val unknown = resolved.filterNot(shape.fieldNames.contains)
    require(shape.isEmpty || unknown.isEmpty,
      s"UPDATE ... IN key columns not in the table: ${unknown.mkString(", ")}")
    val keys = org.apache.spark.sql.GraftColumnBridge.toDF(spark, subquery.plan)
    require(keys.columns.length == keyCols.length,
      s"IN subquery produces ${keys.columns.length} columns for " +
        s"${keyCols.length} key columns")
    // SET target spellings canonicalize like MERGE's (the merge
    // primitive's rename translation and badAssign check are
    // exact-case): `SET V = 1` on column v must update v, not fail
    val assignsC = assignments.map { case (n, c) =>
      (GraftSqlCatalog.resolveColumn(shape.fieldNames, n).getOrElse(n), c) }
    IcebergLite.merge(spark, tablePath, keys.toDF(resolved: _*).distinct(), resolved,
      whenMatched = IcebergLite.WhenMatched.Update(assignsC),
      whenNotMatched = IcebergLite.WhenNotMatched.Skip)
    Nil
  }
}

/** `UPDATE ... SET ... WHERE ...` → [[IcebergLite.updateWhere]]
  * (copy-on-write, condition-pruned rewrite scope, rows may move
  * partitions when a partition-driving column is assigned). */
case class GraftUpdateCommand(tablePath: String,
    assignments: Seq[(String, org.apache.spark.sql.Column)],
    condition: org.apache.spark.sql.Column) extends RunnableCommand {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    // SET target spellings resolve case-insensitively against the
    // logical shape (metadata-only) before updateWhere's exact-case
    // assignment validation, mirroring the MERGE/UPDATE-IN routes
    val shape = IcebergLite.logicalShape(tablePath, None)
    val assignsC = assignments.map { case (n, c) =>
      (GraftSqlCatalog.resolveColumn(shape.fieldNames, n).getOrElse(n), c) }
    IcebergLite.updateWhere(spark, tablePath, condition, assignsC)
    Nil
  }
}

/** Supported `MERGE INTO` shapes → [[IcebergLite.merge]] (see
  * [[GraftSqlResolution.mergeFor]] for the mapping). */
case class GraftMergeCommand(tablePath: String, source: LogicalPlan,
    keyCols: Seq[String], whenMatched: IcebergLite.WhenMatched,
    whenNotMatched: IcebergLite.WhenNotMatched, toBranch: Option[String],
    keyRenames: Map[String, String] = Map.empty) extends RunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = source :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
  override def run(spark: SparkSession): Seq[Row] = {
    val srcRaw = org.apache.spark.sql.GraftColumnBridge.toDF(spark, source)
    // differently-named ON keys: the source key column takes its
    // target name before anything else sees the frame
    val src0 =
      if (keyRenames.isEmpty) srcRaw
      else {
        // the ON-clause spelling of a source key resolves against the
        // actual source columns CASE-INSENSITIVELY (Spark's resolver
        // accepts `ON t.id = src.O_KEY` for column o_key); the rename
        // map must then be keyed by the ACTUAL name, or
        // withColumnsRenamed silently no-ops on the case mismatch
        val resolved = keyRenames.map { case (sn, tn) =>
          val actual = GraftSqlCatalog.resolveColumn(srcRaw.columns, sn).getOrElse(
            throw new IllegalArgumentException(
              s"MERGE ON names source column $sn which the source lacks"))
          require(!srcRaw.columns.exists(c =>
              !c.equalsIgnoreCase(actual) && c.equalsIgnoreCase(tn)),
            s"cannot rename source key $sn to $tn: the source already has " +
              s"a column named $tn")
          actual -> tn
        }
        srcRaw.withColumnsRenamed(resolved)
      }
    // same cast discipline as INSERT: table-schema columns align to
    // their live types — the WRITE TARGET's head (branch merges align
    // to the branch schema, which may have evolved past main's) —
    // while extra source columns (tombstone/precedence helpers) ride
    // along untouched. The shape comes from METADATA (logicalShape =
    // recorded schema + renames + spec columns), never from planning
    // the read: a write must not pay O(files) for a schema question
    val alignSnap = toBranch.map(IcebergLite.resolveRef(tablePath, _))
    // schema-tracked: metadata-only; pre-tracking adopted roots (data
    // but no recorded schema) fall back to planning the read — the
    // only place the column names exist is the files themselves
    val live =
      if (IcebergLite.tableSchema(tablePath, alignSnap).isDefined)
        IcebergLite.logicalShape(tablePath, alignSnap)
      else IcebergLite.read(spark, tablePath, alignSnap).schema
    // alignment matches CASE-INSENSITIVELY (the rename above may have
    // used the ON clause's spelling of the target key) and ALIASES to
    // the schema's own casing, so the aligned frame carries the
    // table's canonical column names whatever the statement spelled.
    // Extra source columns (tombstone/precedence riders) are the ones
    // the alignment did not CONSUME — a rider that happens to be a
    // case variant of a consumed column still rides along untouched
    val src =
      if (live.isEmpty) src0
      else {
        def actual(name: String): Option[String] =
          GraftSqlCatalog.resolveColumn(src0.columns, name)
        val consumed = live.fields.toSeq.flatMap(f => actual(f.name)).toSet
        src0.select(
          (live.fields.toSeq.flatMap(f =>
            actual(f.name).map(c => col(c).cast(f.dataType).as(f.name))) ++
            src0.columns.toSeq.filterNot(consumed.contains).map(col)): _*)
      }
    // user spellings of the ON keys, the precedence column and the
    // SET/INSERT target columns resolve to the live schema's canonical
    // casing BEFORE the merge primitive: its logical→physical rename
    // translation is an exact-case map, so a case-variant spelling of
    // a RENAMED column would otherwise pass through untranslated
    def canon(n: String): String =
      GraftSqlCatalog.resolveColumn(live.fieldNames, n).getOrElse(n)
    def canonAll(assigns: Seq[(String, org.apache.spark.sql.Column)]) =
      assigns.map { case (n, c) => (canon(n), c) }
    IcebergLite.merge(spark, tablePath, src, keyCols.map(canon), toBranch = toBranch,
      whenMatched = whenMatched match {
        case m: IcebergLite.WhenMatched.UpdateAll => m.copy(precedence = m.precedence.map(canon))
        case m: IcebergLite.WhenMatched.Update => m.copy(assigns = canonAll(m.assigns))
        case m => m
      },
      whenNotMatched = whenNotMatched match {
        case IcebergLite.WhenNotMatched.Insert(a) => IcebergLite.WhenNotMatched.Insert(canonAll(a))
        case n => n
      })
    Nil
  }
}

/** Optimizer rule (operator-optimization batch): metadata pruning for
  * SQL predicates, then marker removal. Runs inside the batch's fixed
  * point, so the subplan it substitutes still receives column pruning
  * and parquet filter pushdown afterwards. */
case class GraftMetadataPrune(spark: SparkSession) extends Rule[LogicalPlan] {
  /** Build the real read over the filter-surviving files and splice it
    * under the marker's ORIGINAL exprIds so references above keep
    * resolving. By-name with casts: the marker's metadata-derived
    * shape is authoritative for names; the physical read's types may
    * be narrower (pre-widening files) and recovered partition columns
    * arrive as strings. A column the read lacks entirely null-fills —
    * the same contract add-column evolution gives old files. */
  private def splice(path: String, snap: Option[Long],
      markerOut: Seq[Attribute],
      metaFilters: Seq[graft.sources.IcebergLite.PartitionFilter]): LogicalPlan = {
    // optimizedPlan, NOT analyzed: this splice happens after the
    // early optimizer batches, so e.g. the read's broadcast
    // ResolvedHint must already be eliminated in the subtree
    val planned = IcebergLite.read(spark, path, snap, metaFilters)
      .queryExecution.optimizedPlan
    if (planned.output.isEmpty)
      // every file pruned (or empty snapshot): metadata-only empty
      // result with the original attributes
      LocalRelation(markerOut)
    else {
      val byName = planned.output.map(a => a.name -> a).toMap
      val remap = markerOut.map { o =>
        val e: Expression = byName.get(o.name) match {
          case Some(n) if n.dataType == o.dataType => n
          case Some(n) => Cast(n, o.dataType)
          case None => Cast(org.apache.spark.sql.catalyst.expressions.Literal(null),
            o.dataType)
        }
        Alias(e, o.name)(exprId = o.exprId)
      }
      Project(remap, planned)
    }
  }

  /** True when every output of the aggregate is a plain COUNT(*) /
    * COUNT(1) — no DISTINCT, no FILTER clause, no column argument
    * (COUNT(col) is null-sensitive and must scan). */
  private def countStarOnly(
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Boolean =
    aggExprs.nonEmpty && aggExprs.forall {
      case Alias(ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression, _) =>
        !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
          case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count =>
            c.children.forall {
              case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value != null
              case _ => false
            }
          case _ => false
        })
      case _ => false
    }

  /** The marker under any stack of Projects — a Project never changes
    * row count, so a count above it still counts the table. */
  private def markerBelowProjects(p: LogicalPlan): Option[GraftRelation] = p match {
    case g: GraftRelation => Some(g)
    case Project(_, child) => markerBelowProjects(child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // unfiltered COUNT(*) answers from the manifest-list totals — at
    // 100 TB the difference between a metadata read and a full scan.
    // Refused (falls through to the scan) whenever the count could
    // disagree with a read: pending merge-on-read deletes at this
    // snapshot, or totals the list does not carry (legacy/unknown)
    case agg @ org.apache.spark.sql.catalyst.plans.logical.Aggregate(
        Nil, aggExprs, child, _)
        if countStarOnly(aggExprs) && markerBelowProjects(child).exists { g =>
          IcebergLite.rowDeletes(g.tablePath, g.snapshotId).isEmpty &&
          IcebergLite.posDeletes(g.tablePath, g.snapshotId).isEmpty &&
          IcebergLite.eqDeletes(g.tablePath, g.snapshotId).isEmpty &&
          IcebergLite.snapshotTotals(g.tablePath, g.snapshotId).isDefined
        } =>
      val g = markerBelowProjects(child).get
      val rows = IcebergLite.snapshotTotals(g.tablePath, g.snapshotId).get._1
      LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
        Seq(org.apache.spark.sql.catalyst.InternalRow(
          aggExprs.map(_ => rows): _*)))
    case Filter(cond, GraftRelation(path, snap, out)) =>
      Filter(cond, splice(path, snap, out, IcebergLite.filtersFromExpression(cond)))
    case GraftRelation(path, snap, out) => splice(path, snap, out, Nil)
  }
}

/** `INSERT INTO` appends; `INSERT OVERWRITE` is dynamic-partition
  * replacement on spec-partitioned tables ([[IcebergLite.overwrite]]
  * semantics: partitions present in the query's result are replaced,
  * the rest carried verbatim). Source columns align positionally
  * (`BY NAME` by name), cast to the table's logical schema; a first
  * insert into an empty, spec-less table defines the schema. */
case class GraftInsertCommand(tablePath: String, query: LogicalPlan,
    overwrite: Boolean, byName: Boolean,
    toBranch: Option[String],
    userCols: Seq[String] = Nil) extends RunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = query :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this

  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftColumnBridge.toDF(spark, query)
    // the table's LOGICAL shape is the alignment truth — renames
    // applied and identity-partition source columns recovered (the
    // snapshot data schema alone lacks those); the DDL declaration
    // only contributes COLUMN ORDER (the shape appends recovered
    // partition columns last, the declaration puts them where the
    // user wrote them). Types always come from the live schema so
    // later type-widening is honored over a stale declaration.
    // The shape is METADATA-only (logicalShape, never a planned
    // read): an INSERT must not pay O(files) for a schema question —
    // and must succeed even when a data file in some other partition
    // has vanished from storage.
    // alignment truth follows the WRITE TARGET's head: a branch
    // insert aligns to the branch's schema, not main's
    val alignSnap = toBranch.map(IcebergLite.resolveRef(tablePath, _))
    // schema-tracked: metadata-only; pre-tracking adopted roots fall
    // back to planning the read (names live only in the files); an
    // EMPTY table has no live shape — the declaration takes over
    val live =
      (if (IcebergLite.tableSchema(tablePath, alignSnap).isDefined)
        Option(IcebergLite.logicalShape(tablePath, alignSnap))
      else Option(IcebergLite.read(spark, tablePath, alignSnap).schema))
        .filter(_.nonEmpty)
    val declared = GraftSqlCatalog.declaredSchema(tablePath)
    val logical: Option[StructType] = (live, declared) match {
      case (Some(l), Some(d)) if d.fieldNames.sorted.sameElements(l.fieldNames.sorted) =>
        Some(StructType(d.fieldNames.map(n => l(l.fieldIndex(n)))))
      case (Some(l), _) => Some(l)
      case (None, d) => d
    }
    val aligned = logical match {
      case Some(schema) if userCols.nonEmpty =>
        // explicit column list: source aligns POSITIONALLY to the
        // listed columns; unlisted table columns null-fill (SQL's
        // INSERT (cols) VALUES contract — same as the MERGE INSERT
        // (cols) arm). The list must name real table columns, once.
        require(src.columns.length == userCols.length,
          s"INSERT column list has ${userCols.length} names but the query " +
            s"produces ${src.columns.length} columns")
        // list names resolve case-insensitively (Spark's resolver) and
        // normalize to the schema's own casing before alignment
        val resolvedUser = userCols.map(u =>
          GraftSqlCatalog.resolveColumn(schema.fieldNames, u).getOrElse(u))
        require(resolvedUser.map(_.toLowerCase).distinct.length == userCols.length,
          s"INSERT column list names a column twice: ${userCols.mkString(", ")}")
        val unknown = resolvedUser.filterNot(schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"INSERT column list names absent from the table: ${unknown.mkString(", ")}")
        val listed = src.toDF(resolvedUser: _*)
        listed.select(schema.fields.toSeq.map { f =>
          (if (resolvedUser.contains(f.name)) col(f.name)
           else org.apache.spark.sql.functions.lit(null))
            .cast(f.dataType).as(f.name)
        }: _*)
      case Some(schema) =>
        require(src.columns.length == schema.length,
          s"INSERT column count ${src.columns.length} != table ${schema.length}")
        val positioned =
          if (byName) {
            val missing = schema.fieldNames
              .filterNot(n => GraftSqlCatalog.resolveColumn(src.columns, n).isDefined)
            require(missing.isEmpty, s"BY NAME insert missing ${missing.mkString(", ")}")
            src.select(schema.fieldNames.toSeq.map(col): _*)
          } else src.toDF(schema.fieldNames.toSeq: _*)
        positioned.select(schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
      // schema-defining first insert: an explicit list names the columns
      case None if userCols.nonEmpty =>
        require(src.columns.length == userCols.length,
          s"INSERT column list has ${userCols.length} names but the query " +
            s"produces ${src.columns.length} columns")
        require(userCols.distinct.length == userCols.length,
          s"INSERT column list names a column twice: ${userCols.mkString(", ")}")
        src.toDF(userCols: _*)
      case None => src
    }
    if (overwrite) {
      require(IcebergLite.partitionSpec(tablePath).nonEmpty,
        "INSERT OVERWRITE needs a partition spec (dynamic overwrite); " +
          "unpartitioned full rewrites go through delete + insert")
      IcebergLite.overwrite(spark, tablePath, aligned, Nil)
    } else IcebergLite.append(spark, tablePath, aligned, toBranch = toBranch)
    Nil
  }
}

/** Maintenance PROCEDURES (`CALL graft.system.<proc>(...)`) — real
  * Iceberg's stored-procedure surface on Spark 4's ProcedureCatalog
  * API. Every procedure takes the table as `'db.table'`, runs the
  * corresponding metadata/maintenance primitive, and returns its
  * outcome as rows (a `LocalScan` — driver-side result, no executor
  * machinery for what is metadata work). */
object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  private def p(name: String, t: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(name, t).build()

  private final class Proc(procName: String, ps: Seq[ProcedureParameter],
      out: StructType, run: (SparkSession, InternalRow) => Seq[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft maintenance procedure $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = ps.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val result = run(org.apache.spark.sql.SparkSession.active, input).toArray
      util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = result
        override def readSchema(): StructType = out
      }).iterator()
    }
  }

  private def out(fields: (String, org.apache.spark.sql.types.DataType)*) =
    StructType(fields.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t, nullable = false) })

  def all(root: String): Map[String, UnboundProcedure] = {
    def path(input: InternalRow): String = {
      val parts = input.getUTF8String(0).toString.split("\\.", 2)
      require(parts.length == 2, "table must be 'db.table'")
      Catalog.tablePath(root, parts(0), parts(1))
    }
    def row(vs: Any*) = InternalRow.fromSeq(vs)
    Map(
      "expire_snapshots" -> new Proc("expire_snapshots",
        Seq(p("table", StringType), p("retain_last", IntegerType),
          p("older_than_ms", LongType)),
        out("expired_snapshots" -> IntegerType, "deleted_files" -> IntegerType),
        (s, in) => {
          val (snaps, files) = IcebergLite.expireSnapshots(path(in), in.getInt(1),
            Some(in.getLong(2)).filter(_ > 0))
          Seq(row(snaps, files))
        }),
      "remove_orphan_files" -> new Proc("remove_orphan_files",
        Seq(p("table", StringType), p("older_than_ms", LongType)),
        out("orphans_deleted" -> IntegerType),
        (s, in) => Seq(row(
          IcebergLite.removeOrphanFiles(path(in), in.getLong(1)).size))),
      "rewrite_data_files" -> new Proc("rewrite_data_files",
        Seq(p("table", StringType), p("small_bytes", LongType)),
        out("snapshot_id" -> LongType),
        (s, in) => Seq(row(
          if (in.getLong(1) > 0) IcebergLite.compactSmallFiles(s, path(in), in.getLong(1))
          else IcebergLite.compact(s, path(in))))),
      "rewrite_manifests" -> new Proc("rewrite_manifests",
        Seq(p("table", StringType), p("target_manifests", IntegerType)),
        out("snapshot_id" -> LongType),
        (s, in) => Seq(row(
          IcebergLite.rewriteManifests(s, path(in), in.getInt(1))))),
      "rollback_to_snapshot" -> new Proc("rollback_to_snapshot",
        Seq(p("table", StringType), p("snapshot_id", LongType)),
        out("current_snapshot_id" -> LongType),
        (s, in) => Seq(row(IcebergLite.rollbackTo(path(in), in.getLong(1))))),
      "cherrypick_snapshot" -> new Proc("cherrypick_snapshot",
        Seq(p("table", StringType), p("snapshot_id", LongType)),
        out("current_snapshot_id" -> LongType),
        (s, in) => Seq(row(IcebergLite.cherryPick(path(in), in.getLong(1))))),
      "fast_forward" -> new Proc("fast_forward",
        Seq(p("table", StringType), p("branch", StringType)),
        out("current_snapshot_id" -> LongType),
        (s, in) => Seq(row(IcebergLite.fastForwardMain(path(in),
          in.getUTF8String(1).toString)))),
      "create_branch" -> new Proc("create_branch",
        Seq(p("table", StringType), p("name", StringType)),
        out("snapshot_id" -> LongType),
        (s, in) => Seq(row(IcebergLite.createBranch(path(in),
          in.getUTF8String(1).toString)))),
      "create_tag" -> new Proc("create_tag",
        Seq(p("table", StringType), p("name", StringType)),
        out("snapshot_id" -> LongType),
        (s, in) => Seq(row(IcebergLite.createTag(path(in),
          in.getUTF8String(1).toString)))))
  }
}

/** Spark `TableCatalog` over the catalog JSON: DDL + name listing.
  * `loadTable` intentionally reports no-such-table so reads resolve
  * through [[GraftSqlResolution]] (see class doc). Also a
  * `ProcedureCatalog`: `CALL graft.system.<proc>(...)` runs the
  * maintenance surface ([[GraftProcedures]]). */
class GraftCatalogPlugin extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null, s"spark.sql.catalog.$name.root must point at the catalog dir")
    Catalog.init(root)
  }
  override def name(): String = catalogName

  private def db(namespace: Array[String]): String = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace.toSeq)
    namespace.head
  }

  // ------------------------------------------------------- namespaces
  override def listNamespaces(): Array[Array[String]] =
    Catalog.listDatabases(root).map(Array(_)).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else { loadNamespaceMetadata(namespace); Array.empty }
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (Catalog.listDatabases(root).contains(db(namespace))) new util.HashMap()
    else throw new NoSuchNamespaceException(namespace.toSeq)
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    Catalog.createDatabase(root, db(namespace))
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = db(namespace)
    if (!Catalog.listDatabases(root).contains(d)) false
    else {
      val tables = Catalog.listTables(root, d)
      val views = Catalog.listViews(root, d)
      // views count toward emptiness and drop with the namespace — an
      // orphaned document would keep resolving (and block re-creating
      // a same-named table) after its database is gone
      require(cascade || (tables.isEmpty && views.isEmpty),
        s"namespace $d is not empty: ${(tables ++ views).mkString(", ")}")
      views.foreach(Catalog.dropView(root, d, _))
      tables.foreach(Catalog.dropTable(root, d, _, purge = false))
      Catalog.dropDatabase(root, d)
      true
    }
  }

  // ------------------------------------------------------- procedures
  private lazy val procedures = GraftProcedures.all(root)
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procedures.keys.toSeq.sorted.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")) &&
      procedures.contains(ident.name),
      s"unknown procedure $ident (see CALL graft.system.<name>)")
    procedures(ident.name)
  }

  // ------------------------------------------------------------ views
  // The full ViewCatalog contract over the catalog's view store.
  // Spark 4.1 ships the interface without v2 view EXECUTION, so SQL
  // statements route through GraftSqlResolution — implementing the
  // interface still matters: catalog-resolution rules accept view
  // identifiers for this catalog, and API users get the reference's
  // metastore view surface (Table.java:38-61) programmatically.
  import org.apache.spark.sql.connector.catalog.{View, ViewChange, ViewInfo}
  override def listViews(namespace: String*): Array[Identifier] = {
    loadNamespaceMetadata(namespace.toArray)
    Catalog.listViews(root, namespace.head)
      .map(Identifier.of(namespace.toArray, _)).toArray
  }
  override def viewExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      Catalog.viewDoc(root, ident.namespace.head, ident.name).isDefined
  private def asView(ident: Identifier, doc: Catalog.ViewDoc): View = new View {
    override def name(): String = (ident.namespace :+ ident.name).mkString(".")
    override def query(): String = doc.sql
    override def currentCatalog(): String = doc.catalog
    override def currentNamespace(): Array[String] = ident.namespace
    override def schema(): StructType =
      org.apache.spark.sql.types.DataType.fromJson(doc.schemaJson)
        .asInstanceOf[StructType]
    override def queryColumnNames(): Array[String] = Array.empty
    override def columnAliases(): Array[String] = doc.aliases.toArray
    override def columnComments(): Array[String] = Array.empty
    override def properties(): util.Map[String, String] = {
      val m = new util.HashMap[String, String]()
      doc.properties.foreach { case (k, v) => m.put(k, v) }
      doc.comment.foreach(m.put(org.apache.spark.sql.connector.catalog
        .ViewCatalog.PROP_COMMENT, _))
      m
    }
  }
  override def loadView(ident: Identifier): View = {
    if (ident.namespace.length != 1)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    Catalog.viewDoc(root, ident.namespace.head, ident.name)
      .map(asView(ident, _)).getOrElse(throw
        new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
  }
  override def createView(info: ViewInfo): View = {
    val props = info.properties.asScala.toMap
    val doc = Catalog.ViewDoc(info.sql, info.currentCatalog,
      info.columnAliases.toSeq,
      props.get(org.apache.spark.sql.connector.catalog.ViewCatalog.PROP_COMMENT),
      props - org.apache.spark.sql.connector.catalog.ViewCatalog.PROP_COMMENT,
      info.schema.json)
    // the API path runs the same cycle refusal as SQL — two mutually-
    // referencing documents would make every read of either spin to an
    // analyzer max-iterations failure. (Body analysis is the SQL
    // command's job; API callers hand the schema in.)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      val closure = GraftViews.viewClosure(s, root, catalogName,
        info.ident.namespace.head, info.sql)
      require(!closure.contains((info.ident.namespace.head, info.ident.name)),
        s"cyclic view reference through ${info.ident}")
    }
    Catalog.createView(root, info.ident.namespace.head, info.ident.name, doc)
    asView(info.ident, doc)
  }
  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val doc = Catalog.viewDoc(root, ident.namespace.head, ident.name)
      .getOrElse(throw
        new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val updated = changes.foldLeft(doc) { (d, c) => c match {
      case s: ViewChange.SetProperty =>
        d.copy(properties = d.properties + (s.property -> s.value))
      case r: ViewChange.RemoveProperty =>
        d.copy(properties = d.properties - r.property)
      case other => throw new UnsupportedOperationException(
        s"unsupported view change: $other")
    }}
    Catalog.createView(root, ident.namespace.head, ident.name, updated,
      replace = true)
    asView(ident, updated)
  }
  override def dropView(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      Catalog.dropView(root, ident.namespace.head, ident.name)
  override def renameView(from: Identifier, to: Identifier): Unit = {
    require(from.namespace.sameElements(to.namespace),
      "RENAME cannot move a view across databases")
    val doc = Catalog.viewDoc(root, from.namespace.head, from.name)
      .getOrElse(throw
        new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from))
    Catalog.createView(root, to.namespace.head, to.name, doc)
    Catalog.dropView(root, from.namespace.head, from.name)
  }

  // ----------------------------------------------------------- tables
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    loadNamespaceMetadata(namespace)
    Catalog.listTables(root, db(namespace))
      .map(Identifier.of(namespace, _)).toArray
  }
  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      Catalog.listDatabases(root).contains(ident.namespace.head) &&
      Catalog.listTables(root, ident.namespace.head).contains(ident.name)
  /** Reads route through [[GraftSqlResolution]], not a DSv2 scan. */
  override def loadTable(ident: Identifier): Table =
    throw new NoSuchTableException(ident)
  override def loadTable(ident: Identifier, version: String): Table =
    throw new NoSuchTableException(ident)
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    throw new NoSuchTableException(ident)
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val path = Catalog.createTable(root, db(ident.namespace), ident.name,
      Option(properties.get(TableCatalog.PROP_LOCATION)))
    if (partitions.nonEmpty)
      IcebergLite.createTable(path,
        partitions.toSeq.map(GraftSqlCatalog.toSpecField(_, schema)))
    // the table layer is schema-on-write; record the declaration so
    // the first INSERT aligns to it (GraftSqlCatalog.declaredSchema)
    if (schema.nonEmpty) GraftSqlCatalog.declareSchema(path, schema)
    val (n, s) = (ident.toString, schema)
    new Table {
      override def name(): String = n
      override def schema(): StructType = s
      override def capabilities(): util.Set[TableCapability] = new util.HashSet()
    }
  }
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "ALTER TABLE goes through IcebergLite's evolution API")
  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else { Catalog.dropTable(root, ident.namespace.head, ident.name); true }
  override def purgeTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else { Catalog.dropTable(root, ident.namespace.head, ident.name, purge = true); true }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace.sameElements(newIdent.namespace),
      "RENAME cannot move a table across databases")
    Catalog.renameTable(root, oldIdent.namespace.head, oldIdent.name, newIdent.name)
  }
}
