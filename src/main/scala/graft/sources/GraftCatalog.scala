package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column => V2Column, Identifier, StagedTable, StagingTableCatalog, SupportsNamespaces, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark `TableCatalog` plugin over [[SnapshotCatalog]] tables — the SQL
  * surface a real lakehouse user reaches for first (the reference's
  * dashboards query tables BY NAME — `fire_detection_app.py:64-74`,
  * `streamlit_app.py:42` — they never see file paths):
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/warehouse
  *
  *   SELECT ... FROM graft.db.events                  -- latest snapshot
  *   SELECT ... FROM graft.db.events VERSION AS OF 3  -- time travel
  *   SELECT ... FROM graft.db.events TIMESTAMP AS OF '...'
  *   INSERT INTO graft.db.events SELECT ...           -- catalog append
  *   INSERT OVERWRITE graft.db.events SELECT ...      -- catalog replace
  *   CREATE TABLE graft.db.t (id BIGINT, p STRING) PARTITIONED BY (p)
  * }}}
  *
  * A table maps to `warehouse/<namespace...>/<name>` — the same delta-log
  * root every Scala-API call uses, so SQL and programmatic access see one
  * table with one commit protocol. READS are rewritten during analysis
  * ([[GraftCatalogResolution]], the Delta `DeltaAnalysis` pattern) into
  * the planner-integrated [[SnapshotFileIndex]] relation — stats-based
  * file skipping, hive partition pruning, DPP, and the DV filter all
  * apply to named-table SQL exactly as to `snapshotDF`.
  * WRITES go through the V1 write fallback ([[V1Write]] →
  * [[InsertableRelation]], the JDBC-connector seam): an INSERT lands as
  * one [[SnapshotCatalog.append]] commit (laid out per the table's
  * partition spec), an INSERT OVERWRITE as one [[SnapshotCatalog.replace]].
  */
object GraftCatalog {
  /** Engine-managed keys Spark threads through `createTable` — not user
    * TBLPROPERTIES, so they never land in the log's `K` line. */
  private val reservedProps = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION)

  private[sources] def userProperties(
      properties: java.util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.toMap.filterNot { case (k, _) =>
      reservedProps.contains(k) || k.startsWith("option.") }
  }

  /** Partitioning transforms split into hive partition columns
    * (identity) and clustering columns (`CLUSTER BY` — the cluster_by
    * transform); anything else refuses. */
  private[sources] def splitTransforms(
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      schema: org.apache.spark.sql.types.StructType)
      : (Seq[String], Seq[String]) = {
    val (clusterT, identT) = partitions.toSeq.partition(_.name == "cluster_by")
    val partCols = identT.map { t =>
      if (t.name != "identity")
        sys.error(s"graft tables support identity partitioning and " +
          s"CLUSTER BY only, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    val clusterCols =
      clusterT.flatMap(_.references.toSeq.map(_.fieldNames.mkString(".")))
    (partCols ++ clusterCols).filterNot(schema.fieldNames.contains) match {
      case Nil => ()
      case missing =>
        sys.error(s"partition/cluster columns $missing not in schema")
    }
    (partCols, clusterCols)
  }
}

class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog {

  private var catName: String = "graft"
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(sys.error(
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catName

  /** The table's delta-log root — shared with the Scala API. */
  def tableRoot(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def fs(p: String) = {
    val path = new Path(p)
    path.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val f = fs(dir)
    if (!f.exists(new Path(dir))) throw new NoSuchNamespaceException(namespace)
    f.listStatus(new Path(dir)).toSeq
      .filter(s => s.isDirectory && SnapshotCatalog.isTable(s.getPath.toString))
      .map(s => Identifier.of(namespace, s.getPath.getName)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val root = tableRoot(ident)
    if (!SnapshotCatalog.isTable(root)) throw new NoSuchTableException(ident)
    GraftTable(root, ident.toString, None)
  }

  /** `VERSION AS OF n` — the log's snapshot version. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tableRoot(ident)
    if (!SnapshotCatalog.isTable(root)) throw new NoSuchTableException(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        sys.error(s"graft version must be a snapshot number, got '$version'")
    }
    if (!SnapshotCatalog.versions(root).contains(v))
      sys.error(s"$ident has no resolvable version $v " +
        s"(surviving: ${SnapshotCatalog.versions(root).mkString(", ")})")
    GraftTable(root, ident.toString, Some(v))
  }

  /** `TIMESTAMP AS OF t` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = tableRoot(ident)
    if (!SnapshotCatalog.isTable(root)) throw new NoSuchTableException(ident)
    val v = SnapshotCatalog.versionAsOf(root, timestamp / 1000L).getOrElse(
      sys.error(s"$ident has no version at or before timestamp $timestamp"))
    GraftTable(root, ident.toString, Some(v))
  }

  override def createTable(ident: Identifier, columns: Array[V2Column],
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val root = tableRoot(ident)
    if (SnapshotCatalog.isTable(root)) throw new TableAlreadyExistsException(ident)
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    val (partCols, clusterCols) =
      GraftCatalog.splitTransforms(partitions, schema)
    val partJson =
      if (partCols.isEmpty) None
      else Some(StructType(partCols.map(schema(_)).toArray).json)
    // the creation commit is metadata-only: the schema (S), partition
    // spec (P), and user TBLPROPERTIES (K — Spark's engine-managed keys
    // filtered out; `CLUSTER BY` lands as the graft.clusterBy property
    // a bare OPTIMIZE clusters by) land in the log; the first INSERT is
    // an ordinary append
    val userProps = GraftCatalog.userProperties(properties) ++
      (if (clusterCols.isEmpty) Map.empty
       else Map("graft.clusterBy" -> clusterCols.mkString(",")))
    if (!SnapshotCatalog.tryCommitEntries(root, 1, adds = Seq.empty,
          removes = Seq.empty, schemaJson = Some(schema.json),
          partJson = partJson,
          props = if (userProps.isEmpty) None else Some(userProps)))
      throw new TableAlreadyExistsException(ident)
    GraftTable(root, ident.toString, None)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table =
    createTable(ident,
      schema.fields.map(f => V2Column.create(f.name, f.dataType, f.nullable)),
      partitions, properties)

  /** `ALTER TABLE ...` — schema and properties evolution as ONE
    * metadata-only commit each:
    *   - ADD COLUMNS: an `S` line unioning the new columns (no data
    *     touched); existing rows null-fill on read (src08/src16);
    *   - DROP COLUMN: an `S` line REPLACING the served schema (the
    *     `schemaset` marker, so later union folds don't resurrect it)
    *     plus a `graft.dropped.<name>` tombstone — old files keep the
    *     physical column, reads project past it, and the tombstone
    *     refuses any later append/ADD of the same name: without
    *     column-mapping physical ids, a re-added name would resurrect
    *     the dropped data from pre-drop files (a full REPLACE clears
    *     the tombstone — the rewrite physically removed the column);
    *   - SET/UNSET TBLPROPERTIES: a `K` line replacing the map;
    *   - RENAME COLUMN refuses with the rewrite pointer (renames need
    *     per-file physical-name mapping — Delta refuses identically
    *     without columnMapping mode). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tableRoot(ident)
    if (!SnapshotCatalog.isTable(root)) throw new NoSuchTableException(ident)
    val adds = changes.collect {
      case a: TableChange.AddColumn =>
        if (a.fieldNames.length != 1)
          sys.error("graft ALTER TABLE supports top-level ADD COLUMNS only")
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, a.isNullable)
    }
    val drops = changes.collect {
      case d: TableChange.DeleteColumn =>
        if (d.fieldNames.length != 1)
          sys.error("graft ALTER TABLE supports top-level DROP COLUMN only")
        d.fieldNames.head
    }
    val setProps = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value }
    val unsetProps = changes.collect {
      case r: TableChange.RemoveProperty => r.property }
    changes.foreach {
      case _: TableChange.AddColumn | _: TableChange.DeleteColumn |
           _: TableChange.SetProperty | _: TableChange.RemoveProperty => ()
      case r: TableChange.RenameColumn =>
        sys.error(s"graft catalog: RENAME COLUMN needs per-file physical-" +
          s"name mapping — rewrite instead (REPLACE TABLE ... AS SELECT " +
          s"${r.fieldNames.mkString(".")} AS ${r.newName}, ...)")
      case other =>
        sys.error(s"graft catalog: unsupported ALTER TABLE change $other " +
          "— re-types need an explicit rewrite")
    }
    SnapshotCatalog.commitLoop("alterTable", root) { v =>
      val cur = SnapshotCatalog.schemaAt(root, v).getOrElse(
        sys.error(s"$ident: schema not log-carried; ALTER needs an S-lined table"))
      val props = SnapshotCatalog.propertiesAt(root, v)
      adds.filter(f => cur.fieldNames.contains(f.name)) match {
        case Seq() => ()
        case dup => sys.error(s"$ident: column(s) ${dup.map(_.name)} already exist")
      }
      adds.filter(f => props.contains(s"graft.dropped.${f.name}")) match {
        case Seq() => ()
        case tomb => sys.error(s"$ident: column(s) ${tomb.map(_.name)} were " +
          "DROPPED — re-adding the name would resurrect the dropped data " +
          "from pre-drop files; REPLACE TABLE ... AS SELECT to rewrite first")
      }
      drops.filterNot(cur.fieldNames.contains) match {
        case Seq() => ()
        case miss => sys.error(s"$ident: cannot DROP missing column(s) " +
          miss.mkString(", "))
      }
      val spec = SnapshotCatalog.partitionSpecAt(root, v)
      drops.filter(d => spec.exists(_.fieldNames.contains(d))) match {
        case Seq() => ()
        case part => sys.error(s"$ident: cannot DROP partition column(s) " +
          s"${part.mkString(", ")} — the directory layout depends on them")
      }
      if (drops.nonEmpty && cur.fields.length - drops.length + adds.length <= 0)
        sys.error(s"$ident: cannot DROP every column")
      // declared clustering columns cannot be dropped (a later bare
      // OPTIMIZE would fail on the missing column — Delta refuses the
      // same way); CLUSTER BY NONE first
      val clusterCols = props.get("graft.clusterBy").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      drops.filter(clusterCols.contains) match {
        case Seq() => ()
        case used => sys.error(s"$ident: column(s) ${used.mkString(", ")} " +
          "are declared CLUSTER BY columns — ALTER TABLE ... CLUSTER BY " +
          "NONE (or re-declare) first")
      }
      // a column a CHECK constraint references cannot be dropped (the
      // Delta rule) — parse each constraint's expression session-free
      SnapshotCatalog.constraintsOf(props).foreach { case (cname, cond) =>
        val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(cond).collect {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              u.name }
        drops.filter(refs.contains) match {
          case Seq() => ()
          case used => sys.error(s"$ident: column(s) ${used.mkString(", ")} " +
            s"are referenced by CHECK constraint $cname ($cond) — drop the " +
            "constraint first")
        }
      }
      val next = StructType(
        cur.fields.filterNot(f => drops.contains(f.name)) ++ adds)
      val nextProps = props ++ setProps --
        unsetProps ++ drops.map(d => s"graft.dropped.$d" -> "true")
      Option.when(SnapshotCatalog.tryCommitEntries(root, v + 1, adds = Seq.empty,
        removes = Seq.empty,
        schemaJson = if (adds.nonEmpty || drops.nonEmpty)
          Some(next.json) else None,
        partJson = spec.map(_.json),
        props = if (nextProps != props) Some(nextProps) else None,
        schemaSet = drops.nonEmpty))(GraftTable(root, ident.toString, None))
    }
  }

  // ---- staged (atomic) CTAS / RTAS -----------------------------------

  private def identityPartCols(partitions: Array[Transform],
                               schema: StructType): Seq[String] =
    GraftCatalog.splitTransforms(partitions, schema)._1

  private def clusterProps(partitions: Array[Transform],
                           schema: StructType): Map[String, String] = {
    val cols = GraftCatalog.splitTransforms(partitions, schema)._2
    if (cols.isEmpty) Map.empty
    else Map("graft.clusterBy" -> cols.mkString(","))
  }

  /** `CREATE TABLE ... AS SELECT` — the staged table buffers the
    * query's output as an uncommitted batch; `commitStagedChanges`
    * lands schema + partition spec + data as ONE version-1 commit, so
    * a failure mid-CTAS leaves NO table (not the create-then-write
    * window's empty half-table; the staged files are orphans
    * [[SnapshotCatalog.sweepOrphans]] collects). */
  override def stageCreate(ident: Identifier, columns: Array[V2Column],
                           partitions: Array[Transform],
                           properties: JMap[String, String]): StagedTable = {
    val root = tableRoot(ident)
    if (SnapshotCatalog.isTable(root)) throw new TableAlreadyExistsException(ident)
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    GraftStagedTable(root, ident.toString, schema,
      identityPartCols(partitions, schema), replaceExisting = false,
      orCreate = false,
      extraProps = GraftCatalog.userProperties(properties) ++
        clusterProps(partitions, schema))
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): StagedTable =
    stageCreate(ident,
      schema.fields.map(f => V2Column.create(f.name, f.dataType, f.nullable)),
      partitions, properties)

  /** `REPLACE TABLE ... AS SELECT` — ONE replace-shaped commit on the
    * EXISTING log (new schema/spec/content, removes every live file):
    * prior versions still time-travel, unlike the non-staging
    * drop-then-recreate fallback which destroys the table's history. */
  override def stageReplace(ident: Identifier, columns: Array[V2Column],
                            partitions: Array[Transform],
                            properties: JMap[String, String]): StagedTable = {
    val root = tableRoot(ident)
    if (!SnapshotCatalog.isTable(root)) throw new NoSuchTableException(ident)
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    GraftStagedTable(root, ident.toString, schema,
      identityPartCols(partitions, schema), replaceExisting = true,
      orCreate = false,
      extraProps = GraftCatalog.userProperties(properties) ++
        clusterProps(partitions, schema))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: JMap[String, String]): StagedTable =
    stageReplace(ident,
      schema.fields.map(f => V2Column.create(f.name, f.dataType, f.nullable)),
      partitions, properties)

  override def stageCreateOrReplace(ident: Identifier, columns: Array[V2Column],
                                    partitions: Array[Transform],
                                    properties: JMap[String, String]): StagedTable = {
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    GraftStagedTable(tableRoot(ident), ident.toString, schema,
      identityPartCols(partitions, schema),
      replaceExisting = SnapshotCatalog.isTable(tableRoot(ident)),
      orCreate = true,
      extraProps = GraftCatalog.userProperties(properties) ++
        clusterProps(partitions, schema))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: JMap[String, String]): StagedTable =
    stageCreateOrReplace(ident,
      schema.fields.map(f => V2Column.create(f.name, f.dataType, f.nullable)),
      partitions, properties)

  override def dropTable(ident: Identifier): Boolean = {
    val root = tableRoot(ident)
    if (!SnapshotCatalog.isTable(root)) false
    else fs(root).delete(new Path(root), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    sys.error("graft catalog: RENAME TABLE is not supported — table " +
      "identity is its warehouse path")

  // ---- namespaces ----------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val f = fs(warehouse)
    if (!f.exists(new Path(warehouse))) Array.empty
    else f.listStatus(new Path(warehouse)).toSeq
      // a TABLE root under the warehouse is not a namespace — without
      // the filter SHOW NAMESPACES would list every top-level table
      .filter(s => s.isDirectory && !SnapshotCatalog.isTable(s.getPath.toString))
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    fs(warehouse).exists(new Path(dir)) && !SnapshotCatalog.isTable(dir)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    fs(warehouse).mkdirs(new Path((warehouse +: namespace.toSeq).mkString("/")))
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    sys.error("graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(dir.toString)
    if (!f.exists(dir)) false
    else if (!cascade && f.listStatus(dir).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    else f.delete(dir, true)
  }
}

/** One named snapshot-catalog table, optionally pinned to a version
  * (time travel). Reads never reach its (absent) scan builder — the
  * analysis rule [[GraftCatalogResolution]] rewrites the relation into
  * the [[SnapshotFileIndex]]-backed v1 plan first; writes use the V1
  * fallback so an INSERT is exactly one catalog commit. `DELETE FROM`
  * routes through [[org.apache.spark.sql.connector.catalog.SupportsDelete]]
  * into the deletion-vector tier — one O(matched rows) commit, no data
  * file rewritten — for any predicate expressible as pushed filters
  * (an inexpressible one fails analysis loudly rather than deleting
  * the wrong rows); `TRUNCATE TABLE` is one replace commit to the
  * empty content (prior versions still time-travel). */
case class GraftTable(root: String, fullName: String, pinnedVersion: Option[Int])
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** PLANNING-ONLY scan: DELETE's filter-pushdown pass builds a scan on
    * the v2 relation before the metadata-only delete conversion runs.
    * Actual READS never reach this — [[GraftCatalogResolution]] rewrote
    * them to the FileIndex relation during analysis — and executing it
    * throws (no toBatch), loud rather than silently empty. */
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = schema
          override def description(): String =
            s"GraftTable($fullName) delete-planning scan"
        }
    }

  override def name(): String = fullName

  /** Log-carried TBLPROPERTIES (at the pinned version for time-travel
    * loads) — `SHOW TBLPROPERTIES` serves straight from this. */
  override def properties(): java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    SnapshotCatalog.propertiesAt(root, resolvedVersion).asJava
  }

  /** The pinned version, or the latest at load time for writes. */
  private def resolvedVersion: Int =
    pinnedVersion.getOrElse(SnapshotCatalog.latestVersion(root))

  private lazy val partSpec: Option[StructType] =
    SnapshotCatalog.partitionSpecAt(root, resolvedVersion)

  /** Served schema = data columns then partition columns — exactly the
    * order [[SnapshotFileIndex.snapshotDF]] outputs, so the analysis
    * rewrite maps attributes one-to-one. */
  override lazy val schema: StructType = {
    val spark = SparkSession.active
    StructType(SnapshotFileIndex.servedSchemas(spark, root, resolvedVersion)
      match { case (data, part) => data.fields ++ part.fields })
  }

  override def partitioning(): Array[Transform] =
    partSpec.map(_.fieldNames.map(Expressions.identity(_)): Array[Transform])
      .getOrElse(Array.empty)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** A pushed v1 filter as a Column, for routing SQL DELETE into the
    * DV tier. None = not expressible — [[canDeleteWhere]] then refuses
    * and Spark raises an analysis error instead of a wrong delete. */
  private def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean = filters.forall(f => filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit = {
    if (pinnedVersion.isDefined)
      sys.error(s"cannot DELETE from $fullName at a pinned version")
    import org.apache.spark.sql.functions.lit
    val cond = filters.foldLeft(lit(true)) { (acc, f) =>
      acc && filterToColumn(f).getOrElse(
        sys.error(s"DELETE predicate not expressible as filters: $f"))
    }
    SnapshotCatalog.deleteWhere(SparkSession.active, root, cond)
    ()
  }

  /** `TRUNCATE TABLE`: one replace commit to the empty content — the
    * default (DV-delete every row) would write O(table rows) of
    * deletion vectors for what is a metadata-level operation; prior
    * versions still time-travel to the pre-truncate content. */
  override def truncateTable(): Boolean = {
    if (pinnedVersion.isDefined)
      sys.error(s"cannot TRUNCATE $fullName at a pinned version")
    val spark = SparkSession.active
    // full schema INCLUDING partition columns, so the spec survives
    // the truncate (an empty partitioned table stays partitioned)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    SnapshotCatalog.replace(empty, root,
      "trunc" + java.util.UUID.randomUUID().toString.take(12),
      partitionBy = partSpec.map(_.fieldNames.toSeq).getOrElse(Seq.empty))
    true
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, overwriteFlag: Boolean) => {
            if (pinnedVersion.isDefined)
              sys.error(s"cannot write to $fullName at a pinned version")
            val cols = partSpec.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
            val batch = "sql" + java.util.UUID.randomUUID().toString.take(12)
            if (overwrite || overwriteFlag)
              SnapshotCatalog.replace(data, root, batch, partitionBy = cols)
            else
              SnapshotCatalog.append(data, root, batch, partitionBy = cols)
            ()
          }
      }
    }
}

/** The in-flight table of an atomic CTAS / RTAS ([[StagedTable]]): the
  * V1 write STAGES the query's output under the table root without
  * committing; `commitStagedChanges` publishes everything — schema,
  * partition spec, data files — as ONE log commit (version 1 for
  * CREATE; a replace-shaped next version for REPLACE, keeping prior
  * versions time-travelable). A crash or abort before the commit
  * leaves no resolvable table state: the staged files are orphans
  * `sweepOrphans` collects (CREATE additionally removes the bare root
  * directory on abort). */
case class GraftStagedTable(root: String, fullName: String,
                            declaredSchema: StructType,
                            partCols: Seq[String],
                            replaceExisting: Boolean,
                            orCreate: Boolean,
                            extraProps: Map[String, String] = Map.empty)
    extends StagedTable with SupportsWrite {

  private val batchName =
    (if (replaceExisting) "rtas" else "ctas") +
      java.util.UUID.randomUUID().toString.take(12)

  @volatile private var staged
      : Option[(Seq[SnapshotCatalog.FileEntry], Option[String], Option[String])] =
    None

  /** Does `cond` resolve against the STAGED schema? (Every column it
    * references must exist in `declaredSchema`, case-insensitively.)
    * A carried-forward constraint from the replaced table whose
    * columns the new schema dropped would otherwise fail analysis on
    * every subsequent write until a manual DROP CONSTRAINT. */
  private def constraintResolves(cond: String): Boolean =
    try {
      val parsed = SparkSession.active.sessionState.sqlParser
        .parseExpression(cond)
      val fields = declaredSchema.fieldNames.map(_.toLowerCase).toSet
      parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }.forall(n => fields.contains(n.toLowerCase))
    } catch { case scala.util.control.NonFatal(_) => false }

  /** CHECK constraints the staged write must enforce IN-PASS: the ones
    * declared in this CTAS/RTAS's own TBLPROPERTIES, plus — for a
    * REPLACE — the replaced table's constraints that still resolve
    * against the new schema (REPLACE resets metadata referencing
    * vanished columns; surviving constraints keep enforcing). Without
    * this, `CREATE TABLE ... TBLPROPERTIES('graft.constraints.c'=...)
    * AS SELECT` would publish version 1 carrying rows that violate its
    * own declared constraint — enforced on every LATER write but never
    * on the rows it landed with. */
  private def effectiveConstraints: Map[String, String] = {
    val declared = SnapshotCatalog.constraintsOf(extraProps)
    val carried =
      if (!replaceExisting) Map.empty[String, String]
      else SnapshotCatalog.latestVersionOption(root)
        .map(v => SnapshotCatalog.constraintsOf(
          SnapshotCatalog.propertiesAt(root, v)))
        .getOrElse(Map.empty)
        .filter { case (_, cond) => constraintResolves(cond) }
    carried ++ declared
  }

  override def name(): String = fullName
  override def schema: StructType = declaredSchema
  override def partitioning(): Array[Transform] =
    partCols.map(Expressions.identity(_)).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // SupportsTruncate: the RTAS exec plans its write as truncate-and-
    // write; the staged commit IS the replace, so the flag is moot
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
            staged = Some(SnapshotCatalog.stageBatch(
              data, root, batchName, partCols, recordStats = true,
              constraintsOverride = Some(effectiveConstraints)))
            ()
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val (entries, schemaJson, partJson) = staged.getOrElse(
      sys.error(s"CTAS/RTAS on $fullName: nothing was staged"))
    if (!replaceExisting) {
      // CREATE: the whole table IS this one version-1 commit
      if (!SnapshotCatalog.tryCommitEntries(root, 1,
            adds = entries.distinct.sortBy(_.path),
            removes = Seq.empty, schemaJson = schemaJson, partJson = partJson,
            props = if (extraProps.isEmpty) None else Some(extraProps)))
        throw new TableAlreadyExistsException(
          Identifier.of(Array.empty[String], fullName))
    } else
      SnapshotCatalog.commitLoop("REPLACE TABLE", root) { pv =>
        if (pv == 0 && !orCreate)
          sys.error(s"REPLACE TABLE $fullName: the table vanished under " +
            "the staged replace")
        // REPLACE also resets constraints whose columns the new schema
        // no longer carries — keeping them would fail analysis on every
        // subsequent write until a manual DROP CONSTRAINT
        Option.when(SnapshotCatalog.tryReplaceAt(root, pv, entries,
          schemaJson, partJson, declaredSchema.fieldNames.toSeq,
          _.filterNot { case (k, v) =>
            k.startsWith("graft.constraints.") && !constraintResolves(v)
          } ++ extraProps))(())
      }
  }

  override def abortStagedChanges(): Unit = {
    val fs = new Path(root)
      .getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    val dataDir = new Path(s"$root/data/$batchName")
    if (fs.exists(dataDir)) fs.delete(dataDir, true)
    // a CREATE that staged into a fresh root leaves no table behind
    if (!replaceExisting && !SnapshotCatalog.isTable(root) &&
        fs.exists(new Path(root))) {
      val dataRoot = new Path(s"$root/data")
      if (!fs.exists(dataRoot) || fs.listStatus(dataRoot).isEmpty)
        fs.delete(new Path(root), true)
    }
    ()
  }
}

/** Analysis rule (injected via `GraftExtensions`): rewrites every READ
  * of a [[GraftTable]] into the v1 [[SnapshotFileIndex]] relation — the
  * Delta `DeltaAnalysis` pattern — so named-table SQL plans the SAME
  * pruned FileScan as the programmatic API, deletion vectors
  * subtracted. Write commands keep their v2 relation (the V1 write
  * fallback needs it): `V2WriteCommand` holds its table outside the
  * child list, and `InsertIntoStatement`'s table child is guarded
  * explicitly. */
case class GraftCatalogResolution(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, SubqueryExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, UpdateAction, UpdateTable}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
  import org.apache.spark.sql.graftbridge.Bridge

  private def graftTableIn(plan: LogicalPlan): Option[GraftTable] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        r.table.asInstanceOf[GraftTable]
    }

  /** A resolved expression as a Column that re-resolves BY NAME over a
    * fresh snapshot read: the command executes against its own read of
    * the table, whose attribute ids differ from the SQL plan's. */
  private def byNameColumn(e: Expression): Column =
    Bridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** The `ON t.k = s.k [AND ...]` equality key columns of an upsert
    * MERGE — every conjunct must equate same-named columns of the two
    * sides. The analyzer wraps a narrower side in a Cast
    * (`t.id = CAST(s.id AS BIGINT)` when the source carries INT ids —
    * the common migration shape), so casts are looked through; the
    * command aligns the source to the table's types before it lands.
    * None = not the upsert shape. */
  private def upsertKeys(cond: Expression): Option[Seq[String]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    def stripCast(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => stripCast(c.child)
      case x => x
    }
    val keys = split(cond).map {
      case EqualTo(l, r) => (stripCast(l), stripCast(r)) match {
        case (a: AttributeReference, b: AttributeReference)
            if a.name == b.name => Some(a.name)
        case _ => None
      }
      case _ => None
    }
    if (keys.forall(_.isDefined)) Some(keys.flatten.distinct) else None
  }

  /** True when the assignments are exactly the star expansion: every
    * target column set from the same-named source attribute. */
  private def isStarAssignment(as: Seq[Assignment]): Boolean =
    as.forall {
      case Assignment(k: AttributeReference, v: AttributeReference) =>
        k.name == v.name
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case i: InsertIntoStatement =>
      // the write-side relation must stay v2 for ResolveInsertInto
      i.copy(query = apply(i.query))
    case u: UpdateTable if u.resolved && graftTableIn(u.table).isDefined =>
      // UPDATE → one merge-on-read commit (DV-delete matched positions
      // + append the transformed copies), through updateWhere
      val t = graftTableIn(u.table).get
      val set = u.assignments.map {
        case Assignment(k: AttributeReference, v) => k.name -> byNameColumn(v)
        case a => sys.error(s"graft UPDATE supports top-level column " +
          s"assignments only, got ${a.key.sql}")
      }
      GraftUpdateCommand(t.root, t.fullName,
        u.condition.map(byNameColumn), set)
    case m: MergeIntoTable if m.resolved &&
        graftTableIn(m.targetTable).isDefined =>
      // MERGE routes into the merge-on-read tier: the canonical
      // unconditioned star upsert takes the fast path (broadcast key
      // set, whole source appended); every other matched/not-matched
      // shape — conditioned or partial UPDATE, matched DELETE,
      // conditioned INSERT, and NOT MATCHED BY SOURCE UPDATE/DELETE
      // (the unmatched target side, still one O(actioned) merge-on-
      // read commit: positions DV-deleted, transformed copies
      // appended, no file rewritten) — converts to one generalized
      // SnapshotCatalog.mergeInto commit.
      val t = graftTableIn(m.targetTable).get
      val keys = upsertKeys(m.mergeCondition).getOrElse(
        sys.error("graft MERGE needs an equality join on same-named " +
          s"columns, got: ${m.mergeCondition.sql}"))
      val starShape =
        m.notMatchedBySourceActions.isEmpty &&
        (m.matchedActions match {
          case Seq(UpdateAction(None, as, _)) => isStarAssignment(as)
          case _ => false
        }) &&
        (m.notMatchedActions match {
          case Seq(InsertAction(None, as)) => isStarAssignment(as)
          case _ => false
        })
      if (starShape)
        GraftMergeCommand(t.root, t.fullName, apply(m.sourceTable), keys)
      else {
        // side-aware by-name re-resolution: the command evaluates the
        // clauses over a join frame whose source columns are __src_-
        // prefixed — map each resolved attribute to its side's name
        val srcIds = m.sourceTable.output.map(_.exprId).toSet
        def sideCol(e: Expression): Column = Bridge.column(e.transform {
          case a: AttributeReference if srcIds.contains(a.exprId) =>
            UnresolvedAttribute.quoted(s"__src_${a.name}")
          case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
        })
        def assigns(as: Seq[Assignment], what: String): Seq[(String, Column)] =
          as.map {
            case Assignment(k: AttributeReference, v) => k.name -> sideCol(v)
            case a => sys.error(s"graft MERGE supports top-level column " +
              s"$what only, got ${a.key.sql}")
          }
        val matched = m.matchedActions.map {
          case UpdateAction(cond, as, _) =>
            SnapshotCatalog.MergeUpdateClause(cond.map(sideCol),
              assigns(as, "assignments"))
          case DeleteAction(cond) =>
            SnapshotCatalog.MergeDeleteClause(cond.map(sideCol))
          case other => sys.error(
            s"graft MERGE: unsupported matched action $other")
        }
        val notMatched = m.notMatchedActions.map {
          case InsertAction(cond, as) =>
            SnapshotCatalog.MergeInsertClause(cond.map(sideCol),
              assigns(as, "insert values"))
          case other => sys.error(
            s"graft MERGE: unsupported not-matched action $other")
        }
        // by-source clauses evaluate over unmatched TARGET rows — no
        // source row exists; the analyzer already scopes their
        // conditions/assignments to the target, so sideCol's source
        // mapping is vacuous here
        val bySource = m.notMatchedBySourceActions.map {
          case UpdateAction(cond, as, _) =>
            SnapshotCatalog.MergeUpdateClause(cond.map(sideCol),
              assigns(as, "assignments"))
          case DeleteAction(cond) =>
            SnapshotCatalog.MergeDeleteClause(cond.map(sideCol))
          case other => sys.error(
            s"graft MERGE: unsupported not-matched-by-source action $other")
        }
        GraftMergeIntoCommand(t.root, t.fullName, apply(m.sourceTable),
          keys, matched, notMatched, bySource)
      }
    case d: DeleteFromTable if d.resolved && graftTableIn(d.table).isDefined &&
        !d.condition.exists(_.exists(_.isInstanceOf[SubqueryExpression])) =>
      // DELETE with ANY deterministic predicate — not just the
      // pushed-filter subset SupportsDelete can express: route into
      // the same deletion-vector tier through deleteWhere (one
      // O(matched rows) commit, no data file rewritten). Subquery
      // predicates stay on the refusing path below — the command
      // re-evaluates its condition over its own fresh snapshot read,
      // where a correlated subquery's bindings are not defined.
      val t = graftTableIn(d.table).get
      if (t.pinnedVersion.isDefined)
        sys.error(s"cannot DELETE from ${t.fullName} at a pinned version")
      if (!d.condition.deterministic)
        sys.error(s"graft DELETE needs a deterministic predicate, " +
          s"got ${d.condition.sql}")
      GraftDeleteCommand(t.root, t.fullName, byNameColumn(d.condition))
    case d @ (_: DeleteFromTable | _: UpdateTable | _: MergeIntoTable) =>
      // row-level commands keep their v2 relation until resolved
      // (subquery DELETEs plan through SupportsDelete and refuse at
      // analysis; UPDATE/MERGE convert above once their assignments
      // resolve) — only condition subqueries get the read rewrite here
      d.transformExpressionsUp {
        case se: SubqueryExpression => se.withNewPlan(apply(se.plan))
      }
    case s: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
        if s.table.isInstanceOf[GraftTable] =>
      // `spark.readStream.table("graft.db.t")` — rewrite the v2
      // streaming relation into the V1 graft-feed source (the Delta
      // pattern: DeltaAnalysis swaps in its own source), carrying the
      // reader's options through (maxVersionsPerTrigger,
      // startingVersion, readChangeFeed — the CDF columns then come
      // from the SOURCE's schema, which is why the node is replaced
      // outright: downstream references resolve against the new
      // output in the same fixed point)
      val t = s.table.asInstanceOf[GraftTable]
      if (t.pinnedVersion.isDefined)
        sys.error(s"cannot stream ${t.fullName} at a pinned version — " +
          "streaming reads serve the LIVE table (use startingVersion)")
      import scala.jdk.CollectionConverters._
      Bridge.streamingRelation(spark,
        classOf[GraftFeedSourceProvider].getName,
        s.extraOptions.asScala.toMap + ("root" -> t.root))
    case rel: DataSourceV2Relation if rel.table.isInstanceOf[GraftTable] =>
      val t = rel.table.asInstanceOf[GraftTable]
      val v1 = SnapshotFileIndex
        .snapshotDF(spark, t.root, t.pinnedVersion, subtractDeletes = true)
        .queryExecution.analyzed
      require(v1.output.length == rel.output.length,
        s"graft rewrite arity mismatch for ${t.fullName}")
      // re-expose the v1 plan under the v2 relation's attribute ids so
      // every already-resolved reference upstream stays valid
      Project(rel.output.zip(v1.output).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
      }, v1)
    case other =>
      val mapped = other.mapChildren(apply)
      mapped.transformExpressionsUp {
        case se: SubqueryExpression => se.withNewPlan(apply(se.plan))
      }
  }
}

/** `UPDATE graft.db.t SET ... WHERE ...` as one merge-on-read commit:
  * DV-delete the matched positions + append the transformed copies
  * atomically ([[SnapshotCatalog.updateWhere]]) — O(matched rows),
  * no target file rewritten, CDC-derivable (the commit emits the old
  * rows as retractions and the new as inserts). */
case class GraftUpdateCommand(root: String, tableName: String,
                              condition: Option[org.apache.spark.sql.Column],
                              set: Seq[(String, org.apache.spark.sql.Column)])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.lit
    SnapshotCatalog.updateWhere(spark, root, condition.getOrElse(lit(true)),
      set, "squpd" + java.util.UUID.randomUUID().toString.take(12))
    Seq.empty
  }
}

/** Upsert `MERGE INTO graft.db.t USING s ON t.k = s.k WHEN MATCHED
  * UPDATE SET * WHEN NOT MATCHED INSERT *` as ONE
  * [[SnapshotCatalog.mergeOnRead]] commit: matched target rows
  * DV-deleted, the whole source landing as the update batch. */
/** `DELETE FROM graft.db.t WHERE <any deterministic predicate>` as one
  * deletion-vector commit ([[SnapshotCatalog.deleteWhere]]) — the
  * full-predicate tier above SupportsDelete's pushed-filter subset
  * (arithmetic, functions, CASE all work; O(matched rows), no data
  * file rewritten, CDC-derivable retractions). */
case class GraftDeleteCommand(root: String, tableName: String,
                              condition: org.apache.spark.sql.Column)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    SnapshotCatalog.deleteWhere(spark, root, condition)
    Seq.empty
  }
}

/** Generalized `MERGE INTO` (conditioned/partial UPDATE, matched
  * DELETE, conditioned INSERT, NOT MATCHED BY SOURCE UPDATE/DELETE)
  * as ONE [[SnapshotCatalog.mergeInto]] merge-on-read commit:
  * actioned target positions DV-deleted, the update clauses'
  * transformed copies plus the insert clauses' rows appended
  * together; clause-order semantics; non-deterministic multi-match
  * refuses loudly. */
case class GraftMergeIntoCommand(root: String, tableName: String,
                                 source: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                                 keyCols: Seq[String],
                                 matched: Seq[SnapshotCatalog.MergeMatchedClause],
                                 notMatched: Seq[SnapshotCatalog.MergeInsertClause],
                                 bySource: Seq[SnapshotCatalog.MergeMatchedClause] = Seq.empty)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    Seq(source)
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val src = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, source)
    SnapshotCatalog.mergeInto(spark, root, src, keyCols, matched, notMatched,
      "sqmi" + java.util.UUID.randomUUID().toString.take(12), bySource)
    Seq.empty
  }
}

case class GraftMergeCommand(root: String, tableName: String,
                             source: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                             keyCols: Seq[String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    Seq(source)
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.col
    val updates0 = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, source)
    // align the source to the table's column set, ORDER, and TYPES (a
    // narrower source — INT ids against a BIGINT table — must not land
    // files whose schema conflicts with the log's; the star expansion
    // guaranteed same-named coverage)
    val v = SnapshotCatalog.latestVersion(root)
    val (data, part) = SnapshotFileIndex.servedSchemas(spark, root, v)
    val fields = data.fields ++ part.fields
    val updates = updates0.select(fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    SnapshotCatalog.mergeOnRead(spark, root, updates, keyCols,
      "sqmrg" + java.util.UUID.randomUUID().toString.take(12))
    Seq.empty
  }
}
