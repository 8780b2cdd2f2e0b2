package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType, StructType, TimestampType}

/** Parser extension (injected via `GraftExtensions`): the maintenance
  * verbs a migrating Delta user types first — none have a Spark
  * grammar, so a thin intercept handles exactly these three statements
  * and delegates EVERYTHING else to Spark's parser:
  *
  * {{{
  *   OPTIMIZE graft.db.t [ZORDER BY (a, b)]  -- incremental compaction
  *   VACUUM graft.db.t [RETAIN n HOURS]      -- snapshot expiry + GC
  *   DESCRIBE HISTORY graft.db.t             -- one row per commit
  *   DESCRIBE DETAIL graft.db.t              -- live-table facts, log-only
  *   RESTORE TABLE graft.db.t TO VERSION AS OF 3
  *   CONVERT TO GRAFT parquet.`/path` [PARTITIONED BY (a)]
  *   ALTER TABLE graft.db.t ADD CONSTRAINT c CHECK (expr)
  *   ALTER TABLE graft.db.t DROP CONSTRAINT c
  * }}}
  *
  * The Scala spellings are [[SnapshotCatalog.maintainIfNeeded]] /
  * [[SnapshotCatalog.expire]] / [[SnapshotCatalog.history]]; the SQL
  * forms resolve the table name through the registered
  * [[GraftCatalog]] so SQL-only users never touch a path. OPTIMIZE
  * stays INCREMENTAL (the threshold-OPTIMIZE action with every
  * threshold forced): DV-bearing files rewritten with deletes applied,
  * small files bin-packed under the size-tiered doubling rule, large
  * clean files NEVER rewritten — a user habitually running OPTIMIZE
  * after every load pays O(new litter), not O(table). */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parse(sqlText, delegate)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parsePlanWithParameters(
      sqlText: String, params: ParameterContext): LogicalPlan =
    GraftSqlParser.parse(sqlText, delegate)
      .getOrElse(delegate.parsePlanWithParameters(sqlText, params))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+(.+?)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s+\(\s*([^)]+?)\s*\))?\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*$""".r
  private val ClusterByRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+CLUSTER\s+BY\s+(?:\(\s*([^)]+?)\s*\)|(NONE))\s*;?\s*$""".r
  private val HistoryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*$""".r
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val RestoreTsRe =
    """(?is)^\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""".r
  private val ConvertRe =
    """(?is)^\s*CONVERT\s+TO\s+GRAFT\s+parquet\s*\.\s*`([^`]+)`(?:\s+PARTITIONED\s+BY\s+\(\s*([^)]+?)\s*\))?\s*;?\s*$""".r
  private val AddConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""".r
  private val DropConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""".r
  private val DetailRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*$""".r
  private val ShowPartsRe =
    """(?is)^\s*SHOW\s+PARTITIONS\s+(.+?)\s*;?\s*$""".r
  private val CloneRe =
    """(?is)^\s*CREATE\s+TABLE\s+(.+?)\s+SHALLOW\s+CLONE\s+(.+?)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""".r
  private val CopyIntoRe =
    """(?is)^\s*COPY\s+INTO\s+(.+?)\s+FROM\s+'([^']+)'(?:\s+FILEFORMAT\s*=\s*(\w+))?\s*;?\s*$""".r

  private def parse(sqlText: String, delegate: ParserInterface)
      : Option[LogicalPlan] = sqlText match {
    case RestoreRe(name, v) =>
      Some(GraftRestoreCommand(delegate.parseMultipartIdentifier(name), v.toInt))
    case RestoreTsRe(name, ts) =>
      Some(GraftRestoreTimestampCommand(
        delegate.parseMultipartIdentifier(name), ts))
    case ConvertRe(path, parts) =>
      Some(GraftConvertCommand(path,
        Option(parts).map(_.split(",").toSeq.map(c =>
          delegate.parseMultipartIdentifier(c.trim).last))))
    case AddConstraintRe(name, cname, cond) =>
      // parse eagerly so a malformed condition fails AT the statement
      delegate.parseExpression(cond)
      Some(GraftAddConstraintCommand(
        delegate.parseMultipartIdentifier(name), cname, cond.trim))
    case DropConstraintRe(name, cname) =>
      Some(GraftDropConstraintCommand(
        delegate.parseMultipartIdentifier(name), cname))
    case DetailRe(name) =>
      Some(GraftDescribeDetailCommand(delegate.parseMultipartIdentifier(name)))
    case CloneRe(dest, src, v) =>
      Some(GraftCloneCommand(delegate.parseMultipartIdentifier(dest),
        delegate.parseMultipartIdentifier(src),
        Option(v).map(_.toInt)))
    case CopyIntoRe(name, path, fmt) =>
      Some(GraftCopyIntoCommand(delegate.parseMultipartIdentifier(name),
        path, Option(fmt).map(_.toLowerCase).getOrElse("parquet")))
    case ShowPartsRe(name)
        // only intercept names that LOOK catalog-qualified or plain —
        // never a quoted path form Spark's grammar owns
        if !name.contains("`") =>
      Some(GraftShowPartitionsCommand(delegate.parseMultipartIdentifier(name)))
    case OptimizeRe(name, where, zorder) =>
      Some(GraftOptimizeCommand(delegate.parseMultipartIdentifier(name),
        Option(zorder).map(_.split(",").toSeq.map(c =>
          delegate.parseMultipartIdentifier(c.trim).last)).getOrElse(Seq.empty),
        Option(where).map(w => partitionEqualities(w, delegate))
          .getOrElse(Map.empty)))
    case HistoryRe(name) =>
      Some(GraftDescribeHistoryCommand(delegate.parseMultipartIdentifier(name)))
    case VacuumRe(name, hours, dry) =>
      Some(GraftVacuumCommand(delegate.parseMultipartIdentifier(name),
        Option(hours).map(_.toLong).getOrElse(168L),
        dryRun = dry != null))
    case ClusterByRe(name, cols, none) =>
      Some(GraftClusterByCommand(delegate.parseMultipartIdentifier(name),
        if (none != null) Seq.empty
        else cols.split(",").toSeq.map(c =>
          delegate.parseMultipartIdentifier(c.trim).last)))
    case _ => None
  }

  /** `OPTIMIZE ... WHERE` scope: AND-ed equalities on partition columns
    * (`p = 'a' AND q = 1` — Delta accepts exactly this shape); anything
    * else refuses loudly. Values keep their literal text — the hive
    * directory spelling the scope matches against. */
  private def partitionEqualities(where: String,
                                  delegate: ParserInterface)
      : Map[String, String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Literal}
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    split(delegate.parseExpression(where)).map {
      case EqualTo(a: UnresolvedAttribute, l: Literal) =>
        a.name -> String.valueOf(l.value)
      case EqualTo(l: Literal, a: UnresolvedAttribute) =>
        a.name -> String.valueOf(l.value)
      case other => sys.error("OPTIMIZE ... WHERE supports AND-ed " +
        s"partition-column equalities only, got: ${other.sql}")
    }.toMap
  }

  /** Resolve a (possibly catalog-qualified) table name to its delta-log
    * root through the registered [[GraftCatalog]] plugins. With
    * `mustExist = false` the root may not hold a table yet (a CLONE's
    * destination). */
  private[sources] def rootOf(spark: SparkSession, nameParts: Seq[String],
                              mustExist: Boolean = true): String = {
    val cm = spark.sessionState.catalogManager
    val (catName, rest) =
      if (nameParts.length >= 2 && cm.isCatalogRegistered(nameParts.head))
        (nameParts.head, nameParts.tail)
      else (cm.currentCatalog.name, nameParts)
    cm.catalog(catName) match {
      case g: GraftCatalog if rest.nonEmpty =>
        val root = g.tableRoot(
          Identifier.of(rest.dropRight(1).toArray, rest.last))
        if (mustExist && !SnapshotCatalog.isTable(root))
          sys.error(s"${nameParts.mkString(".")} is not a graft table " +
            s"(no committed manifest at $root)")
        root
      case _ => sys.error(
        s"${nameParts.mkString(".")}: graft maintenance SQL (OPTIMIZE / " +
          "VACUUM / DESCRIBE HISTORY) needs a table in a registered " +
          "graft catalog")
    }
  }
}

/** `OPTIMIZE <table> [ZORDER BY (cols)]` — one incremental compaction
  * pass: every threshold forced so the pass fires whenever anything
  * QUALIFIES (in-effect DVs, or more than one live file whose
  * small-file tier accepts a merge), while the ACTION keeps the
  * size-tiered O(log) write-amplification rule — large clean files
  * survive byte-identical. `ZORDER BY` makes the selected rewrite a
  * clustering one (range-partition + sort → tight per-file stats for
  * the planning-time index). Returns one row: (fired, version). */
case class GraftOptimizeCommand(nameParts: Seq[String],
                                zorderBy: Seq[String] = Seq.empty,
                                partitionScope: Map[String, String] = Map.empty)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("fired", BooleanType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = true)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    // a bare OPTIMIZE on a CLUSTER BY table clusters by the declared
    // columns (the liquid-clustering default); explicit ZORDER BY wins
    val cluster =
      if (zorderBy.nonEmpty) zorderBy
      else SnapshotCatalog.properties(root).get("graft.clusterBy")
        .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val v = SnapshotCatalog.maintainIfNeeded(spark, root,
      "sqopt" + java.util.UUID.randomUUID().toString.take(12),
      maxDvBytes = Some(0L), maxDeletedFrac = 0.0, maxLiveFiles = 1,
      clusterBy = cluster, partitionScope = partitionScope)
    Seq(org.apache.spark.sql.Row(v.isDefined, v.orNull))
  }
}

/** `CONVERT TO GRAFT parquet.`<path>` [PARTITIONED BY (cols)]` — turn
  * a plain parquet directory into a catalog table IN PLACE
  * ([[SnapshotCatalog.convertInPlace]]): files renamed under the
  * catalog layout (O(files) namespace ops, no byte copied), one footer
  * pass for the planning record, one atomic version-1 commit. A path
  * inside a registered graft catalog's warehouse becomes addressable
  * by name immediately. Returns (converted_files, version). */
case class GraftConvertCommand(path: String,
                               declaredPartitions: Option[Seq[String]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("converted_files", IntegerType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val (n, v) = SnapshotCatalog.convertInPlace(spark, path,
      declaredPartitions)
    Seq(org.apache.spark.sql.Row(n, v))
  }
}

/** `ALTER TABLE <t> ADD CONSTRAINT <name> CHECK (<cond>)` — existing
  * rows validated in one pass (violations refuse, nothing commits),
  * then one metadata-only properties commit; every later write
  * enforces the constraint inside its own write pass (a
  * `cond OR raise_error` filter — no second scan). SQL CHECK
  * semantics: NULL passes, only FALSE violates. */
case class GraftAddConstraintCommand(nameParts: Seq[String],
                                     constraintName: String, cond: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    val v = SnapshotCatalog.addConstraint(spark, root, constraintName, cond)
    Seq(org.apache.spark.sql.Row(v))
  }
}

/** `ALTER TABLE <t> DROP CONSTRAINT <name>` — one metadata-only
  * properties commit; unknown names refuse loudly. */
case class GraftDropConstraintCommand(nameParts: Seq[String],
                                      constraintName: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    val v = SnapshotCatalog.dropConstraint(root, constraintName)
    Seq(org.apache.spark.sql.Row(v))
  }
}

/** `RESTORE TABLE <table> TO VERSION AS OF <n>` — one metadata-only
  * commit re-referencing version n's files, DVs, schema, and spec
  * ([[SnapshotCatalog.restore]]); the undone versions still
  * time-travel. Returns (restored_to, new_version). */
case class GraftRestoreCommand(nameParts: Seq[String], toVersion: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", IntegerType, nullable = false)(),
    AttributeReference("new_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    val nv = SnapshotCatalog.restore(root, toVersion)
    Seq(org.apache.spark.sql.Row(toVersion, nv))
  }
}

/** `RESTORE TABLE <table> TO TIMESTAMP AS OF '<ts>'` — resolves the
  * newest version committed at-or-before the wall-clock instant
  * (session-timezone parse, the `versionAsOf` seam `TIMESTAMP AS OF`
  * reads already use) and restores to it. */
case class GraftRestoreTimestampCommand(nameParts: Seq[String], ts: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", IntegerType, nullable = false)(),
    AttributeReference("new_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    val millis = spark.sql(s"SELECT CAST('$ts' AS TIMESTAMP)")
      .head().getTimestamp(0) match {
        case null => sys.error(s"RESTORE: cannot parse timestamp '$ts'")
        case t => t.getTime
      }
    val v = SnapshotCatalog.versionAsOf(root, millis).getOrElse(
      sys.error(s"${nameParts.mkString(".")} has no version at or " +
        s"before '$ts'"))
    val nv = SnapshotCatalog.restore(root, v)
    Seq(org.apache.spark.sql.Row(v, nv))
  }
}

/** `VACUUM <table> [RETAIN n HOURS]` — [[SnapshotCatalog.expire]] with
  * the retention window (default 168 h, the Delta default): keeps the
  * latest version plus every version younger than the window, deletes
  * expired manifests and the data files no surviving version
  * references. Returns (expired_versions, deleted_files). */
case class GraftVacuumCommand(nameParts: Seq[String], retainHours: Long,
                              dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("expired_versions", IntegerType, nullable = false)(),
    AttributeReference("deleted_files", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    val (nv, nf) = SnapshotCatalog.expire(root, keepLast = 1,
      minAgeMs = retainHours * 3600L * 1000L, dryRun = dryRun)
    Seq(org.apache.spark.sql.Row(nv, nf))
  }
}

/** `ALTER TABLE <t> CLUSTER BY (cols) | NONE` — the liquid-clustering
  * declaration: the clustering columns land as the `graft.clusterBy`
  * property (one metadata-only commit); every later bare `OPTIMIZE`
  * uses them as its clustering spec, so the incremental size-tiered
  * maintenance continuously converges the layout — no per-invocation
  * ZORDER BY needed. */
case class GraftClusterByCommand(nameParts: Seq[String], cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    // checked and edited per commit attempt, against the version the
    // commit follows: a racing DROP COLUMN or property edit is seen
    val v = SnapshotCatalog.updateProperties(root) { (v, props) =>
      val schema = SnapshotCatalog.schemaAt(root, v).getOrElse(
        sys.error(s"${nameParts.mkString(".")}: schema not log-carried"))
      cols.filterNot(schema.fieldNames.contains) match {
        case Seq() => ()
        case bad => sys.error(s"CLUSTER BY column(s) ${bad.mkString(", ")} " +
          "not in the table's schema")
      }
      if (cols.isEmpty) props - "graft.clusterBy"
      else props + ("graft.clusterBy" -> cols.mkString(","))
    }
    Seq(org.apache.spark.sql.Row(v))
  }
}

/** `DESCRIBE DETAIL <table>` — the Delta shape: one row of live-table
  * facts resolved from the LOG ALONE (no data scan, no per-file RPCs):
  * location, current version, file/byte/row counts from the log-
  * carried entries, in-effect DV file count, partition columns, and
  * constraint count. */
case class GraftDescribeDetailCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = true)(),
    AttributeReference("num_dv_files", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("num_constraints", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    val v = SnapshotCatalog.latestVersion(root)
    val entries = SnapshotCatalog.manifestEntries(root, v)
    val rows =
      if (entries.exists(_.rows < 0)) null // legacy path-only entries
      else java.lang.Long.valueOf(entries.map(_.rows).sum)
    Seq(org.apache.spark.sql.Row("graft", root, v,
      entries.size.toLong, SnapshotCatalog.liveDataBytes(root), rows,
      SnapshotCatalog.dvFiles(root, v).size.toLong,
      SnapshotCatalog.partitionSpecAt(root, v)
        .map(_.fieldNames.mkString(",")).getOrElse(""),
      SnapshotCatalog.constraintsOf(
        SnapshotCatalog.propertiesAt(root, v)).size))
  }
}

/** `CREATE TABLE <dest> SHALLOW CLONE <source> [VERSION AS OF n]` —
  * [[SnapshotCatalog.shallowClone]]: a zero-copy sandbox whose v1
  * commit references the source's files/DVs/schema/spec/properties;
  * independently writable, GC-independent, valid inside the source's
  * retention window (the Delta caveat). */
case class GraftCloneCommand(destParts: Seq[String], srcParts: Seq[String],
                             version: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("cloned_from_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val src = GraftSqlParser.rootOf(spark, srcParts)
    val dest = GraftSqlParser.rootOf(spark, destParts, mustExist = false)
    val v = SnapshotCatalog.shallowClone(src, dest, version)
    Seq(org.apache.spark.sql.Row(v))
  }
}

/** `COPY INTO <table> FROM '<dir>' [FILEFORMAT = PARQUET|CSV]` —
  * idempotent external-file loading ([[SnapshotCatalog.copyInto]]):
  * exactly once per source FILE, the loaded-file markers landing in
  * the same atomic commit as the data; re-runs load only the
  * remainder. Returns (files_loaded, version). */
case class GraftCopyIntoCommand(nameParts: Seq[String], path: String,
                                format: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_loaded", IntegerType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    val (n, v) = SnapshotCatalog.copyInto(spark, root, path, format)
    Seq(org.apache.spark.sql.Row(n, v))
  }
}

/** `SHOW PARTITIONS <table>` — one row per live partition directory
  * (`col=value[/col2=value2]`, the Spark output shape), resolved from
  * the LOG's file paths alone: O(live files) metadata, no data scan,
  * no filesystem listing. Unpartitioned tables refuse (Spark's own
  * behavior). */
case class GraftShowPartitionsCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    val v = SnapshotCatalog.latestVersion(root)
    val spec = SnapshotCatalog.partitionSpecAt(root, v).getOrElse(
      sys.error(s"SHOW PARTITIONS: ${nameParts.mkString(".")} is not " +
        "a partitioned table"))
    val names = spec.fieldNames.toSet
    SnapshotCatalog.manifestFiles(root, v).flatMap { f =>
      val segs = f.split("/").dropRight(1).reverse
        .takeWhile(s => s.contains("=") &&
          names.contains(s.split("=", 2).head)).reverse
      if (segs.length == names.size) Some(segs.mkString("/")) else None
    }.distinct.sorted.map(org.apache.spark.sql.Row(_))
  }
}

/** `DESCRIBE HISTORY <table>` — one row per surviving commit, newest
  * first (the Delta ordering): version, operation kind derived from
  * the commit's own delta, add/remove/DV file counts, commit time. */
case class GraftDescribeHistoryCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("files_added", IntegerType, nullable = false)(),
    AttributeReference("files_removed", IntegerType, nullable = false)(),
    AttributeReference("dv_files_added", IntegerType, nullable = false)(),
    AttributeReference("commit_time", TimestampType, nullable = false)())
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = GraftSqlParser.rootOf(spark, nameParts)
    SnapshotCatalog.history(root).reverse.map {
      case (v, kind, nAdd, nRem, nDv, ts) =>
        org.apache.spark.sql.Row(v, kind, nAdd, nRem, nDv,
          new java.sql.Timestamp(ts))
    }
  }
}
