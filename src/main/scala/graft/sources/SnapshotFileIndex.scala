package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** PLANNING-TIME file skipping for catalog snapshots — the engine's
  * stats tier surfaced as a Catalyst [[FileIndex]] (the Delta
  * `TahoeFileIndex` pattern): instead of the caller choosing a pruned
  * read helper, the snapshot becomes an ordinary DataFrame whose SCAN
  * consults the LOG-CARRIED per-file metadata inside
  * [[FileIndex.listFiles]] — so ANY query shape (SQL text, joins,
  * views) gets file skipping from its own pushed-down predicates, with
  * zero API opt-in. `df.filter($"event_id" > x)` plans a FileScan whose
  * file listing already excluded every non-intersecting file; the
  * normal parquet row-group pruning then applies WITHIN the kept files
  * (the two tiers compose).
  *
  * Planning is ONE metadata resolution: file paths, sizes, and typed
  * min/max stats all ride the delta log's enriched commit/checkpoint
  * lines ([[SnapshotCatalog.FileEntry]]), so constructing the index and
  * listing files issues ZERO per-file `getFileStatus`/footer RPCs —
  * at 10⁵–10⁶ files the difference between milliseconds of log reads
  * and minutes of namenode round-trips per query plan (the Delta
  * checkpoint-stats design). Only path-only legacy entries fall back to
  * a filesystem probe, and to their batch's stats sidecar.
  *
  * Tables committed with `partitionBy` get a real [[partitionSchema]]:
  * hive-style partition values parse from the log-recorded paths, so
  * partition-filter file cuts AND dynamic partition pruning (the q83
  * lever) apply to catalog snapshots like to any partitioned layout.
  *
  * Predicate extraction is deliberately conservative: per-column
  * [lo, hi] bounds from `attr (=,<,<=,>,>=) literal` conjuncts (longs,
  * ints, timestamp micros, strings), IN-list/IN-set envelopes, string
  * prefix ranges (`StartsWith` → [prefix, successor)), `And`
  * recursion; anything else — `Or`, casts, functions — contributes no
  * bound and the affected files are read. Skipping is an optimization, never a correctness gate
  * (files without stats are kept), which is what lets this sit in the
  * planner without an audit burden.
  *
  * At 100 TB this is the difference between "the dashboard's ad-hoc SQL
  * needs a bespoke pruned-read API" and "any predicate on an ingest-
  * clustered column opens only its time slice".
  */
class SnapshotFileIndex(spark: SparkSession, root: String, version: Int)
    extends FileIndex {

  private val entries: Seq[SnapshotCatalog.FileEntry] =
    SnapshotCatalog.manifestEntries(root, version)

  private val partSpec: StructType =
    SnapshotCatalog.partitionSpecAt(root, version).getOrElse(StructType(Nil))

  /** One status per entry — synthesized from the log-carried size (no
    * filesystem RPC); only legacy path-only entries probe the
    * filesystem. mtime is 0 on synthesized statuses: the catalog's
    * files are immutable and nothing in the serve path reads it. */
  private val statuses: Seq[(FileStatus, SnapshotCatalog.FileEntry)] = {
    val conf = spark.sessionState.newHadoopConf()
    entries.map { e =>
      val p = new Path(e.path)
      val st =
        if (e.size >= 0)
          new FileStatus(e.size, false, 1, 128L * 1024 * 1024, 0L, p)
        else p.getFileSystem(conf).getFileStatus(p)
      (st, e)
    }
  }

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def partitionSchema: StructType = partSpec

  override def sizeInBytes: Long = statuses.map(_._1.getLen).sum

  override def inputFiles: Array[String] = entries.map(_.path).toArray

  override def refresh(): Unit = ()

  // ---- hive-style partition values from the log-recorded paths -------

  /** Decode Spark's `%XX` partition-dir escaping (special ASCII chars
    * only — multi-byte data never lands escaped per char). */
  private def unescapePart(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** The raw `col -> string` partition assignment in a file's path —
    * only the CONTIGUOUS trailing run of `col=value` directories, so an
    * `x=y` segment in the table root path can never masquerade as a
    * partition value. */
  private def partStringsOf(path: String): Map[String, String] =
    path.split('/').dropRight(1).reverse.takeWhile(_.contains('='))
      .reverse.iterator.flatMap { seg =>
        val i = seg.indexOf('=')
        if (i > 0) Some(unescapePart(seg.take(i)) -> unescapePart(seg.drop(i + 1)))
        else None
      }.toMap

  /** Partition values as an [[InternalRow]] in spec order, cast from
    * the path strings exactly as Spark's own partition inference casts
    * them (string literal → declared type). */
  private def partRowOf(raw: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partSpec.fields.toSeq.map { f =>
      raw.get(f.name) match {
        case None => null
        case Some("__HIVE_DEFAULT_PARTITION__") => null
        case Some(v) =>
          Cast(Literal(UTF8String.fromString(v), StringType), f.dataType,
            Some("UTC")).eval(InternalRow.empty)
      }
    })

  /** Evaluate a pushed partition filter against one partition's values;
    * any expression that cannot be bound or evaluated keeps the
    * partition (conservative — pruning is never a correctness gate).
    * Dynamic pruning filters (DPP's subquery IN-sets) evaluate like any
    * other expression: [[DynamicPruningExpression]] delegates to its
    * materialized child at execution time. */
  private def keepPartition(filters: Seq[Expression], row: InternalRow): Boolean =
    filters.forall { f =>
      try {
        val bound = f.transform {
          case a: AttributeReference if partSpec.fieldNames.contains(a.name) =>
            val i = partSpec.fieldIndex(a.name)
            BoundReference(i, partSpec(i).dataType, nullable = true)
        }
        val pred = Predicate.create(bound, Nil)
        pred.initialize(0)
        pred.eval(row)
      } catch { case scala.util.control.NonFatal(_) => true }
    }

  private def bounds(dataFilters: Seq[Expression]) =
    SnapshotFileIndex.predicateBounds(dataFilters)

  /** Sidecar stats per bound column for the path-only entries, whose
    * commits ([[SnapshotCatalog.commitRetry]]) put no stats in the log:
    * read on the first such entry, at most once per column. */
  private val sidecars =
    collection.mutable.Map.empty[String, Map[String, (String, String, String)]]

  private def statsOf(e: SnapshotCatalog.FileEntry,
                      c: String): Option[(String, String, String)] =
    if (e.size >= 0) e.stats.get(c)
    else sidecars.synchronized {
      sidecars.getOrElseUpdate(c, SnapshotCatalog.sidecarStats(
        root, entries.filter(_.size < 0).map(_.path), c))
    }.get(e.path)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (lb, sb) = bounds(dataFilters)
    // stats skipping off the log-carried entry stats — no footer IO at
    // plan time, sidecar IO only for path-only entries; entries without
    // stats for a bound column are conservatively kept
    val kept =
      if (lb.isEmpty && sb.isEmpty) statuses
      else statuses.filter { case (_, e) =>
        val longOk = lb.forall { case (c, (lo, hi)) =>
          statsOf(e, c) match {
            case Some(("long", mn, mx)) => mx.toLong >= lo && mn.toLong <= hi
            case _                      => true
          }
        }
        val strOk = sb.forall { case (c, (lo, hi)) =>
          statsOf(e, c) match {
            case Some(("string", mn, mx)) =>
              lo.forall(SnapshotCatalog.cmpUtf8(
                SnapshotCatalog.statStrBytes(mx), _) >= 0) &&
                hi.forall(SnapshotCatalog.cmpUtf8(
                  SnapshotCatalog.statStrBytes(mn), _) <= 0)
            case _ => true
          }
        }
        longOk && strOk
      }
    if (partSpec.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, kept.map(_._1).toArray))
    else {
      // hive-style partition pruning: group kept files by their path's
      // partition assignment, evaluate the pushed partition filters
      // (static AND dynamic) once per partition
      kept.groupBy { case (_, e) => partStringsOf(e.path) }.toSeq
        .map { case (raw, group) => (partRowOf(raw), group) }
        .filter { case (row, _) => keepPartition(partitionFilters, row) }
        .map { case (row, group) =>
          PartitionDirectory(row, group.map(_._1).toArray) }
    }
  }
}

object SnapshotFileIndex {

  /** Column-name extractor accepting both resolved references (the
    * planner's pushed filters) and unresolved ones (a raw
    * `Column.expr` handed to the conflict-narrowing check before any
    * analysis ran). */
  private object AttrName {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(u.name)
      case _ => None
    }
  }

  /** Per-column closed bounds extracted from predicate conjuncts — a
    * NECESSARY envelope: any row satisfying the predicates lies inside
    * every returned bound, so a file whose recorded [min, max] is
    * disjoint from any bound provably holds no matching row. Long
    * bounds cover int/long/timestamp-micros columns; string bounds are
    * raw UTF-8 BYTES compared unsigned — the order parquet UTF8
    * statistics (and Spark's own `UTF8String.compareTo`) use. A Java
    * `String` comparison here would order by UTF-16 code units, which
    * diverges for non-ASCII data and could wrongly SKIP a file whose
    * byte-order bounds contain matching rows. Shapes the extractor
    * doesn't understand (`Or`, casts, functions) contribute no bound —
    * never unsound. */
  private[sources] def predicateBounds(dataFilters: Seq[Expression])
      : (Map[String, (Long, Long)], Map[String, (Option[Array[Byte]], Option[Array[Byte]])]) = {
    val longs = collection.mutable.Map.empty[String, (Long, Long)]
    // string bounds are Options, NOT sentinels: a max-string sentinel
    // would wrongly prune a file whose min compares above it — an
    // unbounded side must never exclude anything
    val strs = collection.mutable.Map
      .empty[String, (Option[Array[Byte]], Option[Array[Byte]])]
    def narrowL(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = longs.getOrElse(c, (Long.MinValue, Long.MaxValue))
      longs(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    def narrowS(c: String, lo: Option[Array[Byte]], hi: Option[Array[Byte]]): Unit = {
      val (l0, h0) = strs.getOrElse(c,
        (None: Option[Array[Byte]], None: Option[Array[Byte]]))
      val nl = (l0 ++ lo).reduceOption((a, b) =>
        if (SnapshotCatalog.cmpUtf8(a, b) > 0) a else b)
      val nh = (h0 ++ hi).reduceOption((a, b) =>
        if (SnapshotCatalog.cmpUtf8(a, b) < 0) a else b)
      strs(c) = (nl, nh)
    }
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def narrowFromValues(c: String, vs: Seq[Any]): Unit = {
      val ls = vs.flatMap(asLong)
      if (ls.size == vs.size) narrowL(c, ls.min, ls.max)
      else if (vs.forall(_.isInstanceOf[UTF8String])) {
        val bs = vs.map(_.asInstanceOf[UTF8String].getBytes)
        narrowS(c,
          Some(bs.reduce((a, b) => if (SnapshotCatalog.cmpUtf8(a, b) <= 0) a else b)),
          Some(bs.reduce((a, b) => if (SnapshotCatalog.cmpUtf8(a, b) >= 0) a else b)))
      }
    }
    // the smallest byte string every `prefix`-prefixed string is below:
    // increment the last non-0xFF byte and truncate (None when the
    // prefix is all 0xFF — upper side unbounded)
    def prefixUpper(p: Array[Byte]): Option[Array[Byte]] = {
      val i = p.lastIndexWhere(b => (b & 0xFF) != 0xFF)
      if (i < 0) None
      else {
        val q = java.util.Arrays.copyOf(p, i + 1)
        q(i) = (q(i) + 1).toByte
        Some(q)
      }
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case GreaterThanOrEqual(AttrName(n), Literal(v, _)) =>
        asLong(v).foreach(narrowL(n, _, Long.MaxValue))
        v match { case u: UTF8String => narrowS(n, Some(u.getBytes), None); case _ => () }
      case GreaterThan(AttrName(n), Literal(v, _)) =>
        asLong(v).foreach(x => narrowL(n, x + 1L, Long.MaxValue))
        v match { case u: UTF8String => narrowS(n, Some(u.getBytes), None); case _ => () }
      case LessThanOrEqual(AttrName(n), Literal(v, _)) =>
        asLong(v).foreach(narrowL(n, Long.MinValue, _))
        v match { case u: UTF8String => narrowS(n, None, Some(u.getBytes)); case _ => () }
      case LessThan(AttrName(n), Literal(v, _)) =>
        asLong(v).foreach(x => narrowL(n, Long.MinValue, x - 1L))
        v match { case u: UTF8String => narrowS(n, None, Some(u.getBytes)); case _ => () }
      case EqualTo(AttrName(n), Literal(v, _)) =>
        asLong(v).foreach(x => narrowL(n, x, x))
        v match { case u: UTF8String => narrowS(n, Some(u.getBytes), Some(u.getBytes)); case _ => () }
      // mirrored literal-first forms
      case GreaterThanOrEqual(Literal(v, _), AttrName(n)) =>
        asLong(v).foreach(narrowL(n, Long.MinValue, _))
      case LessThanOrEqual(Literal(v, _), AttrName(n)) =>
        asLong(v).foreach(narrowL(n, _, Long.MaxValue))
      // IN-list: the [min, max] envelope of the literals is a sound
      // (if loose) bound — a file disjoint from the envelope cannot
      // hold any listed value
      case In(AttrName(n), list) if list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        narrowFromValues(n, list.map(_.asInstanceOf[Literal].value))
      case InSet(AttrName(n), hset) if hset.nonEmpty =>
        narrowFromValues(n, hset.toSeq)
      // prefix match: candidates are bytewise >= the prefix and < the
      // prefix's successor (last non-0xFF byte incremented, tail
      // truncated); an all-0xFF prefix leaves the upper side unbounded
      case StartsWith(AttrName(n), Literal(u: UTF8String, _)) =>
        val p = u.getBytes
        narrowS(n, Some(p), prefixUpper(p))
      case _ => () // Or / casts / functions: no bound — never unsound
    }
    dataFilters.foreach(walk)
    (longs.toMap, strs.toMap)
  }

  /** `numFiles` summed over every executed FileSourceScanExec in `df`'s
    * plan, unwrapping AQE (whose leaves are only reachable through each
    * stage's final physical plan) — the observable the skipping audits
    * read. Call AFTER an action has run on `df` itself. */
  def scannedFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(s.metrics("numFiles").value)
      case q: QueryStageExec => scans(q.plan)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).sum
  }

  /** Run `q`, a query over `root`'s latest snapshot, and return (its
    * rows, the files its scans opened, the files in that snapshot) —
    * the one count behind every file-skipping audit, read off this
    * very execution. */
  def collectScanned(q: DataFrame, root: String): (Array[Row], Long, Int) = {
    val rows = q.collect()
    (rows, scannedFiles(q),
      SnapshotCatalog.manifestFiles(root, SnapshotCatalog.latestVersion(root)).size)
  }

  /** `root`'s latest snapshot as a plain parquet scan of every file it
    * lists, in the snapshot's schema (partition values from the file
    * paths): its listing consults no stats, so a range predicate opens
    * every file — the reference a skipping audit checks the planner's
    * pruned read against. Raw rows, like
    * [[SnapshotCatalog.readSnapshot]]: deletion vectors are not applied. */
  def unprunedDF(spark: SparkSession, root: String): DataFrame = {
    val v = SnapshotCatalog.latestVersion(root)
    val (data, part) = servedSchemas(spark, root, v)
    val raw = spark.read.schema(data)
      .parquet(SnapshotCatalog.manifestFiles(root, v): _*)
    if (part.isEmpty) raw else SnapshotCatalog.reconstructPartCols(raw, part)
  }

  /** (data schema, partition schema) a snapshot serves — the log's `S`
    * lines when every live commit recorded one (zero IO; a
    * time-traveled version serves ITS schema — src16); else one footer
    * for a fixed-schema table / the union-by-name footer merge for an
    * evolved one (src08's accreted columns). The served output is
    * data fields then partition fields — [[graft.sources.GraftTable]]
    * derives its DSv2 schema from the same resolution so the analysis
    * rewrite maps attributes one-to-one. */
  private[sources] def servedSchemas(spark: SparkSession, root: String,
                                     v: Int, mergeSchema: Boolean = false)
      : (StructType, StructType) = {
    val partSchema = SnapshotCatalog.partitionSpecAt(root, v)
      .getOrElse(StructType(Nil))
    val partNames = partSchema.fieldNames.toSet
    val dataSchema: StructType = SnapshotCatalog.schemaAt(root, v) match {
      case Some(full) =>
        StructType(full.fields.filterNot(f => partNames.contains(f.name)))
      case None =>
        if (mergeSchema)
          spark.read.option("mergeSchema", "true")
            .parquet(SnapshotCatalog.manifestFiles(root, v): _*).schema
        else spark.read
          .parquet(SnapshotCatalog.manifestFiles(root, v).head).schema
    }
    (dataSchema, partSchema)
  }

  /** The snapshot as an ordinary DataFrame whose scan prunes files (and
    * hive-style partitions) from the log-carried metadata at PLANNING
    * time. Deletion vectors in effect are subtracted on top when
    * `subtractDeletes`, by [[SnapshotCatalog.joinDeletes]] (its filter
    * wraps the pruned scan, so skipping still applies
    * underneath); pass false for the raw snapshot
    * ([[SnapshotCatalog.readSnapshot]] semantics). Schema resolves from
    * the log's `S` lines — per-version, evolution-aware — with a footer
    * read only for tables whose commits predate schema recording. */
  def snapshotDF(spark: SparkSession, root: String,
                 version: Option[Int] = None,
                 mergeSchema: Boolean = false,
                 subtractDeletes: Boolean = true): DataFrame = {
    val v = version.getOrElse(SnapshotCatalog.latestVersion(root))
    val index = new SnapshotFileIndex(spark, root, v)
    val (dataSchema, _) = servedSchemas(spark, root, v, mergeSchema)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    val base = org.apache.spark.sql.graftbridge.Bridge.ofRows(
      spark, LogicalRelation(relation))
    if (subtractDeletes) SnapshotCatalog.joinDeletes(base, SnapshotCatalog.dvEntries(root, v))
    else base
  }
}
