package graft.perfbench

import graft.SparkEntry
import graft.core.Tables
import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
import org.apache.spark.sql.{DataFrame, Row, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** One named workload: a set-up (input staging plus an untimed warm-up
  * pass) and rounds of ops run in a closed loop by one client. */
trait Workload {
  def setup(h: Harness): Unit
  /** Return to the state the timed rounds started from (before a traced
    * repeat of them). */
  def reset(h: Harness): Unit = ()
  def round(h: Harness, r: Int): Unit
  /** After the timed loop: write what the output checks need, and return
    * the workload's own end-to-end figures. */
  def finish(h: Harness): Map[String, Any]
}

object Workloads {
  def apply(name: String, cfg: Config): Workload = name match {
    case "pipelines"    => new Pipelines(cfg)
    case "lakehouse_rw" => new Lakehouse(cfg)
    case other          => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The three reference pipelines, end to end as registered: staging,
  * micro-batches, the JDBC sink into Derby, readback; each op's input
  * records are the generated documents. The warm-up pass's output of each
  * query is the reference: it is dumped for the DuckDB oracle check, and
  * every timed op's output must equal it. */
final class Pipelines(cfg: Config) extends Workload {
  private val names = Seq("st25_vehicle_pipeline", "st27_fire_pipeline", "st28_absa_results")
  private val refs = mutable.Map[String, IndexedSeq[(String, Any)]]()
  private val refRows = mutable.Map[String, (Array[Row], StructType)]()
  private var docs = 0L

  private def run(h: Harness, name: String): Unit = {
    var df: DataFrame = null
    val (rec, rows) = h.op(name, "query") {
      df = SparkEntry.queries(name)(h.spark, cfg.dataDir)
      Some(df)
    }
    rec.records = docs
    rows.foreach { rs =>
      val c = Canon.rows(rs)
      if (h.warm) { refs(name) = c; refRows(name) = (rs, df.schema) }
      else h.verdict(rec, refs.get(name).exists(Canon.same(_, c)),
        "output differs from the oracle-checked warm-up output")
    }
  }

  def setup(h: Harness): Unit = {
    docs = Tables(h.spark, cfg.dataDir).documents.count()
    names.foreach(run(h, _))
  }

  def round(h: Harness, r: Int): Unit =
    new scala.util.Random(cfg.seed * 1000003L + r).shuffle(names).foreach(run(h, _))

  def finish(h: Harness): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    refRows.foreach { case (name, (rows, schema)) =>
      h.spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${cfg.outDir}/results/$name")
    }
    Map("oracle" -> names.map(n => n -> SparkEntry.oracleSql.get(n)).toMap)
  }
}

/** "Pipeline appends, dashboard refreshes" on one snapshot-catalog
  * table, driven through `SnapshotCatalog`'s public API: appends of
  * generated event batches, dashboard-style snapshot reads (one with a
  * selective `ts` predicate file skipping should prune), periodic
  * deletes/merges, and maintenance plus expiry. Every read's rows and the
  * op parameters are logged so the check can replay the same ops in
  * DuckDB. */
final class Lakehouse(cfg: Config) extends Workload {
  private var root = ""
  private var nextBatch = 0
  private var nextMerge = 0
  private var tableNo = 0
  private var bytesWritten = 0L
  private var userBytes = 0L
  private val scanned = mutable.ArrayBuffer[(Long, Long)]()
  private val day0 = java.time.LocalDate.parse("2024-01-01")

  private def batchDf(h: Harness, kind: String, i: Int): DataFrame =
    Tables(h.spark, s"${cfg.dataDir}/$kind/$i").events

  private def fileBytes(kind: String, i: Int): Long =
    new java.io.File(s"${cfg.dataDir}/$kind/$i/events.parquet").length()

  private def commitOp(h: Harness, name: String, records: Long, info: Map[String, Any],
                       userFileBytes: Long)(body: => Unit): Unit = {
    val before = SnapshotCatalog.latestVersion(root)
    h.op(name, if (name == "maintain" || name == "expire") "maintain" else "commit",
      records, info + ("table" -> tableNo)) { h.tracer.span(s"catalog.$name")(body); None }
    val after = SnapshotCatalog.latestVersion(root)
    if (!h.warm) {
      bytesWritten += (before + 1 to after).map(SnapshotCatalog.addedBytesOf(root, _)).sum
      userBytes += userFileBytes
    }
  }

  private def append(h: Harness): Unit = {
    val i = nextBatch; nextBatch += 1
    val df = batchDf(h, "batches", i)
    commitOp(h, "append", df.count(), Map("batch" -> i), fileBytes("batches", i)) {
      SnapshotCatalog.append(df, root, s"b$i")
    }
  }

  private def delete(h: Harness, rng: scala.util.Random): Unit = {
    val t = Seq("signup", "click", "error", "view", "purchase")(rng.nextInt(5))
    val lt = 1.0 + rng.nextInt(20)
    commitOp(h, "delete", 0L, Map("event_type" -> t, "lt" -> lt), 0L) {
      SnapshotCatalog.deleteWhere(h.spark, root, col("event_type") === t && col("value") < lt)
    }
  }

  private def merge(h: Harness): Unit = {
    import SnapshotCatalog.{MergeInsertClause, MergeUpdateClause}
    val j = nextMerge; nextMerge += 1
    val src = batchDf(h, "merges", j)
    val cols = src.columns.toSeq
    commitOp(h, "merge", src.count(), Map("merge" -> j), fileBytes("merges", j)) {
      SnapshotCatalog.mergeInto(h.spark, root, src, Seq("event_id"),
        matched = Seq(MergeUpdateClause(None,
          Seq("value" -> col("__src_value"), "event_type" -> col("__src_event_type")))),
        notMatched = Seq(MergeInsertClause(None, cols.map(c => c -> col(s"__src_$c")))),
        batch = s"m$j")
    }
  }

  private def maintain(h: Harness, r: Int): Unit = {
    commitOp(h, "maintain", 0L, Map.empty, 0L) {
      SnapshotCatalog.maintainIfNeeded(h.spark, root, s"opt$r", maxLiveFiles = 6,
        clusterBy = Seq("ts"))
    }
    commitOp(h, "expire", 0L, Map.empty, 0L) { SnapshotCatalog.expire(root, keepLast = 3) }
  }

  private def snapshot(h: Harness): DataFrame =
    h.tracer.span("catalog.resolve")(SnapshotCatalog.readSnapshotWithDeletes(h.spark, root))

  private def logRows(h: Harness, rec: OpRec, rows: Option[Array[Row]]): Unit =
    rows.foreach(rs => rec.info += ("rows" -> rs.map(_.toSeq.map {
      case t: java.sql.Timestamp => t.toString
      case v => v
    }).toSeq))

  private def readAll(h: Harness): Unit = {
    val (rec, rows) = h.op("read_all", "read", info = Map("table" -> tableNo)) {
      Some(snapshot(h).groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(functions.round(col("value") * 100).cast("long")).as("cents")))
    }
    logRows(h, rec, rows)
  }

  private def readTs(h: Harness, rng: scala.util.Random): Unit = {
    val d = rng.nextInt(30)
    val lo = day0.plusDays(d).toString
    val hi = day0.plusDays(d + 1).toString
    var df: DataFrame = null
    val (rec, rows) = h.op("read_ts", "read", info = Map("table" -> tableNo, "lo" -> lo, "hi" -> hi)) {
      df = snapshot(h).where(col("ts") >= to_timestamp(lit(lo)) && col("ts") < to_timestamp(lit(hi)))
        .agg(count(lit(1)).as("n"), sum(functions.round(col("value") * 100).cast("long")).as("cents"),
          min("event_id").as("lo_id"), max("event_id").as("hi_id"))
      Some(df)
    }
    logRows(h, rec, rows)
    if (rows.isDefined && !h.warm) {
      val live = SnapshotCatalog.manifestEntries(root, SnapshotCatalog.latestVersion(root)).size
      scanned += ((SnapshotFileIndex.scannedFiles(df), live.toLong))
    }
  }

  /** A fresh table: the base events, then one of each op, run as
    * warm-up ops. Every timed pass starts from this state. */
  override def reset(h: Harness): Unit = {
    val warm = h.warm
    h.warm = true
    tableNo += 1
    root = s"${cfg.outDir}/lake$tableNo"
    nextBatch = 0; nextMerge = 0
    SnapshotCatalog.append(Tables(h.spark, cfg.dataDir).events, root, "seed")
    val rng = new scala.util.Random(cfg.seed)
    append(h); readAll(h); readTs(h, rng); delete(h, rng); merge(h); maintain(h, 0)
    h.warm = warm
  }

  /** Warm-up rounds on a throwaway table, then the fresh table the timed
    * rounds start from: a JVM's first rounds run reads 3-4x slower than
    * its later ones, and three rounds run every kind of op. */
  def setup(h: Harness): Unit = {
    reset(h)
    (0 until 3).foreach(round(h, _))
    reset(h)
  }

  /** Round r: an append and two reads of each kind in seed order; a merge
    * every fourth round and, two rounds later, a delete followed by
    * maintenance and expiry. Reads are two thirds of the ops and sit in
    * the middle of the op times (expiry and appends below, deletes,
    * merges and maintenance above), so the op median is a read time. */
  def round(h: Harness, r: Int): Unit = {
    val rng = new scala.util.Random(cfg.seed * 7919L + r)
    rng.shuffle(Seq(0, 1, 1, 2, 2)).foreach {
      case 0 => append(h)
      case 1 => readAll(h)
      case _ => readTs(h, rng)
    }
    if (r % 4 == 0) merge(h)
    if (r % 4 == 2) { delete(h, rng); maintain(h, r) }
  }

  def finish(h: Harness): Map[String, Any] = {
    val live = SnapshotCatalog.readSnapshotWithDeletes(h.spark, root)
    live.write.mode("overwrite").parquet(s"${cfg.outDir}/lake_final")
    live.coalesce(1).write.mode("overwrite").parquet(s"${cfg.outDir}/lake_compact")
    def du(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(du).sum else f.length()
    val compact = new java.io.File(s"${cfg.outDir}/lake_compact").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val v = SnapshotCatalog.latestVersion(root)
    Map(
      "table" -> tableNo,
      "space_amp" -> du(new java.io.File(root)).toDouble / compact,
      "catalog.log_versions" -> SnapshotCatalog.versions(root).size,
      "catalog.live_files" -> SnapshotCatalog.manifestEntries(root, v).size,
      "catalog.files_scanned" ->
        (if (scanned.isEmpty) 0.0 else scanned.map(_._1).sum.toDouble / scanned.size),
      "catalog.files_scanned_ratio" ->
        (if (scanned.isEmpty) 0.0 else scanned.map(s => s._1.toDouble / s._2).sum / scanned.size),
      "catalog.bytes_written_per_user_byte" ->
        (if (userBytes == 0) 0.0 else bytesWritten.toDouble / userBytes))
  }
}
