package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `spark.readStream` SOURCE over a snapshot-catalog table's change
  * feed — the Delta streaming-source shape: offsets are LOG VERSIONS,
  * each micro-batch reads exactly the files the versions in its range
  * ADDED (O(delta) per batch — the table is never rescanned), and the
  * st39 consumer contract surfaces as STREAM SEMANTICS:
  *
  *   - a REPLACE/compaction (or any row-level delete, in adds-only
  *     mode) inside a polled range FAILS THE QUERY loudly — an
  *     adds-only fold across a rewrite would double-count survivors
  *     (or keep serving deleted rows); the operator restarts with a
  *     fresh checkpoint and the source re-baselines from the full
  *     snapshot;
  *   - a range that fell off the retention horizon (expired commits)
  *     fails the same way — the poll horizon must stay inside the
  *     vacuum window;
  *   - the FIRST batch of a fresh checkpoint is the bootstrap: the
  *     complete snapshot AT THE CURRENT LATEST VERSION (Delta's
  *     initial-snapshot semantics — the rate limit applies only to
  *     subsequent incremental ranges; a rate-capped bootstrap would
  *     land at v1 and climb through history, failing permanently on
  *     any rewrite-bearing table), with in-effect deletion vectors
  *     SUBTRACTED;
  *   - a schema-bearing commit that CHANGES the table's shape inside
  *     a served range fails the query loudly — silently projecting
  *     newer files onto the schema pinned at stream start would serve
  *     the old shape forever; the restart re-pins the accreted schema
  *     (Delta fails the stream on schema change the same way).
  *
  * With `.option("readChangeFeed", "true")` the source serves the
  * ROW-LEVEL change feed (the Delta CDF streaming shape) instead of
  * added rows: each batch carries `_change_type` (`insert`/`delete`),
  * `_commit_version`, and `_commit_timestamp` columns — an append's
  * added rows as inserts,
  * a DV-delete's superseded rows as deletes, a merge's both — so a
  * downstream IVM fold consumes retractions without polling
  * [[SnapshotCatalog.changeFeedRows]] by hand. The bootstrap is the
  * initial snapshot as inserts stamped at the bootstrap version; the
  * rewrite refusal is identical (row-level deltas are not derivable
  * from a compaction's commit).
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft-feed")                      // or the class name
  *     .option("root", "/data/warehouse/db/t")
  *     .option("maxVersionsPerTrigger", "1")      // rate limit (versions)
  *     .option("maxBytesPerTrigger", "1048576")   // rate limit (log-carried
  *                                                // added bytes; >= 1
  *                                                // version always admits)
  *     .option("startingVersion", "7")            // or "latest":
  *     .option("readChangeFeed", "true")          // CDF rows (optional)
  *     .load()                                    // incremental from v7,
  *                                                // skipping the bootstrap
  * }}}
  *
  * Hive-partitioned tables serve their partition columns reconstructed
  * from the file paths (the same values the serve path casts).
  * Replayed batches are exactly-once per the normal micro-batch
  * contract: the (start, end] version range rides the checkpoint, and
  * a recovered batch re-reads exactly the same immutable files.
  *
  * The same format is a streaming SINK
  * (`df.writeStream.format("graft-feed").option("root", ...)`): each
  * micro-batch lands as one replay-idempotent catalog commit — see
  * [[GraftFeedSourceProvider.createSink]]. */
class GraftFeedSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-feed"

  /** `df.writeStream.format("graft-feed").option("root", ...)` — the
    * catalog as a streaming SINK: every micro-batch lands as ONE
    * commit (append in Append/Update mode, replace in Complete mode),
    * laid out per `.option("partitionBy", "a,b")` when set. The batch
    * name carries the micro-batch id, so a recovered batch REPLAYS as
    * a no-op (the append/replace replay guard) — exactly-once into the
    * table without foreachBatch boilerplate (st42's shape, one line).
    * Inline maintenance stays the operator's choice:
    * `maintainIfNeeded` composes via foreachBatch when needed. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val root = rootOf(parameters)
    val partCols =
      if (partitionColumns.nonEmpty) partitionColumns
      else parameters.get("partitionBy").toSeq
        .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty)
    val complete = outputMode == OutputMode.Complete()
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // re-incarnate the engine's batch frame over its own executed
        // plan (the Delta DeltaSink pattern) — a plain re-use of `data`
        // could re-trigger streaming-source checks downstream
        val batchDf = org.apache.spark.sql.graftbridge.Bridge.asBatch(data)
        if (complete)
          SnapshotCatalog.replace(batchDf, root, s"stream-$batchId",
            partitionBy = partCols)
        else
          SnapshotCatalog.append(batchDf, root, s"stream-$batchId",
            partitionBy = partCols)
        ()
      }
      override def toString: String = s"GraftCatalogSink[$root]"
    }
  }

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("root",
      sys.error("graft-feed needs .option(\"root\", <table root>)"))

  private def cdcOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val root = rootOf(parameters)
    val spark = sqlContext.sparkSession
    val v = SnapshotCatalog.latestVersion(root)
    val (data, part) = SnapshotFileIndex.servedSchemas(spark, root, v)
    val base = data.fields ++ part.fields
    ("graft-feed", StructType(
      if (cdcOf(parameters)) base ++ GraftFeedSource.cdcFields else base))
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val maxPer = parameters.get("maxVersionsPerTrigger").map(_.toInt)
      .getOrElse(Int.MaxValue)
    require(maxPer >= 1, "maxVersionsPerTrigger must be >= 1")
    val maxBytes = parameters.get("maxBytesPerTrigger").map(_.toLong)
    require(maxBytes.forall(_ >= 1L), "maxBytesPerTrigger must be >= 1")
    val root = rootOf(parameters)
    // Delta-parity startingVersion: a FRESH checkpoint begins serving
    // INCREMENTALLY from this version (inclusive) instead of the
    // full-snapshot bootstrap; "latest" = only future commits. '0'
    // would make the first range (−1 ..] — refuse it HERE with a clear
    // message, not as a misleading 'commit 0 expired' mid-stream
    val startingBase = parameters.get("startingVersion").map {
      case "latest" => SnapshotCatalog.latestVersion(root).toLong
      case n =>
        val v = try n.toLong catch {
          case _: NumberFormatException => sys.error(
            s"graft-feed startingVersion must be 'latest' or an integer " +
              s">= 1, got '$n'")
        }
        if (v < 1L) sys.error(
          s"graft-feed startingVersion must be 'latest' or an integer " +
            s">= 1, got '$n' (version 1 is the first commit)")
        v - 1L
    }
    new GraftFeedSource(sqlContext.sparkSession, root, maxPer,
      metadataPath, startingBase, changeFeed = cdcOf(parameters),
      maxBytesPerTrigger = maxBytes)
  }
}

object GraftFeedSource {
  /** The CDF annotation columns (`readChangeFeed` mode) — the Delta CDF
    * triple: change type, commit version, commit wall-clock. */
  val cdcFields: Array[StructField] = Array(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", LongType, nullable = false),
    StructField("_commit_timestamp",
      org.apache.spark.sql.types.TimestampType, nullable = false))
}

class GraftFeedSource(spark: SparkSession, root: String,
                      maxVersionsPerTrigger: Int, metadataPath: String,
                      startingBase: Option[Long] = None,
                      changeFeed: Boolean = false,
                      maxBytesPerTrigger: Option[Long] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  /** `Trigger.AvailableNow` (the Delta DeltaSource pattern — a V1
    * Source implementing the admission-control seam): the backlog
    * BOUND is captured once at query start, the rate limits still
    * apply per micro-batch, and the run self-terminates when the
    * offset reaches the bound — without this, Spark falls back to
    * "single batch execution", which under a rate limit silently
    * leaves part of the backlog unprocessed. */
  @volatile private var availableNowCap: Option[Long] = None

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = SnapshotCatalog.latestVersionOption(root).map(_.toLong)

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: ReadLimit): org.apache.spark.sql.connector.read.streaming.Offset =
    nextOffset(availableNowCap).orNull

  /** Table schema pinned at stream start (data then partition columns —
    * the [[SnapshotFileIndex.snapshotDF]] order). */
  private val baseSchema: StructType = {
    val v = SnapshotCatalog.latestVersion(root)
    val (data, part) = SnapshotFileIndex.servedSchemas(spark, root, v)
    StructType(data.fields ++ part.fields)
  }

  override val schema: StructType =
    if (changeFeed) StructType(baseSchema.fields ++ GraftFeedSource.cdcFields)
    else baseSchema

  /** Highest version already handed out via [[getOffset]]/[[getBatch]]
    * — the rate-limit base. PERSISTED under the source's checkpoint-
    * scoped metadataPath (tmp + rename-over): a RESTARTED query must
    * not see this reset — `getOffset` would then report an offset
    * BELOW the engine's committed one, regress it, and re-deliver an
    * already-processed version on the climb back up. A fresh
    * checkpoint has no watermark file, which is exactly the bootstrap
    * case. */
  private val hwmPath = {
    val p = new Path(metadataPath, "graft-feed-hwm")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p.getParent)) fs.mkdirs(p.getParent)
    p
  }

  @volatile private var servedThrough: Long = {
    val fs = hwmPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hwmPath)) startingBase.getOrElse(0L)
    else try {
      val in = fs.open(hwmPath)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](64)
        var n = in.read(b)
        while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
        new String(buf.toByteArray, "UTF-8").trim.toLong
      } finally in.close()
    } catch {
      // a corrupt/unreadable watermark must not regress below the
      // configured starting point — the engine's committed offset in
      // the checkpoint still guards re-delivery; worst case is one
      // spurious empty replay range, never a reset rate-limit base
      // ignoring startingVersion
      case scala.util.control.NonFatal(_) => startingBase.getOrElse(0L)
    }
  }

  private def advanceServed(v: Long): Unit = if (v > servedThrough) {
    servedThrough = v
    val fs = hwmPath.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(hwmPath.getParent, s".${hwmPath.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    // rename-over first (atomic where the FS supports it — POSIX, most
    // object-store committers); only an FS refusing dest-exists pays
    // the delete+rename window, and the corrupt-read fallback above
    // bounds a crash inside it
    if (!fs.rename(tmp, hwmPath)) {
      fs.delete(hwmPath, false)
      fs.rename(tmp, hwmPath)
    }
    ()
  }

  private def toVersion(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json().toLong
  }

  override def getOffset: Option[Offset] = nextOffset(None)

  private def nextOffset(capLatest: Option[Long]): Option[LongOffset] = {
    val latest = (SnapshotCatalog.latestVersionOption(root).map(_.toLong),
        capLatest) match {
      case (Some(l), Some(c)) => Some(math.min(l, c))
      case (l, _) => l
    }
    latest.map { l =>
      // a FRESH checkpoint (no watermark, no startingVersion) bootstraps
      // at the CURRENT latest version — Delta's initial-snapshot
      // semantics. The rate limit applies only to the incremental
      // ranges AFTER the bootstrap: capping the first offset would
      // "bootstrap" at v1 and climb through history one version at a
      // time, failing permanently on any rewrite-bearing (or
      // early-expired) table — a restart livelock, since the fresh
      // checkpoint the operator is told to use repeats the same path.
      val capped =
        if (servedThrough == 0L && startingBase.isEmpty) l
        else {
          val byVersions = math.min(l, servedThrough + maxVersionsPerTrigger)
          // byte rate limit (Delta's maxBytesPerTrigger): extend the
          // range version-by-version while the log-carried added bytes
          // fit; always admit at least ONE version so the stream can't
          // stall behind a single oversized commit
          maxBytesPerTrigger match {
            case None => byVersions
            case Some(maxB) =>
              var v = servedThrough
              var acc = 0L
              var stop = false
              while (!stop && v < byVersions) {
                val b = SnapshotCatalog.addedBytesOf(root, (v + 1).toInt)
                if (acc + b > maxB && v > servedThrough) stop = true
                else { acc += b; v += 1 }
              }
              v
          }
        }
      LongOffset(math.max(capped, servedThrough))
    }.filter(_.offset > 0L)
  }

  override def commit(end: Offset): Unit = advanceServed(toVersion(end))

  /** A STREAMING read of `files` with the table's partition columns
    * reconstructed (hive layouts don't store them in the data files).
    * `_metadata` stays reachable on the result for DV subtraction. */
  private def streamingRead(files: Seq[String], v: Int): DataFrame = {
    val spec = SnapshotCatalog.partitionSpecAt(root, v)
    val dataSchema = StructType(baseSchema.fields.filterNot(f =>
      spec.exists(_.fieldNames.contains(f.name))))
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new InMemoryFileIndex(
      classic, files.map(new Path(_)), Map.empty, Some(dataSchema))
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(classic)
    val base = org.apache.spark.sql.graftbridge.Bridge.ofRows(
      spark, LogicalRelation(relation, isStreaming = true))
    spec.fold(base)(sp => SnapshotCatalog.reconstructPartCols(base, sp))
  }

  private def emptyBatch: DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.emptyStreamingDF(spark, schema)

  private def shapeOf(s: StructType): Seq[(String, org.apache.spark.sql.types.DataType)] =
    s.fields.toSeq.map(f => (f.name, f.dataType))

  /** Fail the query when the table's served shape at `v` diverges from
    * the schema pinned at stream start — the operator restarts and the
    * fresh source re-pins the evolved schema (the Delta contract; a
    * silent projection would serve the old shape forever). */
  private def checkSchemaStable(v: Int): Unit = {
    val (data, part) = SnapshotFileIndex.servedSchemas(spark, root, v)
    val now = StructType(data.fields ++ part.fields)
    if (shapeOf(now) != shapeOf(baseSchema))
      throw new IllegalStateException(
        s"graft-feed on $root: the table's schema changed mid-stream " +
          s"(pinned ${shapeOf(baseSchema)}, version $v serves " +
          s"${shapeOf(now)}) — restart the query so the source re-pins " +
          "the evolved schema")
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // a fresh checkpoint's first batch has no start offset: with a
    // startingVersion the range is INCREMENTAL from that base
    // (inclusive of the base version's own commit); without one it is
    // the full-snapshot bootstrap at `end`
    val from = start.map(toVersion).orElse(startingBase)
    val to = toVersion(end)
    advanceServed(math.max(from.getOrElse(0L), to))
    if (from.exists(_ >= to)) return emptyBatch
    checkSchemaStable(to.toInt)
    val frame = if (changeFeed) cdcBatch(from, to) else addsBatch(from, to)
    frame.getOrElse(emptyBatch)
  }

  /** Adds-only mode: the bootstrap is the complete snapshot with
    * in-effect DVs subtracted; incremental ranges are exactly the added
    * files — [[SnapshotCatalog.addedFiles]] IS the contract (O(delta)
    * commit reads, loud failure across a rewrite or past retention). */
  private def addsBatch(from: Option[Long], to: Long): Option[DataFrame] = {
    val files = SnapshotCatalog.addedFiles(root, from.map(_.toInt), to.toInt)
    if (files.isEmpty) None
    else {
      val base = streamingRead(files, to.toInt)
      // a bootstrap of a DV-bearing table serves the deletes-applied
      // snapshot instead of refusing: the streaming scan drops the DV
      // positions with the same filter as a batch read
      val served =
        if (from.isEmpty)
          SnapshotCatalog.joinDeletes(base, SnapshotCatalog.dvEntries(root, to.toInt))
        else base
      Some(served.select(baseSchema.fieldNames.map(col): _*))
    }
  }

  /** CDF mode: the bootstrap is the initial snapshot as `insert` rows
    * stamped at the bootstrap version; each incremental version
    * contributes its added rows as inserts and its DV positions' rows
    * as deletes (a merge commit contributes both). O(changed rows):
    * deletes open only the files the positions reference. */
  private def cdcBatch(from: Option[Long], to: Long): Option[DataFrame] = {
    val ordered = schema.fieldNames.map(col)
    from match {
      case None =>
        val files = SnapshotCatalog.addedFiles(root, None, to.toInt)
        if (files.isEmpty) None
        else Some(
          SnapshotCatalog.joinDeletes(streamingRead(files, to.toInt),
              SnapshotCatalog.dvEntries(root, to.toInt))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(to))
            .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(
              SnapshotCatalog.commitTimeMs(root, to.toInt))))
            .select(ordered: _*))
      case Some(f) =>
        val frames = SnapshotCatalog.changeCommits(root, f.toInt, to.toInt)
          .flatMap { case (v, adds, dvAdds) =>
            val inserts =
              if (adds.isEmpty) None
              else Some(streamingRead(adds.map(_.path), v)
                .withColumn("_change_type", lit("insert")))
            val deletes =
              if (dvAdds.isEmpty) None
              else Some(SnapshotCatalog.deletedRows(spark, dvAdds)(
                streamingRead(_, v)))
            val ts = new java.sql.Timestamp(
              SnapshotCatalog.commitTimeMs(root, v))
            (inserts.toSeq ++ deletes.toSeq)
              .map(_.withColumn("_commit_version", lit(v.toLong))
                .withColumn("_commit_timestamp", lit(ts))
                .select(ordered: _*))
          }
        if (frames.isEmpty) None else Some(frames.reduce(_ unionByName _))
    }
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftFeedSource[$root${if (changeFeed) ", cdf" else ""}]"
}
