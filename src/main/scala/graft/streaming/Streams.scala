package graft.streaming

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.Files

/** Stream-source abstraction (SURVEY §7 "Kafka absence locally").
  *
  * The reference ingests from Kafka (consumer_postgres_streaming.py:219-227)
  * with earliest-offset replay and `maxOffsetsPerTrigger` rate limiting.
  * No Kafka connector jar ships in this environment, so the engine
  * abstracts the source: identical micro-batch semantics come from the
  * file-stream source (`maxFilesPerTrigger` ≙ maxOffsetsPerTrigger,
  * re-listing ≙ earliest replay, checkpointLocation ≙ consumer-group
  * offsets). A `format("kafka")` reader drops in behind the same trait
  * when the connector jar is on the classpath.
  */
object Streams {

  /** Scratch dir for bounded-drain checkpoints/staging/sinks: RAM-backed
    * (/dev/shm) when the host offers it — these drains are the test
    * harness; a production stream points checkpointLocation at durable
    * storage, so only harness I/O moves off disk. */
  private val scratchRoot: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      Some(shm)
    else None
  }

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook {
    scratchDirs.forEach { d =>
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } catch { case _: Throwable => () }
    }
  }

  /** Registry of memory-sink temp view names created by streaming
    * drains. Memory sinks pin every drained row in heap until their
    * temp view is dropped; a long bench suite that never drops them
    * bills the accumulated GC debt to whichever queries run late.
    * Every sink-creating site registers here, so teardown
    * ([[drainRegisteredMemorySinks]]) cannot be defeated by a sink
    * name that misses a naming convention. */
  private val memorySinks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def registerMemorySink(name: String): Unit =
    memorySinks.add(name)

  /** Snapshot-and-clear the registered memory-sink names (the caller
    * drops the temp views). */
  private[graft] def drainRegisteredMemorySinks(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val names = memorySinks.asScala.toSeq
    names.foreach(memorySinks.remove)
    names
  }

  def scratchDir(prefix: String): String = {
    val d = scratchRoot.map(r => Files.createTempDirectory(r, prefix))
      .getOrElse(Files.createTempDirectory(prefix))
    scratchDirs.add(d)
    d.toString
  }

  /** Scratch dir for DATA-sized stagings (parquet/ORC/JSON stages, sink
    * outputs, file-topic dirs): always disk-backed. tmpfs is sized for
    * checkpoint metadata, not data — at larger scale factors a /dev/shm
    * staging can ENOSPC mid-run or pressure host memory, and a crash
    * leaves RAM-resident litter. Checkpoints keep using [[scratchDir]]. */
  def dataDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    scratchDirs.add(d)
    d.toString
  }

  /** `processAllAvailable` with a watchdog: a bounded drain that wedges
    * (source bug, state-store stall) would otherwise hang the whole
    * correctness harness — after `timeoutSec` the query is stopped and
    * the caller proceeds with whatever was emitted.
    *
    * Returns true if the drain completed, false if the watchdog fired —
    * callers can distinguish a timeout from a genuine data mismatch. A
    * `done` flag set before the watchdog is interrupted prevents the
    * boundary race where a drain finishing at ~timeoutSec gets its
    * (healthy, idle) query stopped anyway. */
  def awaitDrained(q: org.apache.spark.sql.streaming.StreamingQuery,
                   timeoutSec: Int = 300): Boolean = {
    @volatile var done = false
    @volatile var timedOut = false
    val watchdog = new Thread(() => {
      try {
        val deadline = System.nanoTime() + timeoutSec * 1000000000L
        while (!done && System.nanoTime() < deadline) Thread.sleep(200)
        if (!done && q.isActive) {
          timedOut = true
          val label = Option(q.name).getOrElse(q.id.toString)
          System.err.println(s"[streams] watchdog stopping query $label after ${timeoutSec}s")
          q.stop()
        }
      } catch { case _: InterruptedException => () }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    try q.processAllAvailable()
    finally { done = true; watchdog.interrupt() }
    !timedOut
  }

  val rocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val explicitProviderKey = "graft.streaming.stateStore.explicit"

  /** Run `body` with a reduced shuffle-partition count and the engine's
    * stateful defaults. Streaming state stores create one state dir per
    * shuffle partition per micro-batch; 32 partitions × N batches of
    * checkpoint files dominates bounded-run wall clock. 4 partitions is
    * plenty for the drained volumes, and a real deployment sizes this to
    * key cardinality anyway.
    *
    * RocksDB is the engine-wide STATEFUL DEFAULT (SURVEY §4.3's 100 TB
    * choice): per-key state lives off-heap/on-disk, so state size is
    * bounded by disk instead of executor heap — a watermarked join or
    * dedup whose state outgrows the heap degrades instead of OOMing.
    * Every drain helper routes through here, so all stateful queries
    * (st01/st04/st13/st20/st23/…) run RocksDB unless a caller pinned a
    * provider explicitly via [[withStateStoreProvider]]. */
  def withStreamShufflePartitions[T](spark: SparkSession, n: Int = 4)(body: => T): T = {
    val explicitProvider = spark.conf.getOption(explicitProviderKey).contains("true")
    // Retaining the default 100 checkpoint generations is pure I/O for
    // bounded drains (and a real deployment tunes this to its recovery
    // SLO); 2 keeps crash-recovery semantics with minimal churn.
    val kvs = Seq(
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.streaming.minBatchesToRetain" -> "2") ++
      (if (explicitProvider) Nil else Seq(providerKey -> rocksDbProvider))
    graft.core.GraftSession.withConf(spark, kvs: _*)(body)
  }

  /** A staged stream-source dir and the schema of the frame written
    * into it: a stream over it reads that schema instead of inferring
    * one, which would run a Spark job every time a stream starts. */
  final case class Staged(dir: String, schema: StructType)

  /** `df` written as a fresh staged dir named after `prefix`. */
  def stage(df: DataFrame, prefix: String): Staged = {
    val out = dataDir(prefix)
    df.write.mode("overwrite").parquet(out)
    Staged(out, df.schema)
  }

  /** `make`'s staged artifacts, once per thread's session and `key`: the
    * dirs ride in the SparkContext's local property `key` (comma-joined)
    * and the staged frame's schema in `key.schema`. */
  def stagedOnce(spark: SparkSession, key: String)(make: => (Staged, Seq[String]))
      : (Staged, Seq[String]) = {
    val sc = spark.sparkContext
    (Option(sc.getLocalProperty(key)), Option(sc.getLocalProperty(s"$key.schema"))) match {
      case (Some(dirs), Some(json)) =>
        val parts = dirs.split(",").toSeq
        (Staged(parts.head, DataType.fromJson(json).asInstanceOf[StructType]), parts.tail)
      case _ =>
        val (staged, rest) = make
        sc.setLocalProperty(key, (staged.dir +: rest).mkString(","))
        sc.setLocalProperty(s"$key.schema", staged.schema.json)
        (staged, rest)
    }
  }

  /** Stage the `events` table as a multi-file parquet dir so the file
    * source produces several micro-batches (one per trigger with
    * maxFilesPerTrigger=1). Files are RANGE-partitioned on `ts` (file i =
    * time slice i): the file source processes (mtime, path)-ordered, so
    * micro-batches arrive in event-time order — no cross-batch
    * late-data drops, which keeps watermarked append-mode results equal
    * to the batch oracle. Staged once per (session, sfDir). */
  def stageEvents(spark: SparkSession, dir: String, nFiles: Int = 4): Staged =
    stagedOnce(spark, s"graft.staged.events.$dir")(
      (stageEventsFresh(spark, dir, nFiles), Nil))._1

  /** Fresh (uncached) staging — for queries that append sentinel files
    * to their own source dir and must not pollute the shared staging. */
  def stageEventsFresh(spark: SparkSession, dir: String, nFiles: Int = 4): Staged = {
    val staged = stage(Tables(spark, dir).events
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("ts"))
      .sortWithinPartitions("ts"), "graft_events_stage_")
    // FileStreamSource processes files ordered by (mtime, path); parquet
    // part files land with near-identical mtimes, which would randomize
    // batch order and cause watermark late-drops. Force mtimes to follow
    // part-file order (= ts-range order from repartitionByRange).
    orderByPartName(staged.dir)
    staged
  }

  /** Force the part files of `dir` to mtimes in part-file order, an hour
    * back and 10 s apart, so the file source consumes them in that order. */
  def orderByPartName(dir: String): Unit = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - 3600000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 10000L) }
  }

  /** Append `df` to a staged stream-source dir as ONE file whose mtime is
    * forced ABOVE every file already present — so the file source (which
    * processes files in (mtime, path) order) consumes it as its own
    * micro-batch strictly AFTER everything staged before it. This is the
    * st14 punctuation protocol factored out: sentinel/flush rounds can be
    * appended UP FRONT, before the query starts, and one continuous
    * drain sees the same ordered micro-batch sequence the old
    * kick-then-re-drain loop produced — minus one processAllAvailable
    * handshake (idle-detection + re-listing) per kick. Two successive
    * parquet appends can land within the same mtime millisecond, where
    * (mtime, path)-order degrades to random part-file names; the forced
    * mtime makes the round order deterministic. */
  def appendOrderedFile(df: DataFrame, staged: String): Unit = {
    def parts(): Array[java.io.File] = new java.io.File(staged).listFiles()
      .filter(f => f.getName.startsWith("part-"))
    val before = parts().map(f => f.getName -> f.lastModified()).toMap
    val maxMtime = if (before.isEmpty) System.currentTimeMillis()
                   else before.values.max
    df.coalesce(1).write.mode("append").parquet(staged)
    parts().filterNot(f => before.contains(f.getName)).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(maxMtime + (i + 1) * 10000L)
      }
  }

  /** Rate-limited earliest-replay stream over the staged events dir —
    * the engine's S1/T2 source. */
  def eventsStream(spark: SparkSession, dir: String,
                   maxFilesPerTrigger: Int = 1): DataFrame =
    streamFromStaged(spark, stageEvents(spark, dir), maxFilesPerTrigger)

  def streamFromStaged(spark: SparkSession, staged: Staged,
                       maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(staged.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(staged.dir)

  /** Drain a bounded stream into an in-memory sink table and return its
    * final contents. `processAllAvailable` gives the synchronous bounded
    * semantics the differential tests need (SURVEY §5.2-1). With
    * `availableNow` the query instead runs under `Trigger.AvailableNow`
    * — the production bounded-backfill trigger: process everything
    * available (still rate-limited into micro-batches), then terminate
    * itself. */
  def drainToMemory(df: DataFrame, name: String,
                    outputMode: String = "append",
                    availableNow: Boolean = false): DataFrame =
    withStreamShufflePartitions(df.sparkSession) {
      drainToMemoryNow(df, name, outputMode, availableNow)
    }

  private def drainToMemoryNow(df: DataFrame, name: String,
                               outputMode: String,
                               availableNow: Boolean): DataFrame = {
    val spark = df.sparkSession
    val cp = scratchDir(s"graft_cp_$name")
    registerMemorySink(name)
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", cp)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(0)) // T1: micro-batch trigger
      .start()
    if (availableNow) {
      // self-terminating: await end-of-available. Fail LOUDLY on timeout
      // (like awaitDrained's watchdog) — returning the partial memory
      // sink would surface a wedged backfill as a confusing oracle
      // mismatch instead of a timeout error.
      val finished = q.awaitTermination(300000)
      if (!finished) {
        if (q.isActive) q.stop()
        throw new IllegalStateException(
          s"[streams] availableNow drain '$name' did not terminate within 300s")
      }
    } else {
      awaitDrained(q)
      q.stop()
    }
    spark.table(name)
  }

  /** Run `body` with an EXPLICITLY pinned state-store provider. RocksDB
    * is already the engine default (see [[withStreamShufflePartitions]]);
    * this is for pinning a specific provider — e.g. the HDFS-backed
    * store for comparison runs — and the marker conf keeps the default
    * from clobbering the explicit choice inside nested drains. */
  def withStateStoreProvider[T](spark: SparkSession, providerClass: String)(body: => T): T =
    graft.core.GraftSession.withConf(spark,
      providerKey -> providerClass, explicitProviderKey -> "true")(body)

  /** Drain a stream through a foreachBatch parquet-append sink — the K1
    * pattern (consumer_postgres_streaming.py:403-450) with the reference's
    * anti-patterns fixed: one `persist` per batch instead of triple
    * re-execution, `isEmpty` probe, batch_id recorded for idempotent
    * replay auditing. Returns the sink table re-read. */
  def drainThroughForeachBatch(df: DataFrame): (DataFrame, Long) =
    withStreamShufflePartitions(df.sparkSession) {
      drainThroughForeachBatchNow(df)
    }

  /** Idempotent variant of the foreachBatch sink (SURVEY §7 hard part 2):
    * each micro-batch overwrites its OWN `batch_id=` partition (dynamic
    * partition overwrite), so a replayed batch after crash-recovery
    * rewrites identical data instead of appending duplicates —
    * exactly-once table contents over an at-least-once channel. The
    * reference's JDBC append (consumer_postgres_streaming.py:427-440) is
    * at-least-once; this is the upgrade path documented there. */
  def idempotentBatchWriter(out: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val conf = batch.sparkSession.conf
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = conf.getOption(key)
      conf.set(key, "dynamic")
      try batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write.mode("overwrite").partitionBy("batch_id").parquet(out)
      finally prev match {
        case Some(v) => conf.set(key, v)
        case None    => conf.unset(key)
      }
      ()
    }

  private def drainThroughForeachBatchNow(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession
    val cp = scratchDir("graft_cp_feb")
    val out = dataDir("graft_sink_feb")
    var nBatches = 0L
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          if (!batch.isEmpty) {
            nBatches += 1
            batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
              .write.mode("append").parquet(out)
          }
        } finally batch.unpersist()
        ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    awaitDrained(q)
    q.stop()
    // all-empty streams write nothing: parquet read on an empty dir would
    // throw UNABLE_TO_INFER_SCHEMA — return an empty frame with the
    // sink's schema instead
    val wroteAnything = new java.io.File(out).listFiles() != null &&
      new java.io.File(out).listFiles().exists(_.getName.startsWith("part-"))
    val sink =
      if (wroteAnything) spark.read.parquet(out)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        df.schema.add("batch_id", org.apache.spark.sql.types.LongType))
    (sink, nBatches)
  }
}
