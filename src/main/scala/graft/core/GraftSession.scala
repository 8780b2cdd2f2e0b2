package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Defaults chosen for 100 TB-scale design, validated on local[32]:
  *   - AQE on (runtime coalescing, skew-join splitting, broadcast demotion)
  *   - shuffle partitions sized to local cores (overridden by AQE at scale)
  *   - UTC session timezone (oracle parity with DuckDB)
  *   - Arrow/vectorized readers left at Spark defaults (on) — the reference
  *     disabled Arrow (consumer_postgres_streaming.py:211) only because of
  *     pandas_udf memory limits in its Docker setup; our engine is JVM-native.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, default 32: the local cores a harness session runs on. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      .config("spark.sql.extensions", "graft.core.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Spark's INT96 default writes timestamp columns with NO parquet
      // min/max statistics — every timestamp-sorted layout then scans
      // the whole table because nothing can row-group-prune (measured
      // in ScaleToolsSpec: 6000/6000 rows vs 838/6000 with INT64).
      // INT64 micros is the modern type and what every other engine
      // (and the parquet spec) expects.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", // bucketed saveAsTable scratch
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.shuffle.spill.compress", "true")
      // Static conf, default 100 entries: a long-lived session running
      // many distinct queries evicts the whole-stage-codegen class cache
      // and re-pays Janino compilation on every revisit (the r18 Bench
      // finding: t27 23.1 s in-suite vs 7.9 s warm on identical code).
      // Sized to the workload here for parity with the Bench harness —
      // the production session and the measured session must run the
      // same static conf (r18 ADVICE).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")

  /** The session every harness main (Bench, Verify, Probe, PlanAudit,
    * SchemaAudit, GenScale, ScaleStress) and the test base run on: the
    * production conf above on `cores` local cores with as many shuffle
    * partitions, so the oracle checks the plans the bench times. */
  def getOrCreate(cores: Int = cpus.toInt): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Release what one query left on the shared session, so none of it
    * is billed to the next query:
    *   - cached relations (d03/d05 signature tables);
    *   - persisted RDDs: localCheckpoint blocks (d03/d07/d11 lineage
    *     truncation) are NOT in the SQL cache and live until the RDD
    *     object is GC'd, landing their shuffle/memory footprint on later
    *     queries (r6: d03 17.2 s in-suite vs 2.5 s isolated). Removal is
    *     BLOCKING so its cost is billed to the query that made the
    *     blocks, not to whichever neighbour runs while an async removal
    *     drains (r8: d08 12.1 s in-suite vs 2.6 s isolated);
    *   - memory-sink temp views of streaming drains, which otherwise pin
    *     every drained row in heap as GC debt for the rest of the run
    *     (r10: st04 6.4 s in-suite vs 1.8 s isolated). The names come from
    *     the Streams registry every sink-creating site feeds, not from a
    *     naming-convention scrape of the catalog. */
  def teardown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.streaming.Streams.drainRegisteredMemorySinks().foreach(spark.catalog.dropTempView)
  }

  /** Run one query's `action`, then [[teardown]]. A failure is returned,
    * not thrown, so a harness can go on to the next query and still
    * report this one as failed. */
  def attempt(spark: SparkSession)(action: => Unit): Option[Throwable] =
    try { action; None }
    catch { case e: Throwable => Some(e) }
    finally teardown(spark)

  /** Run `body` with the given runtime SQL confs set, restoring each
    * key's prior value (or unsetting a previously-unset key) on the way
    * out. Query bodies share one engine session, so a conf they flip
    * must not leak into the next query — every query-scoped
    * `spark.conf.set` goes through here. Restoration happens as soon as
    * `body` returns: confs that gate PARSING/ANALYSIS (e.g.
    * spark.sql.scripting.enabled) are safe because `spark.sql` resolves
    * the plan eagerly; a conf that must stay set through a later
    * ACTION on the returned frame doesn't fit this helper. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
