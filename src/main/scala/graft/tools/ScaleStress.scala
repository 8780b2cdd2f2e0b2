package graft.tools

import graft.core.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-stress harness (round-9 verdict item 3): synthesize 10×/100×
  * `events` + `documents` from the base testdata with its OWN generator
  * (no driver dependency), run the heavy bench queries at each scale,
  * and fit per-query scaling exponents — the measured evidence behind
  * SCALE.md's "≤ ~linear" claims, one decade past the largest on-disk
  * testdata. Results: SCALESTRESS.md.
  *
  * Generator design (replicate-and-remap, deterministic):
  *   - k copies of every base row via an in-task `explode(sequence)` —
  *     no join, no shuffle to generate;
  *   - IDs and user keys are offset per copy (`+ copy·(max+1)`) so KEY
  *     CARDINALITY scales with the data — replicating keys verbatim
  *     would freeze group counts and understate shuffle growth;
  *   - event times shift by copy·span so the TIME RANGE scales — q03's
  *     bucket count and q60's session layout grow like real data;
  *   - document words are salted per copy (`w → c<copy>w`) so VOCABULARY
  *     and shingle space scale and near-dup structure is the base's,
  *     replicated per copy. Without the salt every copy of a text is an
  *     exact duplicate of k−1 others, and any dedup query would face
  *     quadratic duplicate-group blowup BY CONSTRUCTION of the data —
  *     measuring that would stress the fixture, not the operator;
  *   - the k=1 "baseline" runs through the same generator (salt c0), so
  *     the only variable across scales is k.
  *
  * Protocol: generate all scales, run the full query list once at k=1
  * as JIT warmup (unrecorded), then time one run per (query, scale) in
  * ascending-scale order. Exponent = least-squares slope of ln t over
  * ln k. Run this EXCLUSIVELY (no concurrent sbt/bench) — suite-load
  * contamination is the round-8 lesson in the verify notes.
  */
object ScaleStress {

  /** Heavy bench queries confined to events+documents (the two scaled
    * tables): time-bucket agg, ts parse, sessionize, histogram, exact +
    * LSH + SimHash + chunk dedup, TF-IDF, BPE train, image-decode
    * kernel, salted skew join, shuffle-shard. */
  val queryNames: Seq[String] = Seq(
    "q03_time_bucket", "q29_unixtime", "q60_sessionize", "q64_histogram",
    "q77_incremental_agg",
    "d01_dedup_exact", "d05_ngram_jaccard_pairs", "d09_simhash_neardup",
    "d14_chunk_dedup", "d16_index_maintenance", "d17_index_retraction",
    "q81_salted_skew_join",
    "t07_top_terms", "t19_bpe_train", "mm03_decode_features",
    "t22_shuffle_shard", "t23_corpus_drift", "t24_importance_resample",
    "d18_leakage_report", "t25_token_pack", "t26_chunk_overlap",
    "d19_cluster_safe_split", "s22_jl_projection", "s23_hybrid_rrf",
    "src11_manifest_snapshot", "q89_iqr_outliers",
    "s24_mmr_diversify", "mm11_keyframes", "t27_corpus_chain",
    "src14_stats_skipping", "src15_ts_stats_skipping",
    // src19 reads lineitem, which the stress generator does not scale —
    // its skipping kernel is src14/src15's, measured above
    "src16_catalog_schema_evolution", "src17_deletion_vectors",
    "src18_merge_on_read", "src20_lakehouse_lifecycle",
    "src21_table_history", "src22_planned_skipping",
    "src23_partitioned_catalog", "src24_partition_overwrite",
    "src25_sql_catalog", "src26_sql_dml", "src27_sql_update_merge",
    "src28_sql_merge_matrix", "src29_sql_maintenance",
    "src30_merge_by_source", "src31_sql_constraints_evolution",
    "src32_shallow_clone", "src33_scoped_optimize", "src34_copy_into")

  /** STATEFUL STREAMING drains (round-9 verdict item 5) — the scale
    * question for streaming is not just wall time but whether the
    * RocksDB state store grows with KEYS or with INPUT: st04 (FMGWS
    * per-user counters — state rows must equal distinct users), st13
    * (dropDuplicates — state rows must equal distinct dedup keys), and
    * st21 (LSH dedup gate — the probe is stateless; only the
    * once-per-doc emission dedup holds state, sized by the distinct
    * banded CANDIDATE PAIRS, i.e. near-dup density, not corpus).
    * Alongside each exponent the harness reports max state rows +
    * bytes observed per scale; ScaleToolsSpec pins the exact
    * state-rows = key-count equalities at fixture scale. */
  val streamingQueryNames: Seq[String] =
    Seq("st04_stateful_counter", "st13_stream_dedup", "st21_stream_dedup_gate",
        "st26_stream_chunk_scrub", "st30_stream_drift_monitor",
        "st33_stream_importance_gate", "st34_stream_ivm",
        "st35_stream_cdc_compact", "st36_stream_snapshot_publish",
        "st37_session_timers", "st38_catalog_change_feed",
        "st39_feed_compaction_fallback", "st40_stream_with_maintenance",
        "st41_catalog_cdc_ivm", "st42_stream_partitioned_ingest",
        "st43_catalog_feed_source", "st44_feed_cdc_readstream_ivm")

  /** Pseudo-name selecting the profile-tier section (round-11 verdict
    * item 3) in SPARK_GRAFT_STRESS_ONLY. */
  val profileTierName = "profile_tier"

  /** Pseudo-name selecting the catalog-commit metadata-tier section
    * (round-13 verdict item 1): manifest bytes/commit over a 50-batch
    * ingest against a table whose FILE COUNT scales ×1/×10/×100 — the
    * delta-log claim is that the per-commit cost is flat in table size
    * (the full-list manifest this replaced wrote O(table files) per
    * commit, quadratic over an append stream). */
  val catalogCommitName = "catalog_commit"

  /** Pseudo-name selecting the st37 cost-split section (round-13
    * verdict item 6): the drain timed twice at each scale — memory
    * sink (the registry form, which collects every emitted session)
    * vs a foreachBatch count sink — attributing the ×100 wall between
    * the StatefulProcessor and the sink collection. */
  val st37SplitName = "st37_sink_split"

  /** Pseudo-name selecting the query-PLANNING cost section (round-14
    * verdict item 2): wall time to construct [[graft.sources
    * .SnapshotFileIndex]] and list files under a pushed predicate,
    * over a table whose FILE COUNT scales ×1/×10/×100. The claim: the
    * log-carried sizes + stats make planning ONE metadata read — wall
    * grows only with log BYTES parsed (sub-linear milliseconds), never
    * with per-file filesystem RPCs (CatalogPlanningSpec pins the RPC
    * count itself with a counting filesystem). */
  val planningName = "planning_time"

  /** Pseudo-name selecting the in-place CONVERT cost section (round-17):
    * the SAME bytes laid out as x1/x10/x100 FILE COUNTS, converted in
    * place — the claim is the wall scales with files (namespace renames
    * + footer RPCs), never with bytes (zero data copied, audited by
    * byte identity in GraftCatalogSpec). */
  val convertName = "convert_tier"

  /** Pseudo-name selecting the CHECK-constraint write-overhead section
    * (round-17): the same append timed on an unconstrained vs a
    * 2-constraint table — enforcement is a filter fused into the write
    * pass, so the claim is ~zero extra wall at every scale (a second
    * validation scan would read as a ~2x ratio). */
  val constraintName = "constraint_tier"

  /** Pseudo-name selecting the incremental-OPTIMIZE cost section
    * (round-16 verdict item 1): an ingest of B batches with inline
    * threshold maintenance, B scaled ×1/×4/×16, reporting WRITE
    * AMPLIFICATION (total bytes on disk / bytes ingested — the direct
    * observable of "a byte is rewritten O(log) times, not O(fires)")
    * and the maintenance wall, against the full-table-rewrite
    * counterfactual computed analytically from the old policy (rewrite
    * the whole live table every fire). The streaming drains' wall
    * exponents can't show this — at stress scale their walls are
    * micro-batch trigger overhead, not rewrite bytes. */
  val optimizeName = "optimize_tier"

  /** Pseudo-name selecting the st42 COST-SPLIT section: the partitioned
    * streaming-ingest drain timed with and without its inline
    * threshold maintenance at each scale — attributing the drain's
    * wall exponent between the micro-batch ingest machinery (trigger
    * count scales with data; fixed cost per trigger) and the
    * maintenance term the incremental OPTIMIZE is meant to bound. */
  val st42SplitName = "st42_maint_split"

  /** Captures per-run maxima of the state-store metrics from streaming
    * progress events. Progress delivery is async — [[awaitQuiesced]]
    * waits for the terminated event of every query started since
    * reset() before the maxima are read. */
  final class StateMetricsListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    @volatile var maxStateRows: Long = 0L
    @volatile var maxStateBytes: Long = 0L
    private val started = new java.util.concurrent.atomic.AtomicInteger(0)
    private val terminated = new java.util.concurrent.atomic.AtomicInteger(0)
    def reset(): Unit = { maxStateRows = 0L; maxStateBytes = 0L
      started.set(0); terminated.set(0) }
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      started.incrementAndGet()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      e.progress.stateOperators.foreach { so =>
        maxStateRows = math.max(maxStateRows, so.numRowsTotal)
        // RocksDB reports through custom metrics; the HDFS-backed store
        // through memoryUsedBytes — take whichever is populated
        val rocks = Seq("rocksdbSstFileSize", "rocksdbTotalMemoryUsage")
          .map(k => Option(so.customMetrics.get(k)).map(_.longValue).getOrElse(0L))
          .sum
        maxStateBytes = math.max(maxStateBytes, math.max(so.memoryUsedBytes, rocks))
      }
    def awaitQuiesced(timeoutMs: Long = 30000): Boolean = {
      val t0 = System.currentTimeMillis()
      while (terminated.get() < started.get() &&
             System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(50)
      terminated.get() >= started.get() && started.get() > 0
    }
  }

  def generate(spark: SparkSession, baseDir: String, k: Int, out: String): Unit = {
    val t = Tables(spark, baseDir)
    val ev = t.events
    val evStats = ev.agg(max("event_id"), max("user_id"),
      (unix_timestamp(max("ts")) - unix_timestamp(min("ts")) + 3600L).as("span")).head()
    val (maxEid, maxUid, span) =
      (evStats.getLong(0), evStats.getLong(1), evStats.getLong(2))
    ev.withColumn("copy", explode(expr(s"sequence(0, ${k - 1})")))
      .select(
        (col("event_id") + col("copy") * lit(maxEid + 1)).as("event_id"),
        expr(s"ts + make_interval(0, 0, 0, 0, 0, 0, copy * ${span}L)").as("ts"),
        (col("user_id") + col("copy") * lit(maxUid + 1)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(math.max(8, 2 * k))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // orders scales for the profile tier (q84/q86/q87/st29): keys and
    // customers offset per copy so DISTINCT CARDINALITIES grow with the
    // data (frozen keys would make the HLL/distinct work underscale),
    // dates shift by copy·year so the date space grows too.
    val o = t.orders
    val oStats = o.agg(max("o_orderkey"), max("o_custkey")).head()
    val (maxOk, maxCk) = (oStats.getLong(0), oStats.getLong(1))
    o.withColumn("copy", explode(expr(s"sequence(0, ${k - 1})")))
      .select(
        (col("o_orderkey") + col("copy") * lit(maxOk + 1)).as("o_orderkey"),
        (col("o_custkey") + col("copy") * lit(maxCk + 1)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        expr("o_orderdate + make_interval(0, 0, 0, 0, 0, 0, copy * 31536000L)")
          .as("o_orderdate"),
        col("o_orderpriority"))
      .repartition(math.max(8, 2 * k))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val docs = t.documents
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0)
    docs.withColumn("copy", explode(expr(s"sequence(0, ${k - 1})")))
      .select(
        (col("doc_id") + col("copy") * lit(maxDoc + 1)).as("doc_id"),
        expr("array_join(transform(split(text, ' '), w -> concat('c', copy, w)), ' ')")
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(math.max(8, 2 * k))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // embeddings scales for the projection/ANN tier (s22): vec_ids
    // offset per copy BY THE DOCUMENTS' STRIDE (maxDoc+1, not the
    // embeddings' own max), so the doc_id↔vec_id alignment the hybrid
    // tier (s23) joins on is preserved in every copy — an independent
    // stride paired scaled vectors with unrelated copy-0 texts and
    // under-measured the lexical stage's scaling. The vectors
    // themselves replicate verbatim — copies tie in any top-k and the
    // (sim DESC, vec_id ASC) total order resolves them
    // deterministically, so recall stays well-defined while candidate
    // volume scales with k.
    val emb = Tables(spark, baseDir).embeddings
    // the shared stride is only collision-free while vec_ids fit inside
    // the doc-id space — fail loudly if a future fixture breaks that
    val maxVid = emb.agg(max("vec_id")).head().getLong(0)
    require(maxVid <= maxDoc,
      s"embeddings vec_id space ($maxVid) exceeds documents' ($maxDoc): " +
        "the shared per-copy stride would collide scaled vec_ids")
    emb.withColumn("copy", explode(expr(s"sequence(0, ${k - 1})")))
      .select(
        (col("vec_id") + col("copy") * lit(maxDoc + 1)).as("vec_id"),
        col("label"), col("embedding"))
      .repartition(math.max(8, 2 * k))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  private def timeOne(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    // teardown outside the timed window (d14's localCheckpoint blocks
    // would otherwise pressure every later timed query at that scale)
    graft.core.GraftSession.teardown(spark)
    sec
  }

  /** Least-squares slope of ln(t) vs ln(k). NaN when fewer than two
    * distinct scales were measured (no slope exists to fit). */
  def exponent(points: Seq[(Int, Double)]): Double = {
    val xs = points.map(p => math.log(p._1.toDouble))
    val ys = points.map(p => math.log(p._2))
    val (mx, my) = (xs.sum / xs.length, ys.sum / ys.length)
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0.0) Double.NaN else num / den
  }

  /** SPARK_GRAFT_STRESS_ONLY=a,b,c restricts the stressed queries — the
    * suite twin of Bench's SPARK_GRAFT_BENCH_ONLY: under variable
    * machine load a single-query run is the only way to get exponents
    * that measure the operator rather than the neighbors. */
  def selectedQueries: Seq[String] = sys.env.get("SPARK_GRAFT_STRESS_ONLY") match {
    case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    case None    => queryNames
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scales = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
                 else Seq(1, 10, 100)
    require(scales.distinct.size >= 2,
      s"need >= 2 distinct scales to fit exponents, got $scales")
    // Fail on a bad STRESS_ONLY name in milliseconds, not after the
    // multi-minute x100 generation: only queryNames/streamingQueryNames
    // members are known to read exclusively the two scaled tables.
    val unknown = selectedQueries
      .filterNot(n => queryNames.contains(n) || streamingQueryNames.contains(n) ||
        n == profileTierName || n == catalogCommitName ||
        n == st37SplitName || n == planningName || n == optimizeName ||
        n == st42SplitName || n == convertName || n == constraintName)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_STRESS_ONLY names not in ScaleStress.queryNames: " +
        unknown.mkString(", "))
    val spark = graft.core.GraftSession.getOrCreate()
    // dataDir registers the root for shutdown-hook deletion — a raw temp
    // dir would strand ~111x the base corpus on disk per run
    val root = graft.streaming.Streams.dataDir("graft_scale_stress_")
    val dirs = scales.map { kk =>
      val d = s"$root/x$kk"
      val t0 = System.nanoTime()
      generate(spark, baseDir, kk, d)
      println(f"[scalestress] generated x$kk in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      kk -> d
    }
    val batchSel = selectedQueries.filter(queryNames.contains)
    val streamSel = selectedQueries.filter(streamingQueryNames.contains)
    // JIT warmup, unrecorded
    batchSel.foreach(n => timeOne(spark, n, dirs.head._2))
    val times = scala.collection.mutable.Map[String, Vector[(Int, Double)]]()
      .withDefaultValue(Vector.empty)
    for ((kk, d) <- dirs; n <- batchSel) {
      val sec = timeOne(spark, n, d)
      times(n) = times(n) :+ (kk -> sec)
      println(f"[scalestress] x$kk $n: $sec%.2f s")
    }
    if (batchSel.nonEmpty) {
      println("| query | " + scales.map(s => s"x$s (s)").mkString(" | ") + " | exponent |")
      println("|---|" + scales.map(_ => "---|").mkString + "---|")
      batchSel.foreach { n =>
        val pts = times(n)
        println(s"| $n | " + pts.map(p => f"${p._2}%.2f").mkString(" | ") +
          f" | ${exponent(pts)}%.2f |")
      }
    }
    // Streaming section: time each stateful drain AND capture the state
    // store's row/byte maxima — the claim under test is that state is
    // O(keys), never O(input rows processed).
    if (streamSel.nonEmpty) {
      val listener = new StateMetricsListener
      spark.streams.addListener(listener)
      val sTimes = scala.collection.mutable.Map[String, Vector[(Int, Double, Long, Long)]]()
        .withDefaultValue(Vector.empty)
      for ((kk, d) <- dirs; n <- streamSel) {
        // First run per (query, scale) is UNTIMED: it stages the topic
        // files and builds/persists the static index artifacts, which
        // are session-cached per dir (stageEvents/dedupGateArtifacts
        // pattern) — in production those are already-landed topics and
        // batch-job outputs, so the timed second run measures the DRAIN.
        timeOne(spark, n, d)
        // Quiesce the UNTIMED run before reset(): listener-bus delivery
        // is async, so its QueryTerminated event can otherwise land
        // after reset() and inflate `terminated` — awaitQuiesced() would
        // then return before the timed run's final progress event
        // arrives, silently under-reporting maxStateRows/Bytes.
        listener.awaitQuiesced()
        listener.reset()
        val sec = timeOne(spark, n, d)
        listener.awaitQuiesced()
        sTimes(n) = sTimes(n) :+ ((kk, sec, listener.maxStateRows, listener.maxStateBytes))
        println(f"[scalestress] x$kk $n: $sec%.2f s " +
          s"stateRows=${listener.maxStateRows} stateBytes=${listener.maxStateBytes}")
      }
      spark.streams.removeListener(listener)
      println("| query | " + scales.map(s => s"x$s (s)").mkString(" | ") +
        " | exponent | " + scales.map(s => s"rows@x$s").mkString(" | ") +
        " | bytes@max |")
      println("|---|" + scales.map(_ => "---|").mkString + "---|" +
        scales.map(_ => "---|").mkString + "---|")
      streamSel.foreach { n =>
        val pts = sTimes(n)
        println(s"| $n | " + pts.map(p => f"${p._2}%.2f").mkString(" | ") +
          f" | ${exponent(pts.map(p => (p._1, p._2)))}%.2f | " +
          pts.map(_._3.toString).mkString(" | ") +
          s" | ${pts.map(_._4).max} |")
      }
    }
    // Profile-tier section (round-11 verdict item 3). The carriers
    // (q86/q87/st29) deliberately bundle full-rescan oracle AUDITS, so
    // their wall times measure the audit, not the tier — this times the
    // PRODUCTION forms directly:
    //   - q84 exact one-pass (Expand) vs q87 approx one-pass
    //     (Expand-free HLL): both ~linear; the approx pass should hold
    //     a decisive constant-factor lead that WIDENS as the Expand's
    //     k× row multiplication meets bigger shuffles;
    //   - q86 partial build (the per-ingest cost — linear) vs the
    //     REPORT FOLD over a fixed number of stored partials (O(partials)
    //     rows, so near-FLAT in corpus size — the whole point of the
    //     incremental tier);
    //   - st29 live drain with in-loop compaction: wall ~linear in
    //     input, but the STORE stays ≤ compactEvery rows and ~constant
    //     bytes at every scale (the O(1)-store claim, printed per scale).
    if (selectedQueries.contains(profileTierName)) {
      import graft.operators.ProfilingQueries
      val metrics = Seq("q84_exact_pass", "q87_approx_pass",
        "q86_partial_build8", "q86_report_fold8", "st29_live_drain")
      val times = scala.collection.mutable.Map[String, Vector[(Int, Double)]]()
        .withDefaultValue(Vector.empty)
      val storeStats = scala.collection.mutable.Map[Int, (Long, Long)]()
      def timed(name: String, kk: Int)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        body
        val sec = (System.nanoTime() - t0) / 1e9
        times(name) = times(name) :+ (kk -> sec)
        println(f"[scalestress] x$kk $name: $sec%.2f s")
      }
      // One tier pass over a scale dir; record=false runs every metric
      // body with the timers off (dataDir hands out a fresh temp dir
      // per call, so warm and timed passes never share a store).
      def runTier(kk: Int, d: String, record: Boolean): Unit = {
        def maybeTimed(name: String)(body: => Unit): Unit =
          if (record) timed(name, kk)(body) else body
        val o = Tables(spark, d).orders
        maybeTimed("q84_exact_pass") {
          ProfilingQueries.profile(o, moneyCols = Set("o_totalprice")).collect()
          ()
        }
        maybeTimed("q87_approx_pass") {
          ProfilingQueries.profile(o, moneyCols = Set("o_totalprice"),
            approx = true).collect()
          ()
        }
        // q86: build a store of EIGHT partials at every scale (each
        // partial summarizes k× more rows), then fold the report
        val store = graft.streaming.Streams.dataDir(s"graft_stress_prof_x$kk")
        maybeTimed("q86_partial_build8") {
          (0 until 8).foreach { s =>
            ProfilingQueries.partialProfile(o.filter(col("o_orderkey") % 8 === s))
              .write.mode("append").parquet(store)
          }
        }
        maybeTimed("q86_report_fold8") {
          ProfilingQueries.mergedProfile(spark.read.parquet(store), o.schema,
            moneyCols = Set("o_totalprice")).collect()
          ()
        }
        // st29: stage once (untimed ingest-side work), time the drain
        // with in-loop compaction, then record the store's size
        val staged = graft.streaming.Streams.stage(o.repartition(4), s"graft_stress_st29s_x$kk")
        val live = graft.streaming.Streams.dataDir(s"graft_stress_st29l_x$kk")
        maybeTimed("st29_live_drain") {
          graft.streaming.StreamingQueries.liveProfileDrain(
            spark, staged, live, compactEvery = 3)
        }
        if (record) {
          import graft.sources.SnapshotCatalog
          // the live store is a catalog table now: row count and bytes
          // come from the LIVE snapshot (superseded generations awaiting
          // expire would otherwise inflate the size claim)
          val rows = SnapshotCatalog.readSnapshot(spark, live).count()
          val bytes = SnapshotCatalog.liveDataBytes(live)
          storeStats(kk) = (rows, bytes)
          println(s"[scalestress] x$kk st29_store: rows=$rows bytes=$bytes")
        }
      }
      // JIT warmup on the smallest scale, unrecorded — covers ALL five
      // metric bodies: warming only the exact-profile pass left the
      // HLL/partial/streaming paths cold, and the first stress run's
      // x1 points came out SLOWER than x10, wrecking the fits.
      runTier(dirs.head._1, dirs.head._2, record = false)
      for ((kk, d) <- dirs) runTier(kk, d, record = true)
      println("| metric | " + scales.map(s => s"x$s (s)").mkString(" | ") + " | exponent |")
      println("|---|" + scales.map(_ => "---|").mkString + "---|")
      metrics.foreach { n =>
        val pts = times(n)
        println(s"| $n | " + pts.map(p => f"${p._2}%.2f").mkString(" | ") +
          f" | ${exponent(pts)}%.2f |")
      }
      println("| st29_store_rows | " +
        scales.map(s => storeStats(s)._1.toString).mkString(" | ") + " | — |")
      println("| st29_store_bytes | " +
        scales.map(s => storeStats(s)._2.toString).mkString(" | ") + " | — |")
    }
    // Catalog-commit metadata tier (round-13 verdict item 1): seed a
    // table whose FILE COUNT scales with k (8k files — the metadata
    // dimension manifests grow in), then run 50 constant-size appends
    // and measure manifest bytes + wall per commit. Delta-log claim:
    // both flat in k; the amortized checkpoint line shows the only
    // O(table-files) cost left and its 1-in-checkpointEvery dilution.
    if (selectedQueries.contains(catalogCommitName)) {
      import graft.sources.SnapshotCatalog
      val nAppends = 50
      val rows = scala.collection.mutable.Map[Int, (Long, Long, Double)]()
      for ((kk, d) <- dirs) {
        val root = graft.streaming.Streams.dataDir(s"graft_stress_cat_x$kk")
        val ev = Tables(spark, d).events
          .select(col("event_id"), col("ts"), col("value"))
        // seed: the scaled table lands as 8k files in ONE commit
        SnapshotCatalog.append(ev.repartition(8 * kk), root, "seed")
        val batch = ev.limit(200).coalesce(1).localCheckpoint()
        val t0 = System.nanoTime()
        (0 until nAppends).foreach { i =>
          SnapshotCatalog.append(batch, root, s"ing$i", recordStats = false)
        }
        val wallPer = (System.nanoTime() - t0) / 1e9 / nAppends
        val mdir = new java.io.File(s"$root/manifests")
        val commitBytes = mdir.listFiles()
          .filter(f => f.getName.startsWith("commit-v") &&
            f.getName.stripPrefix("commit-v").stripSuffix(".txt").toInt > 1)
          .map(_.length()).sum
        val cpBytes = mdir.listFiles()
          .filter(_.getName.startsWith("checkpoint-v")).map(_.length()).sum
        rows(kk) = (commitBytes / nAppends, cpBytes / nAppends, wallPer)
        println(f"[scalestress] x$kk catalog_commit: " +
          f"${commitBytes / nAppends} delta B/commit, " +
          f"${cpBytes / nAppends} checkpoint B/commit (amortized), " +
          f"$wallPer%.3f s/commit over $nAppends appends on a " +
          f"${8 * kk}-file table")
      }
      println("| metric | " + scales.map(s => s"x$s").mkString(" | ") + " |")
      println("|---|" + scales.map(_ => "---|").mkString)
      println("| delta_manifest_bytes_per_commit | " +
        scales.map(s => rows(s)._1.toString).mkString(" | ") + " |")
      println("| checkpoint_bytes_per_commit_amortized | " +
        scales.map(s => rows(s)._2.toString).mkString(" | ") + " |")
      println("| commit_wall_sec | " +
        scales.map(s => f"${rows(s)._3}%.3f").mkString(" | ") + " |")
    }
    // Query-planning cost (round-14 verdict item 2): index construction
    // + predicate-pruned file listing over a table whose file count
    // scales with k — planning resolves ONE checkpoint + <=8 deltas
    // with log-carried sizes/stats, so wall tracks log bytes, never
    // per-file RPCs.
    if (selectedQueries.contains(planningName)) {
      import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
      import org.apache.spark.sql.types.LongType
      val rows = scala.collection.mutable.Map[Int, (Int, Double, Int)]()
      for ((kk, d) <- dirs) {
        val root = graft.streaming.Streams.dataDir(s"graft_stress_plan_x$kk")
        val ev = Tables(spark, d).events
          .select(col("event_id"), col("ts"), col("value"))
        // range-clustered seed: per-file id ranges are tight, so the
        // listing's stats consult actually cuts (the ingest-clustered
        // shape src04/src15 serve)
        SnapshotCatalog.append(
          ev.repartitionByRange(8 * kk, col("event_id")), root, "seed")
        val v = SnapshotCatalog.latestVersion(root)
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val id = AttributeReference("event_id", LongType)()
        val preds = Seq(
          GreaterThanOrEqual(id, Literal(maxId / 4)),
          LessThanOrEqual(id, Literal(maxId / 2)))
        // warmup, then median of 9 full plan passes (index build +
        // pruned listing — the namenode-facing work of EVERY query plan)
        def once(): (Double, Int) = {
          val t0 = System.nanoTime()
          val idx = new SnapshotFileIndex(spark, root, v)
          val kept = idx.listFiles(Nil, preds).map(_.files.size).sum
          ((System.nanoTime() - t0) / 1e6, kept)
        }
        once()
        val runs = (0 until 9).map(_ => once())
        val med = runs.map(_._1).sorted.apply(4)
        rows(kk) = (8 * kk, med, runs.head._2)
        println(f"[scalestress] x$kk planning_time: $med%.1f ms median " +
          f"(index + pruned listing, ${8 * kk} files, kept ${runs.head._2})")
      }
      println("| metric | " + scales.map(s => s"x$s").mkString(" | ") + " |")
      println("|---|" + scales.map(_ => "---|").mkString)
      println("| table_files | " +
        scales.map(s => rows(s)._1.toString).mkString(" | ") + " |")
      println("| planning_wall_ms_median | " +
        scales.map(s => f"${rows(s)._2}%.1f").mkString(" | ") + " |")
      println("| files_kept | " +
        scales.map(s => rows(s)._3.toString).mkString(" | ") + " |")
    }
    // Incremental-OPTIMIZE tier (round-16 verdict item 1): write
    // amplification and maintenance wall over an ingest with inline
    // threshold maintenance, batch count scaled x1/x4/x16. No expiry
    // runs, so total bytes under data/ = ingested + every byte
    // maintenance ever rewrote — amplification reads directly off the
    // directory. The counterfactual (the pre-round-16 policy: rewrite
    // the ENTIRE live table every fire, firing each time live files
    // crossed the bound) is computed analytically from the same batch
    // sizes: sum over fire positions of the table bytes at that point.
    if (selectedQueries.contains(optimizeName)) {
      import graft.sources.SnapshotCatalog
      val spark2 = spark
      import spark2.implicits._
      val batchCounts = Seq(30, 120, 480)
      val rows = batchCounts.map { b =>
        def ingest(root: String, maintain: Boolean): (Double, Long) = {
          var maintWall = 0.0
          (0 until b).foreach { i =>
            SnapshotCatalog.append(
              ((i * 1000L) until (i * 1000L + 1000L))
                .map(x => (x, s"payload-$x")).toDF("id", "s").coalesce(1),
              root, f"b$i%05d")
            if (maintain) {
              val t0 = System.nanoTime()
              SnapshotCatalog.maintainIfNeeded(spark, root, f"c$i%05d",
                maxLiveFiles = 8)
              maintWall += (System.nanoTime() - t0) / 1e9
            }
          }
          (maintWall, SnapshotCatalog.listDataEntries(s"$root/data").map(_._2).sum)
        }
        val (_, ingBytes) = ingest(
          graft.streaming.Streams.dataDir("graft_opt_base_"), maintain = false)
        val (mw, totBytes) = ingest(
          graft.streaming.Streams.dataDir("graft_opt_maint_"), maintain = true)
        val batchBytes = ingBytes.toDouble / b
        // old policy: live resets to compactTo=2 after each full
        // rewrite, refilling to the bound in ~7 appends — fires at
        // batch ~9, 16, 23, ... each rewriting the whole table so far
        val counterfactual = (9 to b by 7).map(_.toDouble * batchBytes).sum
        val amp = totBytes.toDouble / ingBytes
        val cfAmp = 1.0 + counterfactual / ingBytes
        println(f"[scalestress] optimize_tier B=$b: ingested ${ingBytes / 1024}%d KiB, " +
          f"on disk ${totBytes / 1024}%d KiB (amplification $amp%.2f), " +
          f"maintenance wall $mw%.1f s; full-rewrite counterfactual " +
          f"amplification $cfAmp%.1f")
        (b, amp, mw, cfAmp)
      }
      println("| B (batches) | " + rows.map(r => s"${r._1}").mkString(" | ") + " |")
      println("| amplification (measured, incremental) | " +
        rows.map(r => f"${r._2}%.2f").mkString(" | ") + " |")
      println("| amplification (full-rewrite counterfactual) | " +
        rows.map(r => f"${r._4}%.1f").mkString(" | ") + " |")
      println("| maintenance wall (s) | " +
        rows.map(r => f"${r._3}%.1f").mkString(" | ") + " |")
      println(f"[scalestress] optimize_tier amplification-vs-B exponent: " +
        f"${exponent(rows.map(r => (r._1, r._2)))}%.2f measured " +
        f"(flat = O(log) rewrites per byte) vs " +
        f"${exponent(rows.map(r => (r._1, r._4)))}%.2f counterfactual " +
        f"(linear = the quadratic total the incremental action removed)")
      println(f"[scalestress] optimize_tier maintenance-wall-vs-B exponent: " +
        f"${exponent(rows.map(r => (r._1, r._3)))}%.2f")
    }
    // st42 cost split: the partitioned streaming ingest drained with
    // and without the inline threshold maintenance — the difference IS
    // the maintenance term; the rest is micro-batch machinery whose
    // trigger count scales with the data.
    if (selectedQueries.contains(st42SplitName)) {
      import graft.sources.SnapshotCatalog
      def drain(d: String, maintain: Boolean): Double = {
        val root = graft.streaming.Streams.dataDir("graft_st42split_")
        val t0 = System.nanoTime()
        graft.streaming.Streams.withStreamShufflePartitions(spark) {
          val q = graft.streaming.Streams.eventsStream(spark, d, maxFilesPerTrigger = 1)
            .select(col("event_id"), col("event_type"), col("value"))
            .writeStream.outputMode("append")
            .option("checkpointLocation",
              graft.streaming.Streams.scratchDir("graft_cp_st42split_"))
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
              if (!b.isEmpty) {
                SnapshotCatalog.append(b.coalesce(1), root, s"batch$bid",
                  partitionBy = Seq("event_type"))
                if (maintain)
                  SnapshotCatalog.maintainIfNeeded(spark, root,
                      s"compact$bid", maxLiveFiles = 12).foreach { _ =>
                    SnapshotCatalog.expire(root, keepLast = 2,
                      minAgeMs = SnapshotCatalog.maintenanceRetentionMs)
                    ()
                  }
              }
              ()
            }
            .start()
          graft.streaming.Streams.awaitDrained(q)
          q.stop()
        }
        (System.nanoTime() - t0) / 1e9
      }
      // warm the topic staging per dir (untimed), then time both modes
      val rows = dirs.map { case (kk, d) =>
        drain(d, maintain = false)
        val off = drain(d, maintain = false)
        val on = drain(d, maintain = true)
        println(f"[scalestress] st42_maint_split x$kk: ingest-only $off%.2f s, " +
          f"with-maintenance $on%.2f s (maintenance term ${on - off}%.2f s)")
        (kk, off, on)
      }
      println("| mode | " + scales.map(s => s"x$s (s)").mkString(" | ") + " | exponent |")
      println("|---|" + scales.map(_ => "---|").mkString + "---|")
      println("| ingest only | " + rows.map(r => f"${r._2}%.2f").mkString(" | ") +
        f" | ${exponent(rows.map(r => (r._1, r._2)))}%.2f |")
      println("| with inline maintenance | " + rows.map(r => f"${r._3}%.2f").mkString(" | ") +
        f" | ${exponent(rows.map(r => (r._1, r._3)))}%.2f |")
    }
    // In-place CONVERT cost (round-17): constant BYTES (the x1 events),
    // file count scaled x16/x160/x1600 — wall must track the file count
    // (per-file rename + footer RPC), with zero data copied (the byte
    // identity itself is spec-pinned; here the observable is the wall's
    // exponent in FILES at fixed bytes).
    if (selectedQueries.contains(convertName)) {
      import graft.sources.SnapshotCatalog
      val ev = Tables(spark, dirs.head._2).events
        .select(col("event_id"), col("event_type"), col("value"))
      val fileCounts = scales.map(_ * 16)
      val rows = fileCounts.map { nf =>
        val plain = graft.streaming.Streams.dataDir(f"graft_conv_x$nf%04d_")
        // a fresh plain hive-partitioned dir with ~nf files (5 types x
        // nf/5-ish parts); written OUTSIDE the catalog
        ev.repartition(math.max(1, nf / 5))
          .write.partitionBy("event_type").mode("overwrite").parquet(plain)
        val actual = SnapshotCatalog.listDataEntries(plain).size
        val t0 = System.nanoTime()
        val (converted, v) = SnapshotCatalog.convertInPlace(spark, plain)
        val sec = (System.nanoTime() - t0) / 1e9
        require(v == 1 && converted == actual,
          s"convert drift: $converted of $actual files")
        println(f"[scalestress] convert_tier files=$actual: $sec%.2f s " +
          f"(${actual / sec}%.0f files/s, constant bytes)")
        (actual, sec)
      }
      println("| files | " + rows.map(_._1.toString).mkString(" | ") + " |")
      println("| convert wall (s) | " +
        rows.map(r => f"${r._2}%.2f").mkString(" | ") + " |")
      println(f"[scalestress] convert_tier wall-vs-files exponent: " +
        f"${exponent(rows)}%.2f (bytes constant — linear-in-files = the " +
        "namespace+footer term, never O(bytes))")
    }
    // CHECK-constraint write overhead (round-17): the same scaled append
    // timed onto an unconstrained vs a 2-constraint table — enforcement
    // rides the write pass (cond OR raise_error filter), so the ratio
    // must stay ~1 at every scale.
    if (selectedQueries.contains(constraintName)) {
      import graft.sources.SnapshotCatalog
      val rows = dirs.map { case (kk, d) =>
        val ev = Tables(spark, d).events
          .select(col("event_id"), col("event_type"), col("value"))
          .localCheckpoint()
        def appendTo(constrained: Boolean): Double = {
          val root = graft.streaming.Streams.dataDir("graft_constr_")
          SnapshotCatalog.append(ev.limit(10).coalesce(1), root, "seed")
          if (constrained) {
            SnapshotCatalog.addConstraint(spark, root, "vpos", "value >= 0")
            SnapshotCatalog.addConstraint(spark, root, "idnn",
              "event_id IS NOT NULL")
          }
          val t0 = System.nanoTime()
          SnapshotCatalog.append(ev.repartition(8), root, "big")
          (System.nanoTime() - t0) / 1e9
        }
        appendTo(constrained = false) // warm
        val off = appendTo(constrained = false)
        val on = appendTo(constrained = true)
        println(f"[scalestress] constraint_tier x$kk: unconstrained " +
          f"$off%.2f s, 2 constraints $on%.2f s (ratio ${on / off}%.2f)")
        (kk, off, on)
      }
      println("| mode | " + scales.map(s => s"x$s (s)").mkString(" | ") + " | exponent |")
      println("|---|" + scales.map(_ => "---|").mkString + "---|")
      println("| append, no constraints | " +
        rows.map(r => f"${r._2}%.2f").mkString(" | ") +
        f" | ${exponent(rows.map(r => (r._1, r._2)))}%.2f |")
      println("| append, 2 CHECK constraints | " +
        rows.map(r => f"${r._3}%.2f").mkString(" | ") +
        f" | ${exponent(rows.map(r => (r._1, r._3)))}%.2f |")
    }
    // st37 cost split (round-13 verdict item 6): memory sink (registry
    // form — collects ~every session row to the driver) vs foreachBatch
    // count sink, same processor, same staged topic.
    if (selectedQueries.contains(st37SplitName)) {
      import org.apache.spark.sql.streaming.OutputMode
      implicit val outEnc: org.apache.spark.sql.Encoder[(Long, Long, Long, Long)] =
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)]
      def drain(d: String, toMemory: Boolean): (Double, Long) =
        graft.streaming.Streams.withStateStoreProvider(spark,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          graft.streaming.Streams.withStreamShufflePartitions(spark) {
            val stream = graft.streaming.Streams
              .eventsStream(spark, d, maxFilesPerTrigger = 2)
              .withWatermark("ts", "600 seconds")
              .select(col("user_id"), col("ts"))
              .as[(Long, java.sql.Timestamp)](
                org.apache.spark.sql.Encoders.product[(Long, java.sql.Timestamp)])
            val sessions = stream.groupByKey(_._1)(
                org.apache.spark.sql.Encoders.scalaLong)
              .transformWithState(new graft.streaming.GapSessionProcessor(1800L),
                org.apache.spark.sql.streaming.TimeMode.EventTime(),
                OutputMode.Append(),
                org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)])
              .toDF("user_id", "session_start", "session_end", "n_events")
            val t0 = System.nanoTime()
            val n =
              if (toMemory)
                graft.streaming.Streams.drainToMemory(sessions,
                  s"stress37_${System.nanoTime()}", outputMode = "append").count()
              else {
                val acc = new java.util.concurrent.atomic.AtomicLong()
                val q = sessions.writeStream.outputMode("append")
                  .option("checkpointLocation",
                    graft.streaming.Streams.scratchDir("graft_cp_stress37_"))
                  .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
                    acc.addAndGet(b.count()); ()
                  }
                  .start()
                graft.streaming.Streams.awaitDrained(q)
                q.stop()
                acc.get()
              }
            ((System.nanoTime() - t0) / 1e9, n)
          }
        }
      for ((kk, d) <- dirs) {
        drain(d, toMemory = false) // untimed: stages the topic + JIT
        val (memSec, memN) = drain(d, toMemory = true)
        val (cntSec, cntN) = drain(d, toMemory = false)
        println(f"[scalestress] x$kk st37_sink_split: memory-sink " +
          f"$memSec%.2f s ($memN rows), count-sink $cntSec%.2f s ($cntN rows)" +
          f" -> sink share ${(memSec - cntSec) / memSec * 100}%.0f%%")
      }
    }
    spark.stop()
  }
}
