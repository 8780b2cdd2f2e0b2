package graft.streaming

import graft.{GraftQuery, QueryPack}
import graft.core.Tables
import graft.functions.Canon
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.LongType

/** Structured Streaming surface (SURVEY §2.9 T1–T7), tested as bounded
  * streams whose drained results equal a batch SQL oracle (§5.2-4).
  *
  * Source semantics mirror the reference's Kafka consumers: earliest
  * replay, rate-limited micro-batches (maxFilesPerTrigger ≙
  * maxOffsetsPerTrigger=5/10), checkpointed offsets, append output —
  * see Streams.scala. Every query here drains a real StreamingQuery
  * (IncrementalExecution), not a batch rewrite.
  */
object StreamingQueries extends QueryPack {

  /** st26's STATIC artifacts, persisted and session-cached per source
    * dir (the stageEvents/dedupGateArtifacts pattern): the staged
    * batch-doc topic and the existing corpus's distinct chunk index.
    * The index build is a BATCH job over the existing corpus (d15's
    * index-update loop owns it in production) — it runs at full
    * session parallelism, outside the drain's 4-partition streaming
    * conf, and is NOT gate work; ScaleStress times the drain against
    * already-built artifacts. */
  def chunkScrubArtifacts(spark: org.apache.spark.sql.SparkSession,
                          dir: String): (Streams.Staged, String) = {
    import graft.dedup.DedupQueries
    val (staged, Seq(indexDir)) = Streams.stagedOnce(spark, s"graft.staged.chunkscrub.$dir") {
      val docs = Tables(spark, dir).documents
      val splitId = Tables.incrementalSplitId(docs, "doc_id")
      val staged = Streams.stage(docs.filter(col("doc_id") >= splitId).repartition(2),
        "graft_docs_scrub_")
      val indexDir = Streams.dataDir("graft_chunk_index_")
      graft.sources.SnapshotCatalog.replace(
        DedupQueries.chunkRelation(docs.filter(col("doc_id") < splitId))
          .select("chunk").distinct(),
        indexDir, "b0")
      (staged, Seq(indexDir))
    }
    (staged, indexDir)
  }

  /** st26 scrub, stored-index JOIN form — the past-broadcast-size path:
    * the micro-batch's chunks are exploded with their position,
    * anti-joined against the persisted chunk index (only batch chunks
    * shuffle — the index side is a shuffled build at worst, never
    * collected anywhere), and each doc is rebuilt from its surviving
    * chunks in original order. Identical output contract to the
    * broadcast form (spec-pinned). */
  def chunkScrubJoinForm(batch: org.apache.spark.sql.DataFrame,
                         index: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val chunks = batch.select(col("doc_id"),
      posexplode(col("chunks")).as(Seq("pos", "chunk")))
    val kept = chunks.join(index.select("chunk"), Seq("chunk"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
            s => s.getField("chunk")), " ")).as("kept_md5"))
    batch.select(col("doc_id"), size(col("chunks")).cast(LongType).as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** st26 scrub over a staged doc stream against a PERSISTED chunk
    * index: ONE per-batch anti-join code shape ([[chunkScrubJoinForm]],
    * the d15 probe) for both index sizes, the index side shaped by
    * [[graft.core.BroadcastGate]] on its on-disk bytes: broadcast, the
    * micro-batch's chunks never shuffle for the probe; past the gate, a
    * shuffled anti-join whose stream side is micro-batch-sized, so the
    * ~O(corpus) index never materializes on any single executor. At
    * 100 TB this is the live path; d08b's Bloom tier sits between the
    * two (false positives over-scrub — the safe direction for
    * decontamination-style gates).
    * Each incoming doc is chunked ROW-LOCALLY (the shared chunkArray
    * kernel), and re-emitted rebuilt from its surviving chunks —
    * content REWRITE, not just a flag (st16 flags; this scrubs). Zero
    * streaming state, append mode, no watermark. Both forms are
    * spec-pinned identical on the same staged corpus. */
  def chunkScrubStream(spark: org.apache.spark.sql.SparkSession, staged: Streams.Staged,
                       indexDir: String, sinkName: String): org.apache.spark.sql.DataFrame = {
    import graft.core.BroadcastGate
    import graft.dedup.DedupQueries
    val indexBytes = BroadcastGate.dirBytes(indexDir)
    val small = BroadcastGate.fits(spark, indexBytes)
    println(s"[st26] index ${indexBytes >> 20} MB on disk: " +
      (if (small) "broadcast-join path" else "stored-index join path"))
    val chunked = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), DedupQueries.chunkArray(col("ws")).as("chunks"))
    val outDir = Streams.dataDir(s"graft_scrub_${sinkName}_")
    Streams.drainBatches(spark, chunked, sinkName) { (b, _) =>
      val idx = graft.sources.SnapshotCatalog.readTableOrDir(spark, indexDir)
      chunkScrubJoinForm(b, BroadcastGate.shape(idx, small))
        .write.mode("append").parquet(outDir)
      ()
    }
    spark.read.parquet(outDir)
  }

  private def minhashBandArray: org.apache.spark.sql.Column = array(
    concat_ws("|", col("sig0"), col("sig1")),
    concat_ws("|", col("sig2"), col("sig3")),
    concat_ws("|", col("sig4"), col("sig5")),
    concat_ws("|", col("sig6"), col("sig7")))

  /** st21's MinHash signature columns over a `shs` shingle-array column:
    * per-row digest slicing (zero exchange — st17's scan-speed argmin
    * idea applied to MinHash), via the shared
    * [[graft.dedup.DedupQueries.rowSignatures]] kernel so the batch
    * index build and the streaming gate cannot disagree. */
  private def minhashSigned(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.dedup.DedupQueries
    DedupQueries.rowSignatures(
      df.select(col("doc_id"), DedupQueries.shingles(col("text")).as("shs")))
  }

  /** st21's STATIC artifacts, persisted as parquet and session-cached
    * per source dir (the stageEvents pattern): the staged batch-doc
    * topic, the existing corpus's LSH band index, and its per-doc
    * shingle table. In production these are d12's batch outputs — the
    * index-update loop between ingests — so building them is corpus
    * work, NOT gate work; ScaleStress times the drain against
    * already-built artifacts for exactly that reason. */
  def dedupGateArtifacts(spark: org.apache.spark.sql.SparkSession,
                         dir: String): (Streams.Staged, String, String) = {
    val (staged, Seq(indexDir, arrDir)) = Streams.stagedOnce(spark, s"graft.staged.dedupgate.$dir") {
      val docs = Tables(spark, dir).documents
      val split = Tables.incrementalSplitId(docs, "doc_id")
      val staged = Streams.stage(docs.filter(col("doc_id") >= split).repartition(2),
        "graft_docs_dedup_")
      val indexDir = Streams.dataDir("graft_dedup_bands_")
      val arrDir = Streams.dataDir("graft_dedup_shs_")
      // build through the SAME kernel the index-update job appends
      // with ([[writeGateArtifacts]]), so build and update can't drift
      writeGateArtifacts(docs.filter(col("doc_id") < split),
        indexDir, arrDir, mode = "overwrite")
      (staged, Seq(indexDir, arrDir))
    }
    (staged, indexDir, arrDir)
  }

  /** The exact-Jaccard VERIFY stage shared verbatim by both st21 index
    * forms so they cannot drift: candidates (micro-batch-sized in both
    * forms) BROADCAST against the stored shingle table, which is
    * scanned, never shuffled (the candidates.join(exArr) shape shuffled
    * the entire corpus's arrays every micro-batch — ScaleStress
    * measured it super-linear). */
  private def dedupGateVerify(candidates: org.apache.spark.sql.DataFrame,
                              exArr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    exArr
      .join(broadcast(candidates), Seq("ex_id"))
      .select(col("doc_id"),
        size(col("shs")).as("n_b"), size(col("ex_shs")).as("n_a"),
        size(array_intersect(col("shs"), col("ex_shs"))).as("n_inter"))
      .filter(floor(col("n_inter") * 10000.0 /
        (col("n_a") + col("n_b") - col("n_inter")) + 0.5) >= 2000)
      .select("doc_id")
      .dropDuplicates("doc_id")

  /** The between-ingests INDEX-UPDATE job for the st21 gate artifacts —
    * d16's append step in the streaming artifacts' shape (ex_id band
    * rows + ex_shs shingle arrays, both derived from ONE signing pass).
    * Only gate SURVIVORS may be appended (the d16 rule: a dropped doc's
    * bands must never enter the index — the doc it duplicated already
    * stands for its cluster). `mode` "overwrite" builds fresh artifacts,
    * "append" is the update job; compaction of the append litter is
    * [[graft.dedup.DedupQueries.compactBandIndex]]'s src09 rewrite
    * applied to these dirs. Spec-pinned in DedupIndexSpec: after the
    * update, a drained gate flags near-dups of admitted docs and still
    * passes near-dups of dropped ones. */
  def writeGateArtifacts(admitted: org.apache.spark.sql.DataFrame,
                         indexDir: String, arrDir: String,
                         mode: String = "append"): Unit = {
    import graft.sources.SnapshotCatalog
    val signed = minhashSigned(admitted).localCheckpoint() // consumed twice
    val bands = signed
      .select(col("doc_id").as("ex_id"), posexplode(minhashBandArray))
      .toDF("ex_id", "band_id", "band_hash")
    val arrs = signed.select(col("doc_id").as("ex_id"), col("shs").as("ex_shs"))
    // snapshot commits, not mode(...) writes: a gate draining while the
    // index-update job lands resolves a complete pre- or post-update
    // version — never a torn directory. The batch id derives from the
    // admitted set's identity (count + id-hash XOR fold) so a REPLAYED
    // invocation re-produces the same name and the catalog's batch-id
    // replay dedup actually fires — a random UUID would double-append
    // exactly like the mode(append) write this replaced. The fold reads
    // the already-checkpointed signed table (row-for-row the admitted
    // set) instead of re-running `admitted`'s own plan — which for
    // st21b's update step is a parquet re-scan plus the survivors
    // anti-join, paid a second time for a one-row agg.
    val idSig = signed.agg(count(lit(1)),
      bit_xor(xxhash64(col("doc_id")))).head()
    val batch = s"b${idSig.getLong(0)}x${java.lang.Long.toHexString(
      if (idSig.isNullAt(1)) 0L else idSig.getLong(1))}"
    // independent roots, no ordering contract (gates never probe
    // mid-update) — overlap the two commits (guide §2.6)
    if (mode == "overwrite")
      graft.core.Par.both(
        SnapshotCatalog.replace(bands, indexDir, batch),
        SnapshotCatalog.replace(arrs, arrDir, batch))
    else
      graft.core.Par.both(
        SnapshotCatalog.append(bands, indexDir, batch),
        SnapshotCatalog.append(arrs, arrDir, batch))
    ()
  }

  /** The st21 gate: each micro-batch of incoming docs signs itself PER
    * ROW, bands the signature, probes the band index for candidates,
    * and exact-Jaccard verifies against the stored shingle table
    * ([[dedupGateVerify]] — one verify kernel, both paths). The
    * index-probe form is chosen by [[graft.core.BroadcastGate]] on the
    * index artifact's on-disk bytes:
    *   - under the gate the index is BROADCAST into a stream-static
    *     join; the only streaming state is the once-per-(pair|doc)
    *     emission dedup (ScaleToolsSpec pins state rows = candidate
    *     pairs);
    *   - past it, a per-batch STORED-INDEX merge join inside
    *     foreachBatch (the d12 probe shape), so the ~O(corpus) index
    *     never materializes on one executor or rebroadcasts per batch.
    *     Zero streaming state — each doc lives in exactly one
    *     micro-batch, so the within-batch emission dedup is complete.
    * Both forms are spec-pinned identical on the same staged corpus. */
  def dedupGateDrain(spark: org.apache.spark.sql.SparkSession, staged: Streams.Staged,
                     indexDir: String, arrDir: String): org.apache.spark.sql.DataFrame = {
    import graft.core.BroadcastGate
    import graft.dedup.DedupQueries
    val exArr = graft.sources.SnapshotCatalog.readTableOrDir(spark, arrDir)
    val stream = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
    val indexBytes = BroadcastGate.dirBytes(indexDir)
    val small = BroadcastGate.fits(spark, indexBytes)
    def index = BroadcastGate.shape(
      graft.sources.SnapshotCatalog.readTableOrDir(spark, indexDir), small)
    if (small) {
      println(s"[st21] index ${indexBytes >> 20} MB on disk: broadcast path")
      // under a broadcast index the banded rows never shuffle, so
      // carrying the shingle array alongside the bands is free
      val candidates = minhashSigned(stream)
        .select(col("doc_id"), col("shs"), posexplode(minhashBandArray))
        .toDF("doc_id", "shs", "band_id", "band_hash")
        .join(index, Seq("band_id", "band_hash"))
        .select(col("doc_id"), col("ex_id"), col("shs"))
        .dropDuplicates("doc_id", "ex_id")
      Streams.drainToMemory(dedupGateVerify(candidates, exArr),
        "st21_sink", outputMode = "append")
    } else {
      println(s"[st21] index ${indexBytes >> 20} MB on disk: stored-index join path")
      val outDir = Streams.dataDir("graft_dedupgate_out_")
      Streams.drainBatches(spark, stream, "st21_join") { (b, bid) =>
        val t0 = System.nanoTime()
        // the band-index join is a real shuffle here, so the probe
        // moves NARROW rows only — (doc_id, band_id, band_hash),
        // never the shingle arrays; the survivors re-attach their
        // shingles batch-side (candIds and the batch are both
        // micro-batch-sized) before the shared verify stage
        val candIds = minhashSigned(b)
          .select(col("doc_id"), posexplode(minhashBandArray))
          .toDF("doc_id", "band_id", "band_hash")
          .join(index, Seq("band_id", "band_hash"))
          .select(col("doc_id"), col("ex_id"))
          .dropDuplicates("doc_id", "ex_id")
        val shingled = b.select(col("doc_id"),
          DedupQueries.shingles(col("text")).as("shs"))
        val candidates = candIds.join(shingled, Seq("doc_id"))
          .select(col("doc_id"), col("ex_id"), col("shs"))
        dedupGateVerify(candidates, exArr)
          .write.mode("append").parquet(outDir)
        println(f"[st21] batch $bid: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.read.parquet(outDir)
    }
  }

  /** st30's STATIC artifact: the staged new-docs topic (docs ≥ the
    * incremental split), session-cached per source dir (the
    * stageEvents pattern) — staging is corpus work, not monitor work;
    * ScaleStress times the drain against an already-staged topic. */
  def driftMonitorStaged(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Streams.Staged =
    Streams.stagedOnce(spark, s"graft.staged.driftmon.$dir") {
      val docs = Tables(spark, dir).documents
      val sv = Tables.incrementalSplitId(docs, "doc_id")
      (Streams.stage(docs.filter(col("doc_id") >= sv).repartition(2), "graft_docs_drift_"), Nil)
    }._1

  /** Idempotent partial-append for the live stores (st29/st30/st31):
    * foreachBatch delivery is AT-LEAST-ONCE — after a crash between the
    * store append and the checkpoint commit, the same batch id is
    * redelivered on restart, and a blind `mode("append")` would
    * double-count that batch in every folded report forever (the JDBC
    * edge's [[JdbcBatchSink]] repairs the same hazard with its batch_id
    * delete-then-append). Every appended row is stamped with its batch
    * id (`__bid`); an arriving batch is skipped when the store has
    * already recorded an id >= its own (ids are monotonic per
    * checkpoint; [[graft.operators.ProfilingQueries.compactPartials]]
    * carries the max forward through compactions). The guard's read is
    * one parquet-footer aggregate over an O(batches)-row (O(1) once
    * compacted) store. The append itself is a catalog snapshot commit
    * ([[graft.sources.SnapshotCatalog.append]]) so a dashboard polling
    * the store mid-append resolves a complete version — and the
    * catalog's own batch-id dedup (`b<bid>` batch dirs) backs the
    * `__bid` guard up at the storage layer. Returns true when the
    * batch was appended. */
  private[graft] def appendBatchPartial(spark: org.apache.spark.sql.SparkSession,
                                        store: String, bid: Long,
                                        part: => org.apache.spark.sql.DataFrame): Boolean = {
    import graft.sources.SnapshotCatalog
    val seenMax: Long =
      if (!SnapshotCatalog.isTable(store)) Long.MinValue
      else {
        val r = SnapshotCatalog.readSnapshot(spark, store)
          .agg(max(col("__bid"))).head()
        if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
      }
    if (bid <= seenMax) {
      println(s"[livestore] skipping replayed batch $bid (store already at $seenMax)")
      false
    } else {
      SnapshotCatalog.append(part.withColumn("__bid", lit(bid)), store, s"b$bid")
      true
    }
  }

  /** Read a live store's current snapshot (empty-schema-safe only once
    * the first batch committed — callers guard on drain completion). */
  private[graft] def readStore(spark: org.apache.spark.sql.SparkSession,
                               store: String): org.apache.spark.sql.DataFrame =
    graft.sources.SnapshotCatalog.readSnapshot(spark, store)

  /** st29's drain: each micro-batch appends its one-row mergeable
    * partial ([[graft.operators.ProfilingQueries.partialProfile]]) to
    * the persisted store — through [[appendBatchPartial]], so a batch
    * replayed after a crash cannot double-count — and whenever the
    * append brings the store to `compactEvery` rows it is rewritten in
    * place through [[graft.operators.ProfilingQueries.compactStore]].
    * Compacting on the OBSERVED row count (parquet-footer metadata,
    * not a driver counter — restart-safe) bounds the store to at most
    * `compactEvery` rows at every instant, including the moment before
    * compaction fires; spec-pinned report-identical to the uncompacted
    * run. `compactEvery = 0` disables compaction (the spec's control
    * arm). `onBatch` is a test seam: called after each non-empty
    * appended batch with (batches-so-far, store row count at that
    * instant). */
  def liveProfileDrain(spark: org.apache.spark.sql.SparkSession,
                       staged: Streams.Staged, store: String,
                       compactEvery: Int = 0,
                       onBatch: Option[(Int, Long) => Unit] = None): Unit = {
    import graft.operators.ProfilingQueries
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    Streams.drainBatches(spark,
        Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1), "st29_") { (b, bid) =>
      if (!b.isEmpty &&
          appendBatchPartial(spark, store, bid,
            ProfilingQueries.partialProfile(b))) {
        val n = seen.incrementAndGet()
        if (compactEvery > 0 &&
            readStore(spark, store).count() >= compactEvery)
          ProfilingQueries.compactStore(spark, store, staged.schema)
        onBatch.foreach(f => f(n, readStore(spark, store).count()))
      }
      ()
    }
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "st01_stream_window_complete",
      (spark, dir) => {
        // T1/T6: tumbling 1-day event-time windows, complete output —
        // the fire dashboard's per-minute bucketing (fire_detection_app
        // .py:91-102) as a live windowed agg.
        val agg = Streams.eventsStream(spark, dir)
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
               Canon.sumCents(col("value")).as("sum_value_cents"))
        Streams.drainToMemory(agg, "st01_sink", outputMode = "complete")
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
                  col("event_type"), col("n_events"), col("sum_value_cents"))
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY 1, 2""".stripMargin),
      "T1/T6: streaming tumbling window agg (complete) ≡ batch time-bucket"),

    GraftQuery(
      "st02_stream_foreachbatch",
      (spark, dir) => {
        // K1/T3/T4: rate-limited stream → foreachBatch parquet-append sink
        // (the JDBC-append shape of consumer_postgres_streaming.py:403-450
        // with a persist instead of its triple re-execution), then audit
        // the sink: per-type counts must equal the batch query, and
        // batch_id provenance shows >1 micro-batch ran.
        val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value"))
        val (sink, _) = Streams.drainThroughForeachBatch(stream)
        sink.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_distinct_events"),
          sum(Canon.cents(col("value"))).as("sum_value_cents"),
          (countDistinct(col("batch_id")) >= 2).as("multi_batch"))
      },
      Some("""SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_distinct_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  true AS multi_batch
             |FROM events WHERE event_type = 'purchase'""".stripMargin),
      "K1/T2/T3: foreachBatch append sink, rate-limited micro-batches, exactly-once audit"),

    GraftQuery(
      "st03_session_window",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // T6: session windows (2h inactivity gap) per user. Batch
        // session_window — same Catalyst operator streaming uses.
        t.events
          .groupBy(col("user_id"), session_window(col("ts"), "2 hours"))
          .agg(count(lit(1)).as("n_in_session"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
               max(col("n_in_session")).as("max_session_len"),
               sum(col("n_in_session")).as("n_events"))
      },
      Some("""WITH o AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM o),
             |per AS (SELECT user_id, sess, count(*) AS n FROM s GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_sessions, max(n) AS max_session_len,
             |  CAST(sum(n) AS BIGINT) AS n_events
             |FROM per GROUP BY user_id""".stripMargin),
      "T6: session_window (2h gap) ≡ SQL gaps-and-islands"),

    GraftQuery(
      "st04_stateful_counter",
      (spark, dir) => {
        // T7: per-key running state via flatMapGroupsWithState — the
        // cross-batch counter the reference never built (vehicle tracking
        // was explicitly out of scope, vehicle_consumer.py:88-116). State
        // holds (n, cents) as exact longs; each batch emits the running
        // totals; final row per user equals the batch aggregate.
        val spark2 = spark
        import spark2.implicits._
        val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 2)
          .select(col("user_id"), Canon.cents(col("value")).as("cents"))
          .as[(Long, Long)]
        val updated = stream.groupByKey(_._1)
          .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
            (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) => {
              val (n0, c0) = state.getOption.getOrElse((0L, 0L))
              var n = n0; var c = c0
              rows.foreach { case (_, cents) => n += 1; c += cents }
              state.update((n, c))
              Iterator.single((user, n, c))
            })
          .toDF("user_id", "n_events", "sum_value_cents")
        Streams.drainToMemory(updated, "st04_sink", outputMode = "update")
          .groupBy("user_id")
          .agg(max(col("n_events")).as("n_events"),
               max(col("sum_value_cents")).as("sum_value_cents"))
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY user_id""".stripMargin),
      "T7: flatMapGroupsWithState running per-user counters ≡ batch groupBy"),

    GraftQuery(
      "st05_stream_watermark_append",
      (spark, dir) => {
        // T5: watermarked append-mode windows. A window is emitted only
        // once the watermark (max event time − 1h) passes its end, so ONE
        // far-future "__flush__" sentinel round follows the data: its
        // batch advances the watermark past every real window at batch
        // end, and the engine's NO-DATA micro-batch
        // (spark.sql.streaming.noDataMicroBatches.enabled, default on —
        // stateful operators report shouldRunAnotherBatch when the
        // watermark advances) then EMITS the sealed windows without a
        // second sentinel; the sentinel's own window stays open and is
        // never emitted. Range-ordered staging guarantees no cross-batch
        // late drops. Result ≡ full batch aggregate (oracle-diffed at
        // sf0.001/0.01/0.1 — the second "emission kick" this carried
        // through r18 was redundant with the no-data batch machinery).
        //
        // The sentinel round is appended UP FRONT as its own
        // mtime-ordered file (Streams.appendOrderedFile — the st14
        // punctuation protocol), so ONE continuous drain sees the same
        // ordered micro-batch sequence the old drain→kick→re-drain loop
        // produced, minus the per-kick drain handshakes. Two staged
        // slices (not four, st06's reasoning): each extra micro-batch
        // replays the window-state maintenance cost once more; the
        // watermark/append semantics under test only need the data split
        // across >1 batch.
        val staged = Streams.stageEventsFresh(spark, dir, nFiles = 2)
        Seq("2030-01-01 00:00:00").foreach { futureTs =>
          Streams.appendOrderedFile(
            Tables(spark, dir).events.limit(1)
              .withColumn("ts", lit(futureTs).cast("timestamp"))
              .withColumn("event_type", lit("__flush__")),
            staged.dir)
        }
        val agg = Streams.streamFromStaged(spark, staged)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        Streams.drainToMemory(agg, "st05_sink", outputMode = "append")
          .filter(col("event_type") =!= "__flush__")
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
                  col("event_type"), col("n_events"))
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             |  count(*) AS n_events
             |FROM events GROUP BY 1, 2""".stripMargin),
      "T5: watermark + append mode — late-window cutoff matches the oracle"),

    GraftQuery(
      "st06_stream_stream_join",
      (spark, dir) => {
        // J6: stream-stream interval join — every purchase joined to the
        // same user's clicks in the preceding hour. Both sides carry
        // watermarks; the range condition bounds the join state Spark
        // must keep (unbounded stream-stream joins are rejected). Two
        // staged slices (not four): each extra micro-batch replays the
        // join-state maintenance cost twice, once per side.
        //
        // NO flush sentinels, deliberately: an INNER interval join emits
        // each match in the micro-batch where its second side arrives —
        // the watermark only drives state EVICTION, never emission, so a
        // bounded drain's result set is complete once the real slices
        // have drained. (The st05-style '__flush__' kicks this carried
        // before were provably inert anyway: both side filters drop the
        // sentinel BELOW the EventTimeWatermark node — st14's
        // predicate-pushdown discovery — so they never advanced either
        // side's watermark; they only paid two extra micro-batches and
        // two drain handshakes. st14's LEFT OUTER form is the one that
        // needs real punctuation records, because its unmatched rows
        // emit only on watermark advance.)
        val staged = Streams.stageEventsFresh(spark, dir, nFiles = 2)
        val purchases = Streams.streamFromStaged(spark, staged)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
                  col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = Streams.streamFromStaged(spark, staged)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"))
        Streams.drainToMemory(joined, "st06_sink", outputMode = "append")
          .groupBy("p_user")
          .agg(countDistinct(col("p_id")).as("n_purchases_with_click"),
               count(lit(1)).as("n_pairs"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type,
             |         date_trunc('microseconds', ts) AS ts
             |  FROM events)
             |SELECT p.user_id AS p_user,
             |  count(DISTINCT p.event_id) AS n_purchases_with_click,
             |  count(*) AS n_pairs
             |FROM e p JOIN e c
             |  ON c.user_id = p.user_id
             | AND p.event_type = 'purchase' AND c.event_type = 'click'
             | AND c.ts >= p.ts - INTERVAL 1 HOUR
             | AND c.ts <= p.ts
             |GROUP BY p.user_id""".stripMargin),
      "J6/T5: watermarked stream-stream interval join ≡ batch range join"),

    GraftQuery(
      "st07_absa_streaming",
      (spark, dir) => {
        // The reference's flagship architecture end to end: a document
        // stream scored per micro-batch by the ABSA pipeline (per-
        // executor lazy model inside mapPartitions), decoded with native
        // expressions, appended through the foreachBatch sink — then the
        // sink table is aggregated. Result ≡ the batch absa01 pipeline.
        val staged = Streams.stage(Tables(spark, dir).documents.repartition(2), "graft_docs_stage_")
        val out = Streams.dataDir("graft_absa_sink")
        Streams.drainBatches(spark,
            Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1), "st07") { (batch, _) =>
          val scored = graft.ml.AbsaPipeline.decoded(
            graft.ml.AbsaPipeline.withProbs(batch))
          scored.select("doc_id", "value_label", "table_label", "stream_label")
            .write.mode("append").parquet(out)
          ()
        }
        spark.read.parquet(out)
          .groupBy("value_label", "table_label", "stream_label")
          .agg(count(lit(1)).as("n_docs"))
      },
      graft.ml.MlQueries.queries.find(_.name == "absa01_pipeline").flatMap(_.oracle),
      "Flagship parity: streaming ABSA inference via foreachBatch ≡ batch pipeline"),

    GraftQuery(
      "st08_kafka_producer_roundtrip",
      (spark, dir) => {
        // K4 producer semantics end to end (producer.py:38-53): the
        // events stream is JSON-serialized into (key, value) records and
        // published through the topic sink; a second streaming query
        // subscribes to that topic, parses `value` back to typed columns
        // (the consumer's from_json step,
        // consumer_postgres_streaming.py:233-247), aggregates, and must
        // equal the batch oracle over the original table — proving the
        // produce/consume hop is lossless.
        val topicDir = Streams.dataDir("graft_topic_")
        val records = StreamSink.toRecords(
          Streams.eventsStream(spark, dir, maxFilesPerTrigger = 2), "user_id")
        Streams.drain(spark)(
          FileTopicSink(topicDir, Streams.scratchDir("graft_cp_st08p")).start(records))
        val eventSchema = org.apache.spark.sql.types.StructType.fromDDL(
          "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, " +
            "value DOUBLE, props STRING")
        val consumed = Streams.streamFromStaged(spark,
            Streams.Staged(topicDir, records.schema), maxFilesPerTrigger = 4)
          .select(from_json(col("value"), eventSchema).as("e"))
          .select(col("e.*"))
        val agg = consumed.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
               Canon.sumCents(col("value")).as("sum_value_cents"))
        Streams.drainToMemory(agg, "st08_sink", outputMode = "complete")
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY 1""".stripMargin),
      "K4: emulated Kafka producer sink — produce→topic→consume ≡ batch oracle"),

    GraftQuery(
      "st09_available_now",
      (spark, dir) => {
        // T1/K2 modern form: Trigger.AvailableNow — the production
        // bounded-backfill trigger (process everything available in
        // rate-limited micro-batches, then terminate the query itself,
        // instead of the test-harness drain to idle). Same
        // windowed aggregation and oracle as st01.
        val agg = Streams.eventsStream(spark, dir)
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
               Canon.sumCents(col("value")).as("sum_value_cents"))
        Streams.drainToMemory(agg, "st09_sink", outputMode = "complete",
            availableNow = true)
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
                  col("event_type"), col("n_events"), col("sum_value_cents"))
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY 1, 2""".stripMargin),
      "T1/K2: Trigger.AvailableNow self-terminating backfill ≡ batch oracle"),

    GraftQuery(
      "st10_rocksdb_state",
      (spark, dir) => {
        // T7 at 100 TB state: the same per-key running counters as st04,
        // but on the RocksDB state store — per-key state lives off-heap
        // and spills to local disk, so state size is bounded by disk, not
        // executor heap. Proves the SCALE.md "switch to flip" actually
        // flips in this engine.
        val spark2 = spark
        import spark2.implicits._
        Streams.withStateStoreProvider(spark,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 2)
            .select(col("user_id"), Canon.cents(col("value")).as("cents"))
            .as[(Long, Long)]
          val updated = stream.groupByKey(_._1)
            .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
              (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) => {
                val (n0, c0) = state.getOption.getOrElse((0L, 0L))
                var n = n0; var c = c0
                rows.foreach { case (_, cents) => n += 1; c += cents }
                state.update((n, c))
                Iterator.single((user, n, c))
              })
            .toDF("user_id", "n_events", "sum_value_cents")
          Streams.drainToMemory(updated, "st10_sink", outputMode = "update")
            .groupBy("user_id")
            .agg(max(col("n_events")).as("n_events"),
                 max(col("sum_value_cents")).as("sum_value_cents"))
        }
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY user_id""".stripMargin),
      "T7 scale path: flatMapGroupsWithState on the RocksDB state store"),

    GraftQuery(
      "st11_transform_with_state",
      (spark, dir) => {
        // T7, next-gen API: transformWithState (Spark 4 StatefulProcessor
        // + typed ValueState handles, TTL-capable, RocksDB-backed) —
        // the successor to flatMapGroupsWithState that a new deployment
        // should target. Same counters and oracle as st04/st10.
        val spark2 = spark
        import spark2.implicits._
        Streams.withStateStoreProvider(spark,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 2)
            .select(col("user_id"), Canon.cents(col("value")).as("cents"))
            .as[(Long, Long)]
          val updated = stream.groupByKey(_._1)
            .transformWithState(new RunningTotalsProcessor(),
              org.apache.spark.sql.streaming.TimeMode.None(),
              OutputMode.Update(),
              org.apache.spark.sql.Encoders.product[(Long, Long, Long)])
            .toDF("user_id", "n_events", "sum_value_cents")
          Streams.drainToMemory(updated, "st11_sink", outputMode = "update")
            .groupBy("user_id")
            .agg(max(col("n_events")).as("n_events"),
                 max(col("sum_value_cents")).as("sum_value_cents"))
        }
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY user_id""".stripMargin),
      "T7 next-gen: transformWithState StatefulProcessor running counters"),

    GraftQuery(
      "st12_stream_static_join",
      (spark, dir) => {
        // Stream-static dimension enrichment: each micro-batch joins the
        // event stream to a static customer dim (re-planned per batch;
        // the dim broadcasts, so the stream side never shuffles for the
        // join) — the consumers' per-batch enrichment pattern
        // (consumer_postgres_streaming.py joins model output to metadata
        // before the sink). Aggregated per market segment ≡ batch oracle.
        val dim = Tables(spark, dir).customer
          .select(col("c_custkey"), col("c_mktsegment"))
        val enriched = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 2)
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"),
               Canon.sumCents(col("value")).as("sum_value_cents"))
        Streams.drainToMemory(enriched, "st12_sink", outputMode = "complete")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events e JOIN customer c ON c.c_custkey = e.user_id
             |GROUP BY 1""".stripMargin),
      "T6/J2 streaming: stream-static broadcast dim enrichment ≡ batch join"),

    GraftQuery(
      "st13_stream_dedup",
      (spark, dir) => {
        // Streaming exact dedup: dropDuplicates keyed on
        // (user_id, event_type) over the rate-limited event stream,
        // append output — first arrival wins, later micro-batches'
        // duplicates are suppressed by the state store. Audited as
        // per-type distinct-user counts ≡ batch COUNT(DISTINCT).
        // Production note: with a late-data bound, use
        // dropDuplicatesWithinWatermark so per-key state expires instead
        // of growing with corpus cardinality; here the key space is
        // bounded and the oracle needs every duplicate suppressed
        // regardless of event-time distance.
        val deduped = Streams.eventsStream(spark, dir)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
        Streams.drainToMemory(deduped, "st13_sink", outputMode = "append")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY 1""".stripMargin),
      "T7 streaming: stateful dropDuplicates ≡ batch COUNT(DISTINCT)"),

    GraftQuery(
      "st14_stream_stream_left_outer",
      (spark, dir) => {
        // J6/T5: stream-stream LEFT OUTER interval join — st06's inner
        // join emits matches as they arrive, but the outer (clickless)
        // rows only emit once the watermark proves no match can still
        // come. Sentinel design is load-bearing here, and a filtered
        // `__flush__` type does NOT work: Catalyst pushes deterministic
        // predicates BELOW EventTimeWatermark (writing .withWatermark
        // before .filter doesn't change the physical order), so a
        // sentinel that any side filters out never advances that side's
        // watermark — and the global watermark is the MIN across sides.
        // Instead the flush rows are real punctuation records that PASS
        // both side filters (one far-future purchase + click, tagged
        // user_id = -1) and are excluded after the join — the same
        // pattern a production pipeline uses for heartbeat/punctuation
        // events.
        val staged = Streams.stageEventsFresh(spark, dir, nFiles = 2)
        // ONE punctuation round: it advances the watermark at its
        // batch's end, and the engine's no-data micro-batch
        // (noDataMicroBatches, default on — the join operator reports
        // shouldRunAnotherBatch on watermark advance) evicts state and
        // emits the sealed outer rows without a second round
        // (oracle-diffed at sf0.001/0.01/0.1; the 2031 round this
        // carried through r18 was redundant with that machinery). The
        // file source consumes unseen files in (mtime, path) order at
        // maxFilesPerTrigger=1, so appending the round UP FRONT as its
        // own mtime-ordered file (Streams.appendOrderedFile) yields the
        // ordered micro-batch sequence real slices → 2030 round under
        // one continuous drain.
        Seq("2030-01-01 00:00:00").foreach { futureTs =>
          val base = Tables(spark, dir).events.limit(1)
            .withColumn("ts", lit(futureTs).cast("timestamp"))
            .withColumn("user_id", lit(-1L))
          Streams.appendOrderedFile(
            Seq("purchase", "click")
              .map(et => base.withColumn("event_type", lit(et)))
              .reduce(_ unionByName _),
            staged.dir)
        }
        def side(): org.apache.spark.sql.DataFrame =
          Streams.streamFromStaged(spark, staged)
            .withWatermark("ts", "1 hour")
        val purchases = side()
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
                  col("ts").as("p_ts"))
        val clicks = side()
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"),
          "leftOuter")
        Streams.drainToMemory(joined, "st14_sink", outputMode = "append")
          .filter(col("p_user") >= 0) // drop punctuation records
          .groupBy("p_user")
          .agg(countDistinct(col("p_id")).as("n_purchases"),
               count(lit(1)).as("n_rows"),
               sum(when(col("c_user").isNull, 1).otherwise(0)).as("n_unmatched"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type,
             |         date_trunc('microseconds', ts) AS ts
             |  FROM events)
             |SELECT p.user_id AS p_user,
             |  count(DISTINCT p.event_id) AS n_purchases,
             |  count(*) AS n_rows,
             |  CAST(sum(CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
             |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
             |LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
             |  ON c.user_id = p.user_id
             | AND c.ts >= p.ts - INTERVAL 1 HOUR
             | AND c.ts <= p.ts
             |GROUP BY p.user_id""".stripMargin),
      "J6/T5: watermarked stream-stream LEFT OUTER join — outer rows sealed by watermark"),

    GraftQuery(
      "st15_stream_quality_gate",
      (spark, dir) => {
        // Quality filtering ON INGEST: the t09 Gopher gate applied inside
        // a document stream (the LLM-pipeline deployment shape — filter
        // before anything lands), keep/drop counts in complete mode ≡
        // the batch gate. The gate column is the SAME expression object
        // as t09's (QualityQueries.gopherKeep), so batch and streaming
        // tiers can never drift.
        val staged = Streams.stage(Tables(spark, dir).documents.repartition(2), "graft_docs_qg_")
        val agg = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
          .select(graft.analysis.QualityQueries.gopherKeep.as("keep"))
          .groupBy("keep")
          .agg(count(lit(1)).as("n_docs"))
        Streams.drainToMemory(agg, "st15_sink", outputMode = "complete")
      },
      Some("SELECT keep, count(*) AS n_docs FROM (\n" +
        graft.analysis.QualityQueries.gopherSql + "\n) GROUP BY 1"),
      "North star/T: quality gate on ingest — streaming keep/drop counts ≡ batch gate"),

    GraftQuery(
      "st16_stream_decontaminate",
      (spark, dir) => {
        // Decontamination ON INGEST: the d08 train/eval 4-gram check as
        // a stream-static SEMI join — each micro-batch of incoming train
        // docs explodes to shingles and filters against the broadcast
        // static eval-shingle set; stateful dropDuplicates collapses a
        // doc's multiple shingle hits to one verdict row. This is how a
        // 100 TB pipeline quarantines contaminated docs before they
        // land, instead of re-scanning the corpus afterwards.
        import graft.dedup.DedupQueries.shingleRows
        val docs = Tables(spark, dir).documents
        val staged = Streams.stage(docs.repartition(2), "graft_docs_decon_")
        val evalSh = docs.filter(col("doc_id") % 50 === 0)
          .select(shingleRows(col("text"), 4).as("sh")).distinct()
        val flagged = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
          .filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), shingleRows(col("text"), 4).as("sh"))
          .join(broadcast(evalSh), Seq("sh"), "left_semi")
          .select("doc_id")
          .dropDuplicates("doc_id")
        Streams.drainToMemory(flagged, "st16_sink", outputMode = "append")
      },
      Some(graft.dedup.DedupQueries.decontamCte +
        "hit AS (SELECT DISTINCT doc_id FROM tr JOIN ev USING (sh))\n" +
        "SELECT doc_id FROM hit"),
      "North star/T: decontamination on ingest — stream-static semi join ≡ batch d08 set"),

    GraftQuery(
      "st17_stream_pq_encode",
      (spark, dir) => {
        // PQ ENCODE ON INGEST: the s10 product-quantization codes
        // computed inside an embedding stream. The codebook (per-label
        // sub-centroids) is a MODEL ARTIFACT — built once in batch,
        // collected (10×64 doubles), and baked into the per-row
        // expressions as literals, the same deterministic-artifact seam
        // as the ABSA scorer. The encode itself is the scale-superior
        // shape: argmin = array_min over (distance, cid) structs —
        // struct ordering gives the (d, cid) tie-break — so each row
        // quantizes with ZERO state and ZERO exchange; a 100 TB vector
        // firehose encodes at scan speed. Drained codes must equal the
        // batch s10 table row for row.
        val t = Tables(spark, dir)
        val embD = t.embeddings.select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        val codebook: Seq[(Int, Seq[Double])] =
          graft.similarity.SimilarityQueries.centroids(embD).collect().toSeq
            .map(r => (r.getInt(0), r.getSeq[Double](1)))
            .sortBy(_._1)
        def sub(c: org.apache.spark.sql.Column, m: Int) =
          slice(c, m * 16 + 1, 16)
        def distTo(cv: Seq[Double], m: Int): org.apache.spark.sql.Column =
          aggregate(
            zip_with(sub(col("v"), m),
              typedLit(cv.slice(m * 16, m * 16 + 16)),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x)
        def bestOf(m: Int): org.apache.spark.sql.Column =
          array_min(array(codebook.map { case (cid, cv) =>
            struct(distTo(cv, m).as("d"), lit(cid).as("cid"))
          }: _*))
        val staged = Streams.stage(t.embeddings.repartition(2), "graft_emb_pq_")
        val encoded = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .select(col("vec_id"),
            bestOf(0).getField("cid").as("code0"),
            bestOf(1).getField("cid").as("code1"),
            bestOf(2).getField("cid").as("code2"),
            bestOf(3).getField("cid").as("code3"),
            (0 until 4).map(m =>
              floor(bestOf(m).getField("d") * 1000000 + 0.5).cast(LongType))
              .reduce(_ + _).as("recon_err_e6"))
        Streams.drainToMemory(encoded, "st17_sink", outputMode = "append")
      },
      Some("""WITH dim AS (
             |  SELECT label AS cid, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS c
             |  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
             |cent AS (SELECT cid, list(c ORDER BY pos) AS cv FROM dim GROUP BY cid),
             |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |d AS (
             |  SELECT e.vec_id, c.cid, s.m,
             |    list_sum(list_transform(range(1, 17),
             |      i -> (e.v[s.m*16 + i] - c.cv[s.m*16 + i])
             |         * (e.v[s.m*16 + i] - c.cv[s.m*16 + i]))) AS d
             |  FROM v e, cent c, (SELECT unnest([0, 1, 2, 3]) AS m) s),
             |best AS (
             |  SELECT vec_id, m, cid,
             |    CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS d_e6,
             |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
             |  FROM d)
             |SELECT vec_id,
             |  max(CASE WHEN m = 0 THEN cid END) AS code0,
             |  max(CASE WHEN m = 1 THEN cid END) AS code1,
             |  max(CASE WHEN m = 2 THEN cid END) AS code2,
             |  max(CASE WHEN m = 3 THEN cid END) AS code3,
             |  CAST(sum(d_e6) AS BIGINT) AS recon_err_e6
             |FROM best WHERE rn = 1 GROUP BY vec_id""".stripMargin),
      "North star/T: PQ encode on ingest — zero-state per-row argmin ≡ batch s10 codes"),

    GraftQuery(
      "st18_stream_image_decode",
      (spark, dir) => {
        // S3 as a LIVE pipeline: image files land in a directory, a
        // binaryFile STREAM picks them up (the S3-bucket listening
        // shape), and the REAL ImageIO decode runs per micro-batch in
        // the typed kernel — the reference's frames-arrive → decode →
        // sink loop (vehicle_consumer.py) without Kafka in the middle.
        // Results must equal the batch mm05 table: same files, same
        // decoder, streamed.
        val spark2 = spark
        import spark2.implicits._
        val t = Tables(spark, dir)
        val fixDir = graft.multimodal.ImageCodec.ensureFixtureDir()
        // binaryFile's schema is fixed; readStream still needs it
        // stated explicitly — take it from a batch probe of the dir.
        val schema = spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.png").load(fixDir).schema
        val files = spark.readStream.format("binaryFile")
          .option("pathGlobFilter", "*.png")
          .option("maxFilesPerTrigger", 16)
          .schema(schema)
          .load(fixDir)
          .select(
            regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
              .cast("long").as("doc_id"),
            col("content"))
        val decoded = files.as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, bytes) =>
            graft.multimodal.ImageCodec.decodePng(id, bytes)
          }).toDF()
        // stream-static broadcast join keeps small SFs consistent
        // with the oracle's doc_id < 64 predicate
        val joined = decoded
          .join(broadcast(t.documents.select("doc_id")), Seq("doc_id"))
        Streams.drainToMemory(joined, "st18_sink", outputMode = "append")
          .orderBy(col("doc_id").asc)
      },
      Some("""SELECT doc_id,
             |  CAST(w AS INTEGER) AS width,
             |  CAST(h AS INTEGER) AS height,
             |  CAST(h * (w*c + (w*(w-1))//2) AS BIGINT) AS sum_r
             |FROM (SELECT doc_id, 16 + doc_id % 48 AS w, 16 + doc_id % 32 AS h,
             |             doc_id % 97 AS c
             |      FROM documents)
             |WHERE doc_id < 64
             |ORDER BY doc_id""".stripMargin),
      "North star/T: image files decoded ON INGEST via a binaryFile stream ≡ batch mm05"),

    GraftQuery(
      "st19_stream_ann_serve",
      (spark, dir) => {
        // ANN SERVING LOOP: a stream of query vectors served against the
        // STATIC s12 IVF layout (cid-partitioned parquet) — the shape a
        // retrieval stack runs in production, and the loop the
        // reference's frame pipeline approximates. Per micro-batch:
        //   1. each query row picks its nprobe=2 cells from the
        //      broadcast-literal codebook (zero-state per-row argmin,
        //      st17's artifact seam);
        //   2. the batch's DISTINCT probe ids (bounded: ≤ 2k ints) become
        //      literal partition filters on the static layout — the scan
        //      touches only the probed directories, per batch;
        //   3. candidates rerank by exact cosine; per-query top-5 by a
        //      window PARTITIONED BY query id (each query's candidates
        //      are complete within its batch — row-level source).
        // Streamed results must equal the batch IVF search row-for-row
        // (the oracle generalizes s06/s12's contract to all queries).
        import graft.similarity.SimilarityQueries.{centroids, nearestCentroid}
        import graft.functions.CosineSim.cosineFast
        val t = Tables(spark, dir)
        val embD = t.embeddings.select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        val corpus = embD.filter(col("vec_id") % 100 =!= 0)
        // consumed by the assignment write AND the driver codebook
        // collect — materialized once (the s06 note)
        val cent = centroids(embD).localCheckpoint()
        val layout = Streams.dataDir("graft_ivf_serve_")
        nearestCentroid(corpus, cent)
          .select(col("vec_id"), col("cid"))
          .join(corpus.select(col("vec_id"), col("v")), Seq("vec_id"))
          .write.mode("overwrite").partitionBy("cid").parquet(layout)
        val codebook: Seq[(Int, Seq[Double])] =
          cent.collect().toSeq.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
        def csimTo(cv: Seq[Double]) = cosineFast(col("v"), typedLit(cv))
        val probeCol = transform(
          slice(array_sort(array(codebook.map { case (cid, cv) =>
            struct((-csimTo(cv)).as("ns"), lit(cid).as("cid"))
          }: _*)), 1, 2),
          s => s.getField("cid"))
        val staged = Streams.stage(t.embeddings.filter(col("vec_id") % 100 === 0).repartition(2),
          "graft_annq_")
        val out = Streams.dataDir("graft_annserve_out_")
        Streams.drainBatches(spark,
            Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
              .select(col("vec_id").as("qid"),
                col("embedding").cast("array<double>").as("v"))
              .select(col("qid"), col("v").as("qv"), probeCol.as("probe")),
            "st19") { (batch, _) =>
          batch.persist()
          try if (!batch.isEmpty) {
            val pc = batch.select(explode(col("probe")).as("cid"))
              .distinct().collect().map(_.getInt(0))
            val pruned = spark.read.parquet(layout)
              .filter(col("cid").isin(pc.toIndexedSeq: _*)) // partition-pruned, per batch
            val scored = batch
              .select(col("qid"), col("qv"), explode(col("probe")).as("cid"))
              .join(pruned, Seq("cid"))
              .select(col("qid"), col("vec_id"), col("cid"),
                cosineFast(col("v"), col("qv")).as("sim"))
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
            scored.withColumn("rnk", row_number().over(w))
              .filter(col("rnk") <= 5)
              .select(col("qid"), col("vec_id"), col("cid"),
                floor(col("sim") * 1000000 + 0.5).cast(LongType).as("sim_e6"),
                col("rnk"))
              .write.mode("append").parquet(out)
          } finally { batch.unpersist(); () }
        }
        spark.read.parquet(out)
      },
      Some("""WITH dim AS (
             |  SELECT label AS cid, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS c
             |  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
             |cent AS (SELECT cid, list(c ORDER BY pos) AS cv FROM dim GROUP BY cid),
             |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id % 100 = 0),
             |probe AS (
             |  SELECT qid, cid FROM (
             |    SELECT q.qid, c.cid,
             |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             |        list_sum(list_transform(range(1, 65), i -> cv[i] * qv[i])) /
             |        sqrt(list_sum(list_transform(cv, x -> x * x)) *
             |             list_sum(list_transform(qv, x -> x * x))) DESC, c.cid) AS rn
             |    FROM cent c, q)
             |  WHERE rn <= 2),
             |asims AS (
             |  SELECT e.vec_id, c.cid,
             |    list_sum(list_transform(range(1, 65), i -> v[i] * cv[i])) /
             |    sqrt(list_sum(list_transform(v, x -> x * x)) *
             |         list_sum(list_transform(cv, x -> x * x))) AS sim
             |  FROM v e, cent c WHERE e.vec_id % 100 <> 0),
             |assign AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT vec_id, cid,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
             |    FROM asims) WHERE rn = 1),
             |cand AS (SELECT p.qid, a.vec_id, a.cid FROM assign a JOIN probe p ON p.cid = a.cid),
             |scored AS (
             |  SELECT ca.qid, ca.vec_id, ca.cid,
             |    list_sum(list_transform(range(1, 65), i -> e.v[i] * q.qv[i])) /
             |    sqrt(list_sum(list_transform(e.v, x -> x * x)) *
             |         list_sum(list_transform(q.qv, x -> x * x))) AS sim
             |  FROM cand ca JOIN v e ON e.vec_id = ca.vec_id JOIN q ON q.qid = ca.qid),
             |top AS (
             |  SELECT qid, vec_id, cid, sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, cid,
             |  CAST(floor(sim * 1000000 + 0.5) AS BIGINT) AS sim_e6,
             |  CAST(rn AS INTEGER) AS rnk
             |FROM top WHERE rn <= 5""".stripMargin),
      "North star/T: streaming ANN serve — per-batch partition-pruned probe against the static IVF layout"),

    GraftQuery(
      "st20_stream_sketch",
      (spark, dir) => {
        // T7 + A7 composition: distinct users per event type maintained
        // INCREMENTALLY as a mergeable DataSketches-HLL aggregation
        // buffer in streaming state. Each rate-limited micro-batch
        // merges new rows into the per-type sketch (complete mode), so
        // the state size is the ~16 KB sketch — never the user set.
        // This is the streaming twin of q17b's pre-aggregation pattern:
        // a 100 TB/day event firehose serves live distinct-user
        // dashboards from state that is O(types × sketch), not O(users).
        // Sketch bytes are engine-specific → the oracle compares exact
        // per-type values and asserts the estimate's ±5 % audit bool
        // (lgK=14 ≈ 0.8 % rsd, so 5 % is >6σ — deterministically TRUE).
        val agg = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 2)
          .groupBy(col("event_type"))
          .agg(hll_sketch_agg(col("user_id"), 14).as("sk"),
               count(lit(1)).as("n_events"))
        val streamed = Streams.drainToMemory(agg, "st20_sink", outputMode = "complete")
          .select(col("event_type"),
                  hll_sketch_estimate(col("sk")).as("est"),
                  col("n_events"))
        val exact = Tables(spark, dir).events
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        streamed.join(exact, "event_type")
          .select(col("event_type"), col("n_events"), col("exact_users"),
            (abs(col("est") - col("exact_users")) <= col("exact_users") * 0.05)
              .as("users_within_5pct"))
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  count(DISTINCT user_id) AS exact_users,
             |  TRUE AS users_within_5pct
             |FROM events GROUP BY 1""".stripMargin),
      "T7+A7: streaming mergeable-HLL distinct state ≡ batch exact within sketch bounds"),

    GraftQuery(
      "st21_stream_dedup_gate",
      (spark, dir) => {
        // NEAR-DUP GATE ON INGEST — d12's incremental probe as a
        // stream-static pipeline. See [[dedupGateArtifacts]] (the
        // persisted batch-side artifacts) and [[dedupGateDrain]] (the
        // gate itself); the oracle replays the FULL batch pipeline and
        // selects cross-split verified pairs — the streamed gate must
        // land on exactly that set.
        val (staged, indexDir, arrDir) = dedupGateArtifacts(spark, dir)
        dedupGateDrain(spark, staged, indexDir, arrDir)
      },
      Some(graft.dedup.DedupQueries.streamGateOracle),
      "North star/T: near-dup gate on ingest — per-row MinHash + static index probe ≡ batch d12 cross-split set"),

    GraftQuery(
      "st21b_gate_update_cycle",
      (spark, dir) => {
        // THE STREAMING INGEST LOOP END-TO-END — st21's gate composed
        // with the between-ingests index-update job d16 added: drain
        // ingest 1 against the stored corpus's artifacts, append the
        // ADMITTED survivors' band+shingle rows ([[writeGateArtifacts]]
        // — never the dropped docs'), then drain ingest 2 against the
        // UPDATED artifacts. Semantics differ from d16's batch twin in
        // exactly one way the oracle encodes: the stream gate probes
        // the STORED index only (each doc lives in one micro-batch;
        // within-ingest pairs are the batch job's concern), so ingest-2
        // verdicts flag near-dups of the original corpus and of
        // ADMITTED ingest-1 docs — not of dropped ingest-1 docs, and
        // not of ingest-2 neighbors.
        val docs = Tables(spark, dir).documents
        val v1 = Tables.incrementalSplitId(docs, "doc_id", 0.6)
        val v2 = Tables.incrementalSplitId(docs, "doc_id", 0.8)
        val indexDir = Streams.dataDir("graft_st21b_bands_")
        val arrDir = Streams.dataDir("graft_st21b_shs_")
        writeGateArtifacts(docs.filter(col("doc_id") < v1),
          indexDir, arrDir, mode = "overwrite")
        def stage(batch: org.apache.spark.sql.DataFrame): Streams.Staged =
          Streams.stage(batch.repartition(2), "graft_st21b_topic_")
        val batch1 = docs.filter(col("doc_id") >= v1 && col("doc_id") < v2)
        val flagged1 = dedupGateDrain(spark, stage(batch1), indexDir, arrDir)
          .localCheckpoint() // pin before the memory sink is reused below
        writeGateArtifacts(batch1.join(flagged1, Seq("doc_id"), "left_anti"),
          indexDir, arrDir)
        val batch2 = docs.filter(col("doc_id") >= v2)
        val flagged2 = dedupGateDrain(spark, stage(batch2), indexDir, arrDir)
        batch2.join(flagged2.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("is_dup"), lit(false)).as("dropped"))
          .localCheckpoint()
      },
      Some(graft.dedup.DedupQueries.gateUpdateCycleOracle),
      "North star/T: gate -> index update -> gate, the streaming ingest loop; ingest-2 verdicts ≡ stored-plus-admitted probe set"),

    GraftQuery(
      "st22_stream_schema_drift",
      (spark, dir) => {
        // SCHEMA DRIFT TOLERANCE ON INGEST — src08's lake-history
        // problem, streaming tier: producers upgrade on their own
        // schedule, so one topic simultaneously carries v1 payloads
        // (missing the late value2_cents field, carrying a legacy field
        // the engine never declared) and v2 payloads. `from_json`
        // against the ENGINE's target schema must null-fill the missing
        // field and ignore the unknown one, per record, with no restart
        // and no reprocessing — the tolerance the reference's JSON
        // envelope parse relies on implicitly
        // (consumer_postgres_streaming.py:300-305 null-guards). The
        // audit proves per-version row conservation and that v2 values
        // survive exactly. Kafka swap: identical from_json over the
        // connector's `value` column.
        val out = Streams.dataDir("graft_schdrift_")
        val events = Tables(spark, dir).events
        // two staged slices (st06's reasoning): drift tolerance is
        // per-record; >1 batch is all the stream shape needs
        events.repartition(2)
          .select(
            when(col("event_id") % 3 === 0,
              to_json(struct(col("event_id"), col("event_type"),
                col("value"), lit(1).as("legacy_flag"))))
            .otherwise(
              to_json(struct(col("event_id"), col("event_type"),
                col("value"),
                Canon.cents(col("value") * 2).as("value2_cents"))))
            .as("value"))
          .write.mode("overwrite").text(out)
        val parsed = spark.readStream
          .option("maxFilesPerTrigger", 1)
          .text(out)
          .select(from_json(col("value"),
            "event_id BIGINT, event_type STRING, value DOUBLE, value2_cents BIGINT",
            Map.empty[String, String]).as("e"))
          .select("e.*")
        val agg = parsed.groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
               sum(when(col("value2_cents").isNull, 1L).otherwise(0L)).as("n_v1"),
               sum(coalesce(col("value2_cents"), lit(0L))).as("sum_value2_cents"))
        Streams.drainToMemory(agg, "st22_sink", outputMode = "complete")
      },
      Some("""SELECT event_type, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
             |  CAST(sum(CASE WHEN event_id % 3 <> 0
             |    THEN CAST(floor(value * 2 * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
             |    AS sum_value2_cents
             |FROM events GROUP BY 1""".stripMargin),
      "T/S-evolution: mixed-version JSON stream — from_json null-fills late columns, drops unknown ones"),

    GraftQuery(
      "st23_stream_heavy_hitters",
      (spark, dir) => {
        // q78's mergeable Misra-Gries summary LIVING IN STREAMING STATE
        // (st20's pattern with frequent-items instead of HLL): each
        // rate-limited micro-batch folds its rows into the per-type MG
        // buffer, so live top-talker dashboards are served from
        // O(types × 2k) state for any key cardinality — a firehose's
        // distinct keys never materialize anywhere. MG's guarantees
        // hold under ANY merge order, which is exactly what makes the
        // audit booleans deterministic when micro-batch boundaries (and
        // therefore the buffer's merge tree) are a runtime artifact.
        // Same planted hot-keys-over-tail shape as q78.
        val k = 64
        val mg = udaf(new graft.functions.FreqSketchAggregator(k))
        val keyed = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 2)
          .select(col("event_type"),
            when(col("event_id") % 5 === 0,
              concat(lit("hot"), (col("event_id") % 3).cast("string")))
              .otherwise(concat(lit("u"), col("user_id").cast("string")))
              .as("key"))
        val agg = keyed.groupBy("event_type").agg(mg(col("key")).as("entries"))
        val sketch = Streams.drainToMemory(agg, "st23_sink", outputMode = "complete")
          .select(col("event_type"), explode(col("entries")).as("e"))
          .select(col("event_type"), col("e._1").as("key"), col("e._2").as("est"))
        val batchKeyed = Tables(spark, dir).events.select(col("event_type"),
          when(col("event_id") % 5 === 0,
            concat(lit("hot"), (col("event_id") % 3).cast("string")))
            .otherwise(concat(lit("u"), col("user_id").cast("string")))
            .as("key"))
        val exact = batchKeyed.groupBy("event_type", "key").agg(count(lit(1)).as("cnt"))
        val tot = batchKeyed.groupBy("event_type").agg(count(lit(1)).as("n_keys_total"))
        val heavy = exact.join(tot, "event_type")
          .withColumn("bound", expr(s"n_keys_total div ${k + 1}"))
          .filter(col("cnt") > col("bound"))
          .join(sketch, Seq("event_type", "key"), "left")
        heavy.groupBy("event_type").agg(
          first(col("n_keys_total")).as("n_keys_total"),
          first(col("bound")).as("bound"),
          count(lit(1)).as("n_heavy"),
          (sum(when(col("est").isNull, 1).otherwise(0)) === 0)
            .as("all_heavy_found"),
          (sum(when(col("est").isNotNull &&
                    (col("est") > col("cnt") ||
                     col("cnt") - col("est") > col("bound")), 1)
            .otherwise(0)) === 0).as("est_within_bound"))
      },
      Some("""WITH keyed AS (
             |  SELECT event_type, CASE WHEN event_id % 5 = 0
             |    THEN 'hot' || CAST(event_id % 3 AS VARCHAR)
             |    ELSE 'u' || CAST(user_id AS VARCHAR) END AS key
             |  FROM events),
             |tot AS (SELECT event_type, count(*) AS n FROM keyed GROUP BY 1),
             |ex AS (SELECT event_type, key, count(*) AS cnt FROM keyed GROUP BY 1, 2)
             |SELECT e.event_type,
             |  CAST(t.n AS BIGINT) AS n_keys_total,
             |  CAST(t.n // 65 AS BIGINT) AS bound,
             |  count(*) AS n_heavy,
             |  TRUE AS all_heavy_found,
             |  TRUE AS est_within_bound
             |FROM ex e JOIN tot t ON t.event_type = e.event_type
             |WHERE e.cnt > t.n // 65
             |GROUP BY e.event_type, t.n""".stripMargin),
      "T7+A-sketch: streaming Misra-Gries heavy hitters — O(types × 2k) state, audits hold for any micro-batching"),

    GraftQuery(
      "st24_stream_compaction",
      (spark, dir) => {
        // LIVE-TABLE MAINTENANCE — K1's append sink and src09's
        // compactor as ONE lifecycle: the rate-limited stream drains
        // into the table dir (one-plus small files per micro-batch —
        // the litter every streaming parquet table accretes), then the
        // compactor rewrites the table in place to 4 range-clustered
        // files, and the audit proves the TABLE still answers exactly
        // like batch — compaction under a live writer is content-
        // neutral. Plain parquet needs this quiesced-window model; a
        // snapshot-isolated table format runs the same rewrite
        // concurrently, and this query is the semantics it must
        // preserve. File counts are runtime artifacts on BOTH sides —
        // batches × partitions on ingest, sampled range boundaries on
        // compaction (an empty range writes no file) — so the audit
        // pins booleans: ingest left ≥ 4 files, compaction bounded the
        // table at ≤ 4 (not `< before`: at small SFs ingest can leave
        // exactly 4, making strict improvement data-dependent).
        val out = Streams.dataDir("graft_live_")
        val table = s"$out/table"
        val compacted = s"$out/compacted"
        Streams.drain(spark) {
          Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
            .writeStream.outputMode("append").format("parquet")
            .option("path", table)
            .option("checkpointLocation", Streams.scratchDir("graft_cp_st24_"))
            .start()
        }
        def nFiles(p: String): Long = new java.io.File(p).listFiles()
          .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .toLong
        val before = nFiles(table)
        spark.read.parquet(table)
          .repartitionByRange(4, col("ts"), col("event_id"))
          .sortWithinPartitions("ts", "event_id")
          .write.mode("overwrite").parquet(compacted)
        spark.read.parquet(compacted).agg(
            count(lit(1)).as("n_rows"),
            Canon.sumCents(col("value")).as("sum_value_cents"),
            sum(col("event_id")).as("sum_event_id"))
          .select(col("n_rows"), col("sum_value_cents"), col("sum_event_id"),
            lit(before >= 4).as("ingest_left_litter"),
            lit(nFiles(compacted) >= 1L && nFiles(compacted) <= 4L)
              .as("compacted_ok"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
             |  TRUE AS ingest_left_litter,
             |  TRUE AS compacted_ok
             |FROM events""".stripMargin),
      "K1+S-maintenance: streaming append then in-place compaction — live table stays batch-exact"),

    GraftQuery(
      "st29_stream_profile",
      (spark, dir) => {
        // LIVE PROFILE MAINTENANCE — q86's streaming twin, completing
        // the incremental-tier symmetry (d12→st21, d15→st26, q86→here):
        // each micro-batch of arriving rows APPENDS its one-row
        // mergeable partial (counts, native extrema, HLL sketches) to
        // the persisted profile store — an O(1)-rows write per batch,
        // no read-modify-write, no streaming state — and the live
        // report is a fold over the stored partials. Exact stats must
        // equal the full-rescan oracle; the HLL distinct tier carries
        // its q86 audit. At 100 TB this is how a live corpus keeps a
        // queryable profile: the store grows one ~100 KB row per
        // ingest batch regardless of batch size, and the in-loop
        // periodic compaction (every 3rd batch the store is rewritten
        // through compactStore as ONE equivalent partial) bounds even
        // that — the store never holds more than 3 rows at any
        // instant, over any ingest history (spec-pinned
        // report-identical to an uncompacted run, with the mid-stream
        // row-count bound asserted).
        import graft.operators.ProfilingQueries
        val o = Tables(spark, dir).orders
        val staged = Streams.stage(o.repartition(4), "graft_orders_stage_")
        val store = Streams.dataDir("graft_profile_live_")
        liveProfileDrain(spark, staged, store, compactEvery = 3)
        ProfilingQueries.auditedMergedProfile(readStore(spark, store), o)
      },
      Some(graft.operators.ProfilingQueries.auditedProfileOracle),
      "North star/T: live profile maintenance — per-batch mergeable partial append, report = fold over the store (q86's streaming twin)"),

    GraftQuery(
      "st30_stream_drift_monitor",
      (spark, dir) => {
        // LIVE DRIFT MONITOR — t23's streaming twin, composing the
        // st29 store mechanics with the t23 report kernel: the stored
        // corpus's per-source baseline counts are one batch pass; each
        // arriving micro-batch APPENDS its per-source drift partial
        // (docs, tokens, Gopher passes — mergeable counts, O(sources)
        // rows per batch, no streaming state, no read-modify-write);
        // the live report = fold over the store joined to the
        // baseline, through the SHARED driftReport/driftCounts/
        // gopherKeep kernels — so this monitor, the batch monitor
        // (t23), and the quality gate (t09/st15) cannot disagree. The
        // oracle is t23's full-corpus SQL VERBATIM: the streamed
        // monitor must land on exactly the batch monitor's table.
        import graft.analysis.QualityQueries
        val docs = Tables(spark, dir).documents
        val sv = Tables.incrementalSplitId(docs, "doc_id")
        val staged = driftMonitorStaged(spark, dir)
        val store = Streams.dataDir("graft_drift_store_")
        Streams.drainBatches(spark,
            Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1), "st30_") { (b, bid) =>
          // appendBatchPartial: replayed batch ids must not
          // double-count their drift partials in the fold below
          if (!b.isEmpty)
            appendBatchPartial(spark, store, bid,
              QualityQueries.driftCounts(b, "new"))
          ()
        }
        val baseline = QualityQueries
          .driftCounts(docs.filter(col("doc_id") < sv), "old")
        val newSide = readStore(spark, store).groupBy("source")
          .agg(sum(col("n_new")).as("n_new"),
            sum(col("tok_new")).as("tok_new"),
            sum(col("pass_new")).as("pass_new"))
        val per = baseline.join(newSide, Seq("source"), "full")
          .select(col("source"),
            coalesce(col("n_old"), lit(0L)).as("n_old"),
            coalesce(col("n_new"), lit(0L)).as("n_new"),
            coalesce(col("tok_old"), lit(0L)).as("tok_old"),
            coalesce(col("tok_new"), lit(0L)).as("tok_new"),
            coalesce(col("pass_old"), lit(0L)).as("pass_old"),
            coalesce(col("pass_new"), lit(0L)).as("pass_new"))
        QualityQueries.driftReport(per)
      },
      Some(graft.analysis.QualityQueries.corpusDriftOracle),
      "North star/T: live drift monitor — per-batch mergeable drift partials vs stored-corpus baseline ≡ batch t23"),

    GraftQuery(
      "st31_stream_constraint_gate",
      (spark, dir) => {
        // LIVE CONSTRAINT GATE — q88 composed with the st29/st30 store
        // mechanics: the STORED corpus's profile suggests the rules
        // once, offline (suggestConstraints — the q88 suggest step,
        // restricted to the ROW-LOCAL kinds: not_null/range/domain,
        // whose per-batch violation counts sum to exactly the
        // whole-slice evaluation; cross-batch `unique` needs distinct
        // state, the sketch tier's job, and is deliberately excluded).
        // Each arriving micro-batch is evaluated in ONE conditional
        // aggregate against the suggested rules (native bounds
        // materialized once — no per-batch train rescans) and appends
        // its per-constraint violation partial idempotently
        // ([[appendBatchPartial]]); the live report is a sum-fold over
        // the store. The reference tie-in is the dashboards' ad-hoc
        // live sanity SQL (fire_detection_app.py:64-74), here derived
        // and maintained automatically. The oracle replays suggestion
        // AND evaluation over the full new slice — the streamed gate
        // must land on exactly that table.
        import graft.operators.ProfilingQueries
        val o = Tables(spark, dir).orders
        val split = Tables.incrementalSplitId(o, "o_orderkey")
        val sc = ProfilingQueries.suggestConstraints(
          o.filter(col("o_orderkey") < split),
          kinds = ProfilingQueries.rowLocalRuleKinds)
        // two staged slices (st06's reasoning): each extra micro-batch
        // replays the gate's replay-guard read + store commit; per-batch
        // evaluation + fold only needs the slice split across >1 batch
        val staged = Streams.stage(o.filter(col("o_orderkey") >= split).repartition(2),
          "graft_orders_gate_")
        val store = Streams.dataDir("graft_constraint_store_")
        Streams.drainBatches(spark,
            Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1), "st31_") { (b, bid) =>
          if (!b.isEmpty)
            appendBatchPartial(spark, store, bid,
              ProfilingQueries.evaluateConstraints(b, sc))
          ()
        }
        readStore(spark, store).groupBy("constraint")
          .agg(sum(col("n_checked")).as("n_checked"),
               sum(col("n_violations")).as("n_violations"))
          .select(col("constraint"), col("n_checked"), col("n_violations"),
            (col("n_violations") === 0L).as("passed"))
          .orderBy("constraint")
      },
      Some(graft.operators.ProfilingQueries
        .constraintOracleSql(includeUnique = false)),
      "North star/T: live constraint gate — q88's row-local suggested rules evaluated per micro-batch, violation partials fold to the whole-slice report"),

    GraftQuery(
      "st26_stream_chunk_scrub",
      (spark, dir) => {
        // CHUNK-LEVEL SCRUB ON INGEST — d14's exact-substring signal as
        // a stream gate, with st21's division of labor: the existing
        // corpus's chunk index is a STATIC persisted artifact probed per
        // row; the within-batch first-keep and index update between
        // ingests are d15's batch job. See [[chunkScrubStream]] for the
        // two index forms (broadcast-hash vs shuffled per-batch
        // anti-join — one code shape, strategy by index size) — the
        // fixture index is far below the threshold, so this carrier
        // runs the broadcast form; the spec pins both forms identical
        // on the same staged corpus.
        val (staged, indexDir) = chunkScrubArtifacts(spark, dir)
        chunkScrubStream(spark, staged, indexDir, "st26_sink")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             |         generate_subscripts(string_split(text, ' '), 1) AS i
             |  FROM documents),
             |ch AS (
             |  SELECT doc_id, CAST(floor((i - 1) / 8) AS BIGINT) AS chunk_pos,
             |         string_agg(word, ' ' ORDER BY i) AS chunk
             |  FROM w GROUP BY doc_id, floor((i - 1) / 8)),
             |split AS (
             |  SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS sv FROM documents),
             |bat AS (SELECT * FROM ch WHERE doc_id >= (SELECT sv FROM split)),
             |kept AS (
             |  SELECT b.doc_id, b.chunk_pos, b.chunk FROM bat b
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM ch e
             |    WHERE e.doc_id < (SELECT sv FROM split) AND e.chunk = b.chunk)),
             |rec AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         md5(string_agg(chunk, ' ' ORDER BY chunk_pos)) AS kept_md5
             |  FROM kept GROUP BY doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_chunks FROM bat GROUP BY doc_id)
             |SELECT t.doc_id, t.n_chunks,
             |  coalesce(r.n_kept, 0) AS n_kept,
             |  coalesce(r.kept_md5, md5('')) AS kept_md5
             |FROM tot t LEFT JOIN rec r USING (doc_id)""".stripMargin),
      "North star/T: chunk scrub on ingest — row-local chunking + broadcast known-set filter, content rewritten stateless"),

    GraftQuery(
      "st32_state_reader",
      (spark, dir) => {
        // STREAMING-STATE OBSERVABILITY — Spark 4's State Data Source
        // reader: run a complete-mode grouped aggregation to a
        // checkpoint (noop sink — the OUTPUT is irrelevant, the STATE
        // is the product), stop it, then read the operator's state
        // store back OFFLINE via `spark.read.format("statestore")`.
        // For an aggregation operator the state IS the agg buffer
        // (sum/count/max longs per group), so the read-back is exactly
        // oracle-checkable against the batch aggregation — the debug
        // loop a real cluster runs when a stateful query misbehaves
        // ("what does partition 17's store actually hold?") without
        // touching the live query or its checkpoint. The reference's
        // consumers keep their running state opaque inside Postgres
        // (consumer_postgres_streaming.py:403-450); here the engine's
        // own state layer is a queryable table. Scale shape: the
        // statestore source lists one snapshot per shuffle partition
        // and scans them in parallel — O(state) read, no replay of the
        // input stream; state-metadata / batchId time travel are
        // pinned in StateReaderSpec.
        val cp = Streams.scratchDir("graft_cp_st32")
        Streams.drain(spark) {
          Streams.eventsStream(spark, dir)
            .groupBy(col("event_type"))
            .agg(sum(Canon.cents(col("value"))).as("sum_cents"),
                 count(lit(1)).as("n_events"),
                 max(col("user_id")).as("max_user"))
            .writeStream
            .outputMode("complete")
            .format("noop")
            .option("checkpointLocation", cp)
            .start()
        }
        spark.read.format("statestore").load(cp)
          .select(col("key.event_type").as("event_type"),
                  col("value.sum").as("sum_value_cents"),
                  col("value.count").as("n_events"),
                  col("value.max").as("max_user"))
      },
      Some("""SELECT event_type,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  count(*) AS n_events,
             |  max(user_id) AS max_user
             |FROM events GROUP BY event_type""".stripMargin),
      "T7/observability: offline state-store read-back ≡ batch aggregate (Spark 4 state data source)"),

    GraftQuery(
      "st33_stream_importance_gate",
      (spark, dir) => {
        // IMPORTANCE-RESAMPLING GATE ON INGEST — t24's DSIR weights as
        // a streaming admission rule, completing the ingest-gate family
        // (quality st15, decontamination st16, dedup st21, chunk scrub
        // st26, constraint st31). The 256-bucket weight table is a
        // MODEL ARTIFACT: built once offline from the STORED corpus
        // (target = its src0 slice vs the raw rest — the SHARED
        // QualityQueries.dsirTokens/dsirWeights kernels, so the batch
        // selector and the live gate cannot drift), collected (≤256
        // rows, O(1) driver by construction) and baked into the per-row
        // scoring expression as a map literal — the st17 codebook seam.
        // Each incoming doc then scores ROW-LOCALLY: aggregate() over
        // its own token array, element_at into the map literal,
        // admitted = sum_bits ≥ 0. ZERO streaming state and zero
        // exchanges — a 100 TB firehose scores at scan speed;
        // refreshing the artifact is a between-ingests batch job, like
        // d16's index update. Buckets unseen when the artifact was
        // built weight 0 (no evidence either way — the oracle replays
        // this as coalesce over its left join).
        val t = Tables(spark, dir)
        val docs = t.documents
        val splitId = Tables.incrementalSplitId(docs, "doc_id")
        val wmap = typedLit(
          graft.analysis.QualityQueries.dsirWeights(
            graft.analysis.QualityQueries.dsirTokens(
              docs.filter(col("doc_id") < splitId)))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
        val staged = Streams.stage(docs.filter(col("doc_id") >= splitId).repartition(2),
          "graft_docs_ig_")
        val toks = filter(split(col("text"), " "),
          w => length(w) > 0)
        val scored = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
          .select(col("doc_id"),
            size(toks).cast(LongType).as("n_tok"),
            aggregate(toks, lit(0L), (acc, w) =>
              acc + coalesce(
                element_at(wmap, substring(md5(w), 1, 2)), lit(0L)))
              .as("sum_bits"))
          .filter(col("n_tok") > 0)
          .withColumn("admitted", col("sum_bits") >= 0)
        Streams.drainToMemory(scored, "st33_sink", outputMode = "append")
      },
      Some("""WITH sp AS (
             |  SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS v FROM documents),
             |tok AS (
             |  SELECT doc_id, source, substr(md5(w), 1, 2) AS b
             |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
             |        FROM documents, sp WHERE doc_id < sp.v)
             |  WHERE length(w) > 0),
             |tgtc AS (SELECT b, count(*) AS ct FROM tok WHERE source = 'src0' GROUP BY b),
             |rawc AS (SELECT b, count(*) AS cr FROM tok WHERE source <> 'src0' GROUP BY b),
             |nt AS (SELECT count(*) AS n_t FROM tok WHERE source = 'src0'),
             |nr AS (SELECT count(*) AS n_r FROM tok WHERE source <> 'src0'),
             |wtab AS (
             |  SELECT r.b,
             |    (length(bin(nr.n_r + 256)) - length(bin(r.cr + 1)))
             |    - (length(bin(nt.n_t + 256)) - length(bin(coalesce(t.ct, 0) + 1))) AS w_bits
             |  FROM rawc r LEFT JOIN tgtc t USING (b), nt, nr),
             |newtok AS (
             |  SELECT doc_id, substr(md5(w), 1, 2) AS b
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |        FROM documents, sp WHERE doc_id >= sp.v)
             |  WHERE length(w) > 0),
             |scored AS (
             |  SELECT n.doc_id, count(*) AS n_tok,
             |    CAST(sum(coalesce(w.w_bits, 0)) AS BIGINT) AS sum_bits
             |  FROM newtok n LEFT JOIN wtab w USING (b)
             |  GROUP BY n.doc_id)
             |SELECT doc_id, n_tok, sum_bits, sum_bits >= 0 AS admitted
             |FROM scored""".stripMargin),
      "North star/T: importance gate on ingest — baked DSIR weight map, row-local scoring, zero state"),

    GraftQuery(
      "st34_stream_ivm",
      (spark, dir) => {
        // LIVE INCREMENTAL VIEW MAINTENANCE — q77's CDC fold run ON
        // INGEST, completing the live symmetry every other maintenance
        // tier already has (profile q86/st29, drift t23/st30,
        // constraints q88/st31): a changelog stream carrying inserts
        // AND retractions drains through foreachBatch, each micro-batch
        // appends its signed per-key delta partial (the SHARED
        // PipelineQueries.ivmDelta kernel) to a persisted store through
        // [[appendBatchPartial]] — so a batch replayed after a crash
        // cannot double-apply — and the serving report is the stored
        // base aggregate ⊕ the folded deltas through the SHARED
        // ivmMerge. Per-batch work is O(batch); the fold is O(store);
        // the base fact is never rescanned. The oracle is q77's
        // verbatim — live and batch IVM must land on the same table.
        val t = Tables(spark, dir)
        val ev = t.events.select(col("event_id"), col("user_id"),
          Canon.cents(col("value")).as("cents"))
        val split = Tables.incrementalSplitId(ev, "event_id")
        val base = ev.filter(col("event_id") < split)
        val stored = base.groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .localCheckpoint() // the stored aggregate-table artifact
        val log = base.filter(col("event_id") % 13 === 5)
            .select(col("user_id"), col("cents"), lit(-1L).as("sgn"))
          .unionByName(ev.filter(col("event_id") >= split)
            .select(col("user_id"), col("cents"), lit(1L).as("sgn")))
        val staged = Streams.stage(log.repartition(3), "graft_st34_log_")
        val store = Streams.dataDir("graft_st34_deltas_")
        Streams.drainBatches(spark,
            Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1), "st34_") { (b, bid) =>
          if (!b.isEmpty)
            appendBatchPartial(spark, store, bid,
              graft.operators.PipelineQueries.ivmDelta(b))
          ()
        }
        val folded = readStore(spark, store)
          .groupBy("user_id")
          .agg(sum(col("dn")).as("dn"), sum(col("dsum")).as("dsum"))
        graft.operators.PipelineQueries.ivmMerge(stored, folded)
      },
      Some(graft.operators.PipelineQueries.ivmOracle),
      "North star/T: live IVM — replay-idempotent per-batch delta partials, fold ≡ batch q77"),

    GraftQuery(
      "st35_stream_cdc_compact",
      (spark, dir) => {
        // LIVE CDC LOG COMPACTION — q76's streaming twin, closing the
        // CDC tier's live symmetry (snapshot upsert q59, SCD2 q75, log
        // compaction q76, IVM q77/st34): the change stream drains
        // through foreachBatch and each micro-batch appends its OWN
        // last-writer-wins prereduction (the SHARED
        // PipelineQueries.latestByKey kernel — O(batch) rows in,
        // O(batch keys) rows stored) through [[appendBatchPartial]],
        // so a replayed batch is skipped by batch-id; even without
        // that guard LWW absorbs replays (kernel associativity is
        // spec-pinned). Every 3rd batch the store compacts through
        // [[compactLwwStore]]: fold to one row per key, write the new
        // generation NEXT TO the live one, swap — the snapshot-swap
        // shape a table format runs at 100 TB (never rewrite a dir
        // being read; never collect keys to the driver — the fold is
        // a distributed window, store size is O(distinct keys)). The
        // serve is the same kernel + rollup over the store; the oracle
        // is q76's SQL verbatim — live and batch compaction must land
        // on the same table.
        val store = Streams.dataDir("graft_st35_lww_")
        Streams.drainBatches(spark,
            Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1), "st35_") { (b, bid) =>
          if (!b.isEmpty) {
            val appended = appendBatchPartial(spark, store, bid,
              graft.operators.PipelineQueries.latestByKey(b))
            if (appended && bid % 3 == 2) compactLwwStore(spark, store)
          }
          ()
        }
        graft.operators.PipelineQueries.latestRollup(
          graft.operators.PipelineQueries.latestByKey(
            readStore(spark, store).drop("__bid")))
      },
      Some(graft.operators.PipelineQueries.latestOracle),
      "North star/T: live CDC compaction — per-batch LWW prereduction, snapshot-swap store, serve ≡ q76"),

    GraftQuery(
      "st36_stream_snapshot_publish",
      (spark, dir) => {
        // STREAMING INGEST UNDER SNAPSHOT ISOLATION — src11's live
        // twin: every micro-batch lands as an immutable data batch and
        // COMMITS a new catalog version through [[SnapshotCatalog
        // .append]] (manifest = previous version's files ∪ the new
        // batch's). Replay-idempotent BY BATCH ID: a redelivered batch
        // dir that any surviving manifest references is neither
        // rewritten (rewriting would re-UUID the part files and break
        // every manifest listing the old names — the immutability
        // contract) nor re-committed. A reader racing the stream resolves a COMPLETE
        // version — never a half-written batch — which is what lets
        // downstream consumers (training jobs, dashboards) read a
        // table that is being appended to live; plain-parquet
        // streaming sinks (st02/st24) expose in-flight part files
        // instead. The output reads the LATEST version (whole staged
        // table — SQL-expressible) plus catalog audits: one version
        // per batch, every manifest a superset of its predecessor
        // (file-level reuse at every step), v1 still readable after
        // the stream ends (time travel under live ingest).
        import graft.sources.SnapshotCatalog
        val root = Streams.dataDir("graft_st36_")
        Streams.drainBatches(spark,
            Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1), "st36_") { (b, bid) =>
          if (!b.isEmpty) SnapshotCatalog.append(b, root, s"batch$bid")
          ()
        }
        val nV = SnapshotCatalog.latestVersion(root)
        val monotone = (2 to nV).forall { v =>
          SnapshotCatalog.manifestFiles(root, v - 1).toSet
            .subsetOf(SnapshotCatalog.manifestFiles(root, v).toSet)
        }
        val v1Readable = SnapshotCatalog
          .readSnapshot(spark, root, Some(1)).count() > 0
        SnapshotCatalog.readSnapshot(spark, root).agg(
            count(lit(1)).as("n_rows"),
            Canon.sumCents(col("value")).as("sum_value_cents"))
          .select(col("n_rows"), col("sum_value_cents"),
            lit(nV.toLong).as("n_versions"),
            lit(monotone).as("manifests_monotone"),
            lit(v1Readable).as("v1_time_travel_ok"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  CAST(4 AS BIGINT) AS n_versions,
             |  TRUE AS manifests_monotone,
             |  TRUE AS v1_time_travel_ok
             |FROM events""".stripMargin),
      "North star/T: streaming ingest under snapshot isolation — one committed version per batch, time travel live"),

    GraftQuery(
      "st37_session_timers",
      (spark, dir) => {
        // EVENT-TIME TIMERS + STATE EVICTION — the timer half of the
        // Spark-4 StatefulProcessor API ([[GapSessionProcessor]]): gap
        // sessionization with WATERMARK-PROVEN emission (Spark's own
        // session-window merge semantics): rows merge into the key's
        // buffered session set under full gap-merge — a late row
        // within the watermark delay can lower session_start, bridge
        // two buffered sessions, or open an earlier one, in ANY
        // cross-batch arrival order — and a session emits only when
        // the watermark passes its deadline and the registered timer
        // fires, CLEARING the state once no session remains. The store
        // holds only watermark-pending sessions at every instant
        // (q60's batch kernel rescans the table; st13's dropDuplicates
        // state holds every key seen). The deterministic output
        // contract: a session emits iff its deadline ≤ the final
        // watermark (max ts − delay) — exactly what the oracle replays
        // from the q60 kernel over seconds-truncated event time,
        // independent of how the files were staged into batches.
        val spark2 = spark
        import spark2.implicits._
        Streams.withStateStoreProvider(spark,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 2)
            .withWatermark("ts", "600 seconds")
            .select(col("user_id"), col("ts"))
            .as[(Long, java.sql.Timestamp)]
          val sessions = stream.groupByKey(_._1)
            .transformWithState(new GapSessionProcessor(1800L),
              org.apache.spark.sql.streaming.TimeMode.EventTime(),
              OutputMode.Append(),
              org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)])
            .toDF("user_id", "session_start", "session_end", "n_events")
          Streams.drainToMemory(sessions, "st37_sink", outputMode = "append")
        }
      },
      Some("""WITH e AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id
             |  FROM events),
             |l AS (
             |  SELECT user_id, tsec, event_id,
             |    lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS prev
             |  FROM e),
             |f AS (
             |  SELECT user_id, tsec, event_id,
             |    CASE WHEN prev IS NULL OR tsec - prev > 1800 THEN 1 ELSE 0 END AS is_new
             |  FROM l),
             |s AS (
             |  SELECT user_id, tsec,
             |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsec, event_id
             |      ROWS UNBOUNDED PRECEDING) AS seq
             |  FROM f),
             |sess AS (
             |  SELECT user_id, seq, min(tsec) AS session_start,
             |         max(tsec) AS session_end, count(*) AS n_events
             |  FROM s GROUP BY 1, 2),
             |wm AS (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 600 AS w FROM events)
             |SELECT user_id, session_start, session_end, n_events
             |FROM sess, wm
             |WHERE session_end + 1800 <= w""".stripMargin),
      "T5/T7: event-time timers — watermark-proven session merge, state holds only pending sessions"),

    GraftQuery(
      "st38_catalog_change_feed",
      (spark, dir) => {
        // THE CONSUME SIDE OF THE SNAPSHOT SEAM — st36 proved a stream
        // can PUBLISH versions atomically; this proves a downstream job
        // can CONSUME the live table incrementally: data files are
        // immutable and an append commit only unions files in, so the
        // rows added between consecutive versions are exactly the rows
        // of the ADDED files ([[graft.sources.SnapshotCatalog
        // .addedFiles]]) — a poller folds each version's delta at
        // O(delta) cost and never re-reads the table (the Delta/Iceberg
        // streaming-source contract, expressed with manifests alone).
        // A producer stream lands one version per micro-batch; the
        // consumer then walks versions 1..latest reading ONLY delta
        // files. Audits pin the incremental discipline: total files
        // read across all polls == the final manifest's file count
        // (each file processed exactly once — O(data) total, not
        // O(versions × data)) and the incremental fold equals the
        // final snapshot read. At 100 TB this is how training jobs
        // tail a growing corpus: per-poll cost tracks ingest rate,
        // not table size.
        import graft.sources.SnapshotCatalog
        val root = Streams.dataDir("graft_st38_")
        Streams.drainBatches(spark,
            Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1), "st38_") { (b, bid) =>
          if (!b.isEmpty) SnapshotCatalog.append(b, root, s"batch$bid")
          ()
        }
        val latest = SnapshotCatalog.latestVersion(root)
        var n = 0L; var cents = 0L; var filesRead = 0L
        (1 to latest).foreach { v =>
          val delta = SnapshotCatalog.addedFiles(root,
            if (v == 1) None else Some(v - 1), v)
          filesRead += delta.size
          if (delta.nonEmpty) {
            val r = spark.read.parquet(delta: _*)
              .agg(count(lit(1)), Canon.sumCents(col("value"))).head()
            n += r.getLong(0); cents += r.getLong(1)
          }
        }
        val snap = SnapshotCatalog.readSnapshot(spark, root)
          .agg(count(lit(1)), Canon.sumCents(col("value"))).head()
        spark.range(1).select(
          lit(n).as("n_rows"), lit(cents).as("sum_value_cents"),
          lit(latest.toLong).as("n_versions"),
          lit(filesRead == SnapshotCatalog.manifestFiles(root, latest).size)
            .as("each_file_read_once"),
          lit(n == snap.getLong(0) && cents == snap.getLong(1))
            .as("feed_equals_snapshot"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  CAST(4 AS BIGINT) AS n_versions,
             |  TRUE AS each_file_read_once,
             |  TRUE AS feed_equals_snapshot
             |FROM events""".stripMargin),
      "North star/T: catalog change feed — each version's delta files processed once, incremental fold ≡ snapshot"),

    GraftQuery(
      "st39_feed_compaction_fallback",
      (spark, dir) => {
        // CHANGE FEED ACROSS A COMPACTION — the consumer protocol for
        // the seam st38 leaves open: a live table gets COMPACTED
        // (replace commit) while a tailer is mid-feed, and the
        // catalog's `addedFiles` now REFUSES the crossing poll
        // (round-14 — the rewritten files would double-count every
        // surviving row; silently serving them was the round-13 bug).
        // The production tailer's answer, proven here end-to-end: fold
        // O(delta) polls while commits are append-only; on the refusal
        // RE-BASELINE — one snapshot read at the refused version
        // replaces the running fold (count/sum re-derive; a non-
        // refoldable consumer would replay a row-level changelog, the
        // q75 CDC tier) — then resume O(delta) polls after it. Audits
        // pin the protocol: the refusal fires exactly once (at the
        // compaction version), the post-fallback polls read ONLY the
        // post-compaction batches' files, and the final fold equals
        // the final snapshot. The oracle recomputes the table: the
        // stream lands 90% of events, the compaction rewrites (content-
        // neutral), two direct appends land the held-out 10%.
        import graft.sources.SnapshotCatalog
        val root = Streams.dataDir("graft_st39_")
        Streams.drainBatches(spark,
            Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
              .filter(col("event_id") % 10 =!= 7), "st39_") { (b, bid) =>
          if (!b.isEmpty) SnapshotCatalog.append(b, root, s"batch$bid")
          ()
        }
        // maintenance compacts the ingest litter mid-feed...
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshot(spark, root).repartition(2), root, "c0")
        // ...and ingest continues: the held-out slice lands as two more
        // append versions after the compaction
        val ev = graft.core.Tables(spark, dir).events
        SnapshotCatalog.append(ev.filter(col("event_id") % 20 === 7), root, "p0")
        SnapshotCatalog.append(ev.filter(col("event_id") % 20 === 17), root, "p1")
        val latest = SnapshotCatalog.latestVersion(root)
        var n = 0L; var cents = 0L
        var refusals = 0L; var filesAfterFallback = 0L
        def foldFiles(files: Seq[String]): Unit = if (files.nonEmpty) {
          val r = spark.read.parquet(files: _*)
            .agg(count(lit(1)), Canon.sumCents(col("value"))).head()
          n += r.getLong(0); cents += r.getLong(1)
        }
        (1 to latest).foreach { v =>
          try {
            val delta = SnapshotCatalog.addedFiles(root,
              if (v == 1) None else Some(v - 1), v)
            if (refusals > 0) filesAfterFallback += delta.size
            foldFiles(delta)
          } catch {
            case _: IllegalStateException =>
              // the poll crossed a replace: re-baseline from the
              // snapshot AT the refused version, drop the running fold
              refusals += 1
              n = 0L; cents = 0L
              foldFiles(SnapshotCatalog.manifestFiles(root, v))
          }
        }
        val postFiles = SnapshotCatalog.addedFiles(root, Some(latest - 2), latest).size
        val snap = SnapshotCatalog.readSnapshot(spark, root)
          .agg(count(lit(1)), Canon.sumCents(col("value"))).head()
        spark.range(1).select(
          lit(n).as("n_rows"), lit(cents).as("sum_value_cents"),
          lit(refusals).as("n_refusals"),
          lit(filesAfterFallback.toLong == postFiles.toLong)
            .as("post_fallback_polls_are_delta_only"),
          lit(n == snap.getLong(0) && cents == snap.getLong(1))
            .as("feed_equals_snapshot"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  CAST(1 AS BIGINT) AS n_refusals,
             |  TRUE AS post_fallback_polls_are_delta_only,
             |  TRUE AS feed_equals_snapshot
             |FROM events""".stripMargin),
      "North star/T: change feed across a compaction — refusal caught once, snapshot re-baseline, O(delta) polls resume"),

    GraftQuery(
      "st40_stream_with_maintenance",
      (spark, dir) => {
        // WRITER × MAINTENANCE × READER, ALL LIVE — the three-party
        // concurrency a production table actually sustains, in one
        // drain: the stream COMMITS a version per micro-batch (st36),
        // every second batch also runs the MAINTENANCE pass inline —
        // a compacting replace plus a retention-windowed expire — and
        // a READER thread polls the table the entire time. The
        // retention window is load-bearing: a bare expire(keepLast)
        // here could GC the version the reader resolved between two
        // back-to-back commits (the round-13 ADVICE race) — the audit
        // asserts the reader observed only complete, monotonically
        // growing row counts and NEVER an error. Final audits from
        // [[graft.sources.SnapshotCatalog.history]]: both kinds
        // present (appends AND replaces), and the live content equals
        // the staged table despite the mid-stream rewrites
        // (compaction is content-neutral under snapshot isolation).
        import graft.sources.SnapshotCatalog
        val root = Streams.dataDir("graft_st40_")
        val readerCounts =
          new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val readerErrors = new java.util.concurrent.atomic.AtomicLong()
        val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)
        val reader = new Thread(() => {
          while (!stopReader.get()) {
            try {
              if (SnapshotCatalog.isTable(root))
                readerCounts.add(
                  SnapshotCatalog.readSnapshot(spark, root).count())
            } catch { case _: Throwable => readerErrors.incrementAndGet(); () }
            Thread.sleep(25)
          }
        })
        reader.start()
        try {
          Streams.drainBatches(spark,
              Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1), "st40_") { (b, bid) =>
            if (!b.isEmpty) {
              SnapshotCatalog.append(b, root, s"batch$bid")
              // inline maintenance is THRESHOLD-DRIVEN, not a blind
              // schedule: the OPTIMIZE decision reads the log's
              // file/DV/row metadata and compacts only when ingest
              // litter crosses the bound; a fired compaction is
              // followed by retention-windowed GC (never the
              // reader's resolved version)
              SnapshotCatalog.maintainIfNeeded(spark, root,
                  s"compact$bid", maxLiveFiles = 3).foreach { _ =>
                SnapshotCatalog.expire(root, keepLast = 2,
                  minAgeMs = SnapshotCatalog.maintenanceRetentionMs)
                ()
              }
            }
            ()
          }
        } finally { stopReader.set(true); reader.join(5000) }
        import scala.jdk.CollectionConverters._
        val counts = readerCounts.asScala.toVector
        val kinds = SnapshotCatalog.history(root).map(_._2).toSet
        val monotone = counts.zip(counts.drop(1)).forall { case (a, b) => a <= b }
        // the decision quiesces: post-compaction the table sits under
        // every threshold, so another maintenance pass is a no-op —
        // threshold-driven, not schedule-driven
        val quiesced = SnapshotCatalog.maintainIfNeeded(spark, root,
          "probe_end", maxLiveFiles = 3).isEmpty
        SnapshotCatalog.readSnapshot(spark, root).agg(
            count(lit(1)).as("n_rows"),
            Canon.sumCents(col("value")).as("sum_value_cents"))
          .select(col("n_rows"), col("sum_value_cents"),
            lit(kinds == Set("append", "replace")).as("both_kinds_committed"),
            lit(readerErrors.get() == 0L && counts.nonEmpty)
              .as("reader_never_failed"),
            lit(monotone).as("reader_counts_monotone"),
            lit(quiesced).as("maintenance_quiesced_under_threshold"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS both_kinds_committed,
             |  TRUE AS reader_never_failed,
             |  TRUE AS reader_counts_monotone,
             |  TRUE AS maintenance_quiesced_under_threshold
             |FROM events""".stripMargin),
      "North star/T: live ingest + inline maintenance + concurrent reader — complete versions only, content-neutral compaction"),

    GraftQuery(
      "st41_catalog_cdc_ivm",
      (spark, dir) => {
        // ROW-LEVEL CDC FROM THE DELTA LOG (the Delta CDF shape) — the
        // log + deletion vectors alone are enough to emit row-level
        // inserts AND retractions, so the IVM tier (q77/st34) feeds
        // from the CATALOG ITSELF instead of a staged changelog: each
        // poll reads O(changed rows) — an append's added files, a
        // DV-delete's positions (rows semi-joined back), a merge's
        // both — and folds signed deltas into the stored per-user
        // aggregate; the base table is never rescanned. A compaction
        // REFUSES row-level derivation (rewrites carry no dataChange),
        // and the consumer re-baselines from the snapshot — the st39
        // contract, preserved at the row level. Audited by: folded
        // aggregate ≡ full recompute BEFORE the rewrite, exactly one
        // refusal AT it, and the post-rebaseline result (= the final
        // answer, content-neutral under compaction) against the
        // oracle's replay of the same delete + upsert.
        import graft.sources.SnapshotCatalog
        import graft.operators.PipelineQueries.{ivmDelta, ivmMerge}
        val root = Streams.dataDir("graft_st41_")
        val spark2 = spark
        import spark2.implicits._
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("user_id"), col("value"))
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val split = maxId / 2
        SnapshotCatalog.append(
          ev.filter(col("event_id") <= split).coalesce(1), root, "b0")
        SnapshotCatalog.append(
          ev.filter(col("event_id") > split).coalesce(1), root, "b1")
        SnapshotCatalog.deleteWhere(spark, root, col("event_id") % 13 === 5)
        SnapshotCatalog.mergeOnRead(spark, root,
          SnapshotCatalog.readSnapshotWithDeletes(spark, root)
            .filter(col("event_id") % 100 === 0)
            .withColumn("value", col("value") * 2).coalesce(1),
          Seq("event_id"), "u0")
        def recompute(v: Option[Int]): org.apache.spark.sql.DataFrame =
          SnapshotCatalog.readSnapshotWithDeletes(spark, root, v)
            .groupBy("user_id")
            .agg(count(lit(1)).as("n"), sum(Canon.cents(col("value"))).as("sum_cents"))
        var stored = Seq.empty[(Long, Long, Long)]
          .toDF("user_id", "n", "sum_cents")
        var refusals = 0
        def poll(fromV: Int, toV: Int): Unit =
          try {
            val cdc = SnapshotCatalog.changeFeedRows(spark, root, fromV, toV)
            val log = cdc.select(col("user_id"),
              Canon.cents(col("value")).as("cents"),
              when(col("_change_type") === "insert", 1L)
                .otherwise(-1L).as("sgn"))
            stored = ivmMerge(stored, ivmDelta(log))
              .withColumnRenamed("n_events", "n")
              .withColumnRenamed("sum_value_cents", "sum_cents")
              .localCheckpoint(true)
          } catch {
            case _: IllegalStateException =>
              // the poll crossed a rewrite: re-baseline from the
              // snapshot at the refused version, then resume
              refusals += 1
              stored = recompute(Some(toV)).localCheckpoint(true)
          }
        val v4 = SnapshotCatalog.latestVersion(root)
        (1 to v4).foreach(v => poll(v - 1, v))
        // the CDC-fed aggregate must equal a full recompute BEFORE the
        // compaction — the q77 equivalence, from the catalog alone
        val pre = recompute(Some(v4))
        val foldEq = stored.except(pre).isEmpty && pre.except(stored).isEmpty
        // maintenance rewrites the table; row-level CDC refuses, the
        // consumer re-baselines (content-neutral, so the answer holds)
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshotWithDeletes(spark, root)
            .repartition(2), root, "c0")
        val v5 = SnapshotCatalog.latestVersion(root)
        poll(v4, v5)
        stored.select(col("user_id"), col("n").as("n_events"),
            col("sum_cents").as("sum_value_cents"),
            lit(foldEq).as("cdc_fold_equals_recompute"),
            lit(refusals == 1).as("replace_refused_then_rebaselined"))
          .orderBy("user_id")
      },
      Some("""WITH live AS (
             |  SELECT user_id,
             |    CASE WHEN event_id % 100 = 0
             |         THEN CAST(floor(value * 2 * 100 + 0.5) AS BIGINT)
             |         ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS cents
             |  FROM events WHERE event_id % 13 <> 5)
             |SELECT user_id, count(*) AS n_events,
             |  CAST(sum(cents) AS BIGINT) AS sum_value_cents,
             |  TRUE AS cdc_fold_equals_recompute,
             |  TRUE AS replace_refused_then_rebaselined
             |FROM live GROUP BY user_id ORDER BY user_id""".stripMargin),
      "North star/T: row-level CDC from the delta log — catalog-fed IVM, retractions included, rewrite refusal + re-baseline"),

    GraftQuery(
      "st42_stream_partitioned_ingest",
      (spark, dir) => {
        // STREAMING INGEST INTO A HIVE-PARTITIONED CATALOG TABLE — the
        // production lakehouse write path end-to-end: every micro-batch
        // lands as ONE commit laid out per the table's partition spec,
        // the threshold-driven OPTIMIZE decision compacts the ingest
        // litter WITHOUT losing the spec (a flattening compaction
        // would silently turn off partition pruning for every later
        // read — the exact regression this audits), and the serve side
        // proves the payoff: a partition-filtered read over the live
        // table lists only that partition's files. At 100 TB this is
        // the hourly-ingest shape: commits O(batch), maintenance
        // O(live data) only when a bound is crossed, dashboards
        // reading one partition's slice at planning time.
        import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
        val root = Streams.dataDir("graft_st42_")
        Streams.drainBatches(spark,
            Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
              .select(col("event_id"), col("event_type"), col("value")), "st42_") { (b, bid) =>
          if (!b.isEmpty) {
            SnapshotCatalog.append(b.coalesce(1), root, s"batch$bid",
              partitionBy = Seq("event_type"))
            SnapshotCatalog.maintainIfNeeded(spark, root,
                s"compact$bid", maxLiveFiles = 12).foreach { _ =>
              SnapshotCatalog.expire(root, keepLast = 2,
                minAgeMs = SnapshotCatalog.maintenanceRetentionMs)
              ()
            }
          }
          ()
        }
        val latest = SnapshotCatalog.latestVersion(root)
        val spec = SnapshotCatalog.partitionSpecAt(root, latest)
        val snap = SnapshotFileIndex.snapshotDF(spark, root)
        val nRows = snap.count()
        val q2 = snap.filter(col("event_type") === "signup")
          .agg(count(lit(1)).as("n"), Canon.sumCents(col("value")).as("c"))
        val (Array(r), scanned, total) = SnapshotFileIndex.collectScanned(q2, root)
        val kinds = SnapshotCatalog.history(root).map(_._2).toSet
        spark.range(1).select(
          lit(nRows).as("n_rows"),
          lit(r.getLong(0)).as("n_signup"),
          lit(r.getLong(1)).as("signup_cents"),
          lit(spec.exists(_.fieldNames.sameElements(Array("event_type"))))
            .as("spec_survived_maintenance"),
          lit(scanned < total).as("partition_cut_after_ingest"),
          lit(kinds == Set("append", "replace"))
            .as("threshold_compaction_fired"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  (SELECT count(*) FROM events WHERE event_type = 'signup') AS n_signup,
             |  (SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |     FROM events WHERE event_type = 'signup') AS signup_cents,
             |  TRUE AS spec_survived_maintenance,
             |  TRUE AS partition_cut_after_ingest,
             |  TRUE AS threshold_compaction_fired
             |FROM events""".stripMargin),
      "North star/T: streaming ingest into a partitioned catalog table — per-batch commits, spec-preserving threshold compaction, partition-cut serve"),

    GraftQuery(
      "st43_catalog_feed_source",
      (spark, dir) => {
        // THE CATALOG AS A STREAMING SOURCE — st38/st41 polled the
        // change feed by hand; the production shape is
        // `spark.readStream.format("graft-feed")` ([[graft.sources
        // .GraftFeedSourceProvider]], the Delta streaming-source
        // pattern): offsets are LOG VERSIONS, each micro-batch reads
        // exactly the files its version range ADDED (O(delta) — the
        // table is never rescanned), rate-limited one version per
        // trigger. The st39 refusal contract surfaces as STREAM
        // semantics: a compaction inside a polled range FAILS the
        // query loudly (an adds-only fold would double-count
        // survivors), and the operator's restart with a fresh
        // checkpoint re-baselines from the complete snapshot — audited
        // here by the fold-after-restart equalling the direct snapshot
        // aggregate. At 100 TB this is the downstream-consumer shape:
        // incremental O(batch) reads of a live ingest table with
        // rewrite safety enforced by the source itself.
        import graft.sources.{GraftFeedSourceProvider, SnapshotCatalog}
        val root = Streams.dataDir("graft_st43_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val cut = maxId * 4 / 5
        val w = (cut + 4) / 4
        (0L until 4L).foreach { b =>
          SnapshotCatalog.append(ev.filter(col("event_id") >= b * w &&
            col("event_id") < math.min((b + 1) * w, cut)).coalesce(1),
            root, s"b$b")
        }
        val nRows = new java.util.concurrent.atomic.AtomicLong()
        val cents = new java.util.concurrent.atomic.AtomicLong()
        val nonEmptyBatches = new java.util.concurrent.atomic.AtomicLong()
        def fold(b: org.apache.spark.sql.DataFrame): Unit = {
          val r = b.agg(count(lit(1)), Canon.sumCents(col("value"))).head()
          if (r.getLong(0) > 0L) {
            nonEmptyBatches.incrementAndGet()
            nRows.addAndGet(r.getLong(0))
            cents.addAndGet(r.getLong(1))
          }
          ()
        }
        def drain(cp: String, maxPer: Int,
                  startingVersion: Option[String] = None): Unit =
          Streams.drain(spark) {
            val r0 = spark.readStream
              .format(classOf[GraftFeedSourceProvider].getName)
              .option("root", root)
              .option("maxVersionsPerTrigger", maxPer.toString)
            startingVersion.fold(r0)(r0.option("startingVersion", _))
              .load()
              .writeStream.option("checkpointLocation", cp)
              .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
                fold(b) }
              .start()
          }
        val cp1 = Streams.scratchDir("graft_cp_st43_")
        // startingVersion=1 = EXPLICIT incremental catch-up from the
        // first commit (a fresh checkpoint WITHOUT it bootstraps the
        // whole snapshot at the current latest in one batch — Delta's
        // initial-snapshot semantics, audited by the final drain below)
        drain(cp1, maxPer = 1, startingVersion = Some("1"))
        // rate limiting made the catch-up INCREMENTAL: >= 4 ranges
        val incremental = nonEmptyBatches.get() >= 4L
        val preRows = nRows.get()
        // maintenance rewrites the table while the consumer is down,
        // then fresh rows land
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshot(spark, root).repartition(2), root, "c0")
        SnapshotCatalog.append(ev.filter(col("event_id") >= cut).coalesce(1),
          root, "b4")
        // resuming on the SAME checkpoint crosses the rewrite: the
        // SOURCE fails the query (never a silent double-count)
        var refused = false
        try drain(cp1, maxPer = 10)
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            var c: Throwable = e
            while (c != null && !refused) {
              refused = c.isInstanceOf[IllegalStateException]
              c = c.getCause
            }
        }
        val unchangedAcrossRefusal = nRows.get() == preRows
        // the operator restarts with a FRESH checkpoint: bootstrap =
        // the complete current snapshot, folded from zero
        nRows.set(0L); cents.set(0L); nonEmptyBatches.set(0L)
        drain(Streams.scratchDir("graft_cp_st43b_"), maxPer = 100)
        val snap = SnapshotCatalog.readSnapshot(spark, root)
          .agg(count(lit(1)), Canon.sumCents(col("value"))).head()
        spark.range(1).select(
          lit(nRows.get()).as("n_rows"),
          lit(cents.get()).as("sum_value_cents"),
          lit(incremental).as("rate_limited_incremental_catchup"),
          lit(refused && unchangedAcrossRefusal)
            .as("rewrite_failed_stream_without_double_count"),
          lit(nRows.get() == snap.getLong(0) && cents.get() == snap.getLong(1))
            .as("rebaseline_equals_snapshot"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS rate_limited_incremental_catchup,
             |  TRUE AS rewrite_failed_stream_without_double_count,
             |  TRUE AS rebaseline_equals_snapshot
             |FROM events""".stripMargin),
      "North star/T: the catalog change feed as a readStream source — version-ranged O(delta) micro-batches, rewrite refusal as stream failure, fresh-checkpoint re-baseline"),

    GraftQuery(
      "st44_feed_cdc_readstream_ivm",
      (spark, dir) => {
        // ROW-LEVEL CDC THROUGH `readStream` — st41 polled
        // [[SnapshotCatalog.changeFeedRows]] by hand; the production
        // shape is `.format("graft-feed").option("readChangeFeed",
        // "true")` (the Delta CDF streaming-source pattern): each
        // micro-batch carries `_change_type`-annotated rows —
        // retractions included — for exactly its version range, so the
        // IVM tier consumes the catalog's own changelog with offsets,
        // rate limiting, and replay riding the normal streaming
        // checkpoint. The DELETE and the MERGE land WHILE the stream
        // runs (true mid-stream retractions, not staged history), the
        // fold is audited ≡ a full recompute, a compaction then FAILS
        // the resumed stream (row-level deltas are not derivable from
        // a rewrite), and the fresh-checkpoint restart re-baselines
        // from the CDF bootstrap (initial snapshot as inserts) to the
        // same answer. At 100 TB each batch reads O(changed rows) —
        // an append's files, a delete's referenced positions — never
        // the table.
        import graft.sources.{GraftFeedSourceProvider, SnapshotCatalog}
        import graft.operators.PipelineQueries.{ivmDelta, ivmMerge}
        val root = Streams.dataDir("graft_st44_")
        val spark2 = spark
        import spark2.implicits._
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("user_id"), col("value"))
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val split = maxId / 2
        SnapshotCatalog.append(
          ev.filter(col("event_id") <= split).coalesce(1), root, "b0")
        SnapshotCatalog.append(
          ev.filter(col("event_id") > split).coalesce(1), root, "b1")
        var stored = Seq.empty[(Long, Long, Long)]
          .toDF("user_id", "n", "sum_cents")
        val lock = new Object
        def fold(b: org.apache.spark.sql.DataFrame): Unit = lock.synchronized {
          val log = b.select(col("user_id"),
            Canon.cents(col("value")).as("cents"),
            when(col("_change_type") === "insert", 1L)
              .otherwise(-1L).as("sgn"))
          stored = ivmMerge(stored, ivmDelta(log))
            .withColumnRenamed("n_events", "n")
            .withColumnRenamed("sum_value_cents", "sum_cents")
            .localCheckpoint(true)
        }
        def startFeed(cp: String, startingVersion: Option[String]) = {
          val r0 = spark.readStream
            .format(classOf[GraftFeedSourceProvider].getName)
            .option("root", root)
            .option("readChangeFeed", "true")
            .option("maxVersionsPerTrigger", "1")
          startingVersion.fold(r0)(r0.option("startingVersion", _)).load()
            .writeStream.option("checkpointLocation", cp)
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              fold(b) }
            .start()
        }
        def recompute(v: Option[Int]): org.apache.spark.sql.DataFrame =
          SnapshotCatalog.readSnapshotWithDeletes(spark, root, v)
            .groupBy("user_id")
            .agg(count(lit(1)).as("n"),
              sum(Canon.cents(col("value"))).as("sum_cents"))
        val cp1 = Streams.scratchDir("graft_cp_st44_")
        Streams.withStreamShufflePartitions(spark) {
          // one query drained three times around catalog commits — the
          // one site that drives awaitDrained itself
          val q = startFeed(cp1, startingVersion = Some("1"))
          try {
            Streams.awaitDrained(q)
            // the retractions land WHILE the stream runs: a row-level
            // DELETE, then a MERGE (delete + insert in one version) —
            // a wrong refusal here would fail the whole query loudly
            SnapshotCatalog.deleteWhere(spark, root,
              col("event_id") % 13 === 5)
            Streams.awaitDrained(q)
            SnapshotCatalog.mergeOnRead(spark, root,
              SnapshotCatalog.readSnapshotWithDeletes(spark, root)
                .filter(col("event_id") % 100 === 0)
                .withColumn("value", col("value") * 2).coalesce(1),
              Seq("event_id"), "u0")
            Streams.awaitDrained(q)
          } finally q.stop()
        }
        val v4 = SnapshotCatalog.latestVersion(root)
        val pre = recompute(Some(v4))
        val foldEq =
          stored.except(pre).isEmpty && pre.except(stored).isEmpty
        // a compaction rewrites the table while the consumer is down;
        // resuming on the SAME checkpoint must fail loudly
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshotWithDeletes(spark, root)
            .repartition(2), root, "c0")
        var refused = false
        try Streams.drain(spark)(startFeed(cp1, startingVersion = Some("1")))
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            var c: Throwable = e
            while (c != null && !refused) {
              refused = c.isInstanceOf[IllegalStateException]
              c = c.getCause
            }
        }
        // fresh checkpoint: the CDF bootstrap serves the initial
        // snapshot as inserts — folding from zero re-baselines
        stored = Seq.empty[(Long, Long, Long)].toDF("user_id", "n", "sum_cents")
        Streams.drain(spark)(startFeed(Streams.scratchDir("graft_cp_st44b_"), None))
        val post = recompute(None)
        val rebaseEq =
          stored.except(post).isEmpty && post.except(stored).isEmpty
        stored.select(col("user_id"), col("n").as("n_events"),
            col("sum_cents").as("sum_value_cents"),
            lit(foldEq).as("cdc_fold_equals_recompute"),
            lit(refused && rebaseEq).as("replace_refused_then_rebaselined"))
          .orderBy("user_id")
      },
      Some("""WITH live AS (
             |  SELECT user_id,
             |    CASE WHEN event_id % 100 = 0
             |         THEN CAST(floor(value * 2 * 100 + 0.5) AS BIGINT)
             |         ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS cents
             |  FROM events WHERE event_id % 13 <> 5)
             |SELECT user_id, count(*) AS n_events,
             |  CAST(sum(cents) AS BIGINT) AS sum_value_cents,
             |  TRUE AS cdc_fold_equals_recompute,
             |  TRUE AS replace_refused_then_rebaselined
             |FROM live GROUP BY user_id ORDER BY user_id""".stripMargin),
      "North star/T: the row-level change feed as a readStream source — readChangeFeed CDF batches with retractions, IVM fold ≡ recompute, rewrite refusal + CDF-bootstrap re-baseline"))

  /** Fold the LWW store to one row per key and commit the compacted
    * generation as a new catalog snapshot. The fold is the shared
    * latestByKey kernel (a distributed window — never a driver
    * collect; the store is O(distinct keys), not O(columns) like the
    * profile store, so st29's collect-based compactStore idiom would
    * not scale here). The new generation lands as an immutable batch
    * and a manifest referencing only it commits
    * ([[graft.sources.SnapshotCatalog.replace]]) — a serving reader
    * racing the compaction resolves the pre- or post-fold version,
    * never the missing-directory window the rename swap this replaced
    * left between its two renames, and a crash at ANY point leaves the
    * store readable at its last committed version (the directory-swap
    * crash recovery problem — a restart finding the store under its
    * aside name — does not exist here). The superseded generation is
    * GC'd by the trailing expire (keepLast = 2 covers a reader that
    * resolved the old version just before the commit). The surviving
    * max batch-id is carried so [[appendBatchPartial]]'s replay guard
    * keeps working afterwards. */
  private[graft] def compactLwwStore(spark: org.apache.spark.sql.SparkSession,
                                     store: String): Unit = {
    import graft.sources.SnapshotCatalog
    val cur = SnapshotCatalog.readSnapshot(spark, store)
    val maxBid = cur.agg(max(col("__bid"))).head().getLong(0)
    val folded = graft.operators.PipelineQueries.latestByKey(cur.drop("__bid"))
      .withColumn("__bid", lit(maxBid))
    SnapshotCatalog.replace(folded, store,
      "compact" + java.util.UUID.randomUUID().toString.take(8))
    // retention-bounded (not bare keepLast): a reader that resolved the
    // pre-fold version keeps reading it for the full vacuum window even
    // when several maintenance commits land back-to-back
    SnapshotCatalog.expire(store, keepLast = 2,
      minAgeMs = SnapshotCatalog.maintenanceRetentionMs)
    ()
  }
}

/** Per-user running (n, cents) totals as a Spark-4 StatefulProcessor:
  * typed ValueState handle initialized in init(), updated per batch of
  * input rows — the transformWithState twin of st04's
  * flatMapGroupsWithState closure. `ttl` bounds the state's lifetime
  * (processing-time TTL): a key idle past the TTL is EVICTED and its
  * counters restart — the state-bounding mechanism that keeps a
  * never-ending keyspace (session ids, request ids) from growing the
  * store without bound; TTLConfig.NONE (the default, st11's mode)
  * keeps state forever. */
class RunningTotalsProcessor(
    ttl: org.apache.spark.sql.streaming.TTLConfig =
      org.apache.spark.sql.streaming.TTLConfig.NONE)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, ValueState}

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Long)], ttl)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timers: TimerValues): Iterator[(Long, Long, Long)] = {
    val (n0, c0) = if (totals.exists()) totals.get() else (0L, 0L)
    var n = n0; var c = c0
    rows.foreach { case (_, cents) => n += 1; c += cents }
    totals.update((n, c))
    Iterator.single((key, n, c))
  }
}

/** The per-key state of [[GapSessionProcessor]]: every session the
  * watermark has not yet proven closed, ascending by start. A wrapper
  * case class because the typed state handle needs a Product encoder. */
case class OpenSessions(s: Seq[(Long, Long, Long)]) // (start, last, n)

/** st37: gap sessionization closed by EVENT-TIME TIMERS — the timer
  * half of the Spark-4 stateful API (st11 exercises the state half).
  * Reference analogue: the vehicle dashboard infers camera activity
  * post-hoc by re-polling recent Postgres rows every few seconds
  * (`projects/vehicle_counting/streamlit/vehicle_counting_app.py:60-78`,
  * `@st.cache_data(ttl=5)` + ORDER BY frame_number DESC LIMIT 10) —
  * the engine-side form emits the activity span the moment the
  * watermark proves it over.
  *
  * Emission is WATERMARK-PROVEN, mirroring Spark's own session-window
  * merge semantics: per key the state holds EVERY session the
  * watermark has not yet passed (sorted by start), each batch's rows
  * merge into that set with full gap-merge semantics — a late row
  * (within the watermark delay, any arrival order across batches) can
  * extend a session's start DOWNWARD, bridge two buffered sessions
  * into one, or open a new session before an existing one — and a
  * session is emitted only once `last + gap ≤ watermark`, when no
  * in-watermark row can still change it. (The previous data-closed
  * eager emission assumed in-order-per-key arrival across
  * micro-batches: a late row could neither lower session_start nor
  * re-join an already-emitted session, so output diverged from the
  * batch oracle under cross-batch disorder.) Emitted = final — the
  * append-mode contract; a row later than the watermark delay is the
  * source's contract violation, not this operator's.
  *
  * The TIMER is what the batch world has no analogue for: each batch
  * re-arms ONE timer per key at the earliest buffered deadline; when
  * the watermark passes it, [[handleExpiredTimer]] flushes every
  * proven-closed session and — once none remain — CLEARS the key's
  * state, so an idle key costs nothing even though the keyspace never
  * stops growing (the q60 batch kernel re-scans everything; this
  * holds only watermark-pending sessions: O(sessions inside the
  * watermark+gap horizon) per key, never the key's history).
  * Seconds-truncated event time keeps the fold exactly replayable by
  * the batch oracle: emitted sessions = the q60 kernel's sessions
  * whose deadline the final watermark passed. Memory bound: one
  * batch's rows for ONE key are buffered and sorted (Spark delivers a
  * group's rows unordered), so the per-task footprint is O(hottest
  * key's rows per micro-batch) — bounded by the trigger size, never
  * by the stream's history. */
class GapSessionProcessor(gapSec: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var sess: ValueState[OpenSessions] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[OpenSessions]("sess",
      org.apache.spark.sql.Encoders.product[OpenSessions], TTLConfig.NONE)

  /** Emit every session the watermark proves closed, keep the rest,
    * and re-arm one timer at the earliest surviving deadline. Shared
    * by both callbacks so a timer firing after same-batch input is
    * idempotent (a flushed session is no longer in state). */
  private def flush(key: Long, sessions: Seq[(Long, Long, Long)],
                    wmMs: Long): Iterator[(Long, Long, Long, Long)] = {
    val wmSec = wmMs / 1000L
    val (closed, open) =
      sessions.partition(s => wmMs > 0L && s._2 + gapSec <= wmSec)
    if (open.isEmpty) sess.clear() else sess.update(OpenSessions(open))
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    if (open.nonEmpty)
      getHandle.registerTimer((open.map(_._2).min + gapSec) * 1000L)
    closed.sortBy(_._1).map(s => (key, s._1, s._2, s._3)).iterator
  }

  override def handleInputRows(key: Long,
                               rows: Iterator[(Long, java.sql.Timestamp)],
                               timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    val ts = rows.map(_._2.getTime / 1000L).toArray.sorted
    if (ts.isEmpty) Iterator.empty
    else {
      val cur = if (sess.exists()) sess.get().s else Seq.empty
      flush(key, GapSessionProcessor.mergeSessions(cur, ts, gapSec),
        timers.getCurrentWatermarkInMs())
    }
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
    if (sess.exists()) flush(key, sess.get().s,
      timerValues.getCurrentWatermarkInMs())
    else Iterator.empty
  }
}

object GapSessionProcessor {
  /** The pure gap-merge fold the processor runs per (key, batch):
    * buffered sessions ∪ the batch's rows as degenerate sessions, one
    * linear pass over the start-sorted union — a bridging row merges
    * its neighbors transitively. PARTITION-INVARIANT: folding any
    * split of a row multiset through this, in any batch order, yields
    * exactly the brute-force sessionization of the whole multiset —
    * the algebraic property that makes the processor's output
    * independent of cross-batch arrival order (property-tested over
    * random splits in StateTimerTtlSpec). */
  def mergeSessions(cur: Seq[(Long, Long, Long)], ts: Seq[Long],
                    gapSec: Long): Seq[(Long, Long, Long)] = {
    val all = (cur ++ ts.map(t => (t, t, 1L))).sortBy(s => (s._1, s._2))
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    all.foreach { s =>
      if (merged.nonEmpty && s._1 - merged.last._2 <= gapSec) {
        val l = merged.last
        merged(merged.size - 1) = (l._1, math.max(l._2, s._2), l._3 + s._3)
      } else merged += s
    }
    merged.toSeq
  }
}
