package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming semantics tests (SURVEY §5.2-4): checkpoint recovery (T3),
  * replay-idempotence of the committed offsets, bounded-stream ≡ batch. */
class StreamingSpec extends SparkTestBase {

  test("T3: checkpoint recovery — restart from committed offsets emits nothing new") {
    val staged = Streams.stageEventsFresh(spark, sfDir)
    val cp = Files.createTempDirectory("graft_cp_recovery").toString
    val out = Files.createTempDirectory("graft_out_recovery").toString

    def runOnce(): Unit = {
      val q = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 2)
        .filter(col("event_type") === "click")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.ProcessingTime(0))
        .start()
      q.processAllAvailable()
      q.stop()
    }

    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    val expected = graft.core.Tables(spark, sfDir).events
      .filter(col("event_type") === "click").count()
    assert(afterFirst == expected, "first drain must equal the batch filter")

    // restart with the same checkpoint: offsets are committed → no replay
    runOnce()
    val afterSecond = spark.read.parquet(out).count()
    assert(afterSecond == afterFirst,
      s"restart replayed data: $afterFirst -> $afterSecond")
  }

  test("bounded stream ≡ batch for a windowed aggregation") {
    val streamed = SparkEntry.queries("st01_stream_window_complete")(spark, sfDir)
      .agg(sum("n_events")).head().getLong(0)
    val batch = graft.core.Tables(spark, sfDir).events.count()
    assert(streamed == batch)
  }

  test("T7: RocksDB is the stateful DEFAULT — state-store metrics prove the provider") {
    // no explicit provider anywhere in this query: the engine default
    // inside withStreamShufflePartitions must route state to RocksDB,
    // and the query's own progress metrics are the proof (the
    // HDFS-backed store reports loadedMapCache* metrics instead)
    import scala.jdk.CollectionConverters._
    val stream = Streams.eventsStream(spark, sfDir, maxFilesPerTrigger = 2)
      .groupBy("event_type").count()
    Streams.withStreamShufflePartitions(spark) {
      val q = stream.writeStream
        .outputMode("complete").format("memory")
        .queryName("rocks_default_sink")
        .option("checkpointLocation", Streams.scratchDir("graft_cp_rocksdef_"))
        .start()
      assert(Streams.awaitDrained(q))
      val ops = q.lastProgress.stateOperators
      assert(ops.nonEmpty, "stateful query reported no state operators")
      val metricKeys = ops(0).customMetrics.asScala.keys.toSeq
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"state metrics show no rocksdb keys: $metricKeys")
      q.stop()
    }
    // and an explicit pin must survive the default (escape hatch)
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    Streams.withStateStoreProvider(spark, hdfs) {
      Streams.withStreamShufflePartitions(spark) {
        assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") === hdfs,
          "explicit provider was clobbered by the RocksDB default")
      }
    }
  }

  private def scansDir(dir: String)(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.exists(_.contains(dir.stripSuffix("/") + "/"))
      case _ => false
    }

  /** Each scan of `indexDir` in the batch plans `qes`: the plan nodes
    * between it and its nearest join, and that join. */
  private def indexJoins(qes: Seq[org.apache.spark.sql.execution.QueryExecution],
                         indexDir: String) =
    qes.flatMap(qe => ancestors(qe.executedPlan)(scansDir(indexDir))).map { up =>
      val (below, rest) =
        up.span(!_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
      (below, rest.headOption)
    }

  /** Past the gate the index joins by sort-merge with no broadcast
    * exchange over its scan, although AQE's runtime broadcast is on.
    * Join outputs above it may still broadcast (st21's candidates into
    * dedupGateVerify). */
  private def assertIndexMergeJoined(
      qes: Seq[org.apache.spark.sql.execution.QueryExecution], indexDir: String): Unit = {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val probes = indexJoins(qes, indexDir)
    assert(probes.nonEmpty, "no batch plan scanned the index")
    assert(probes.forall { case (below, join) =>
        join.exists(_.isInstanceOf[SortMergeJoinExec]) &&
          !below.exists(_.isInstanceOf[BroadcastExchangeExec]) },
      "past the gate the index side must sort-merge join, never broadcast:\n" +
        qes.map(_.executedPlan).mkString("\n"))
  }

  test("st26: broadcast-set and stored-index-join scrub forms are identical (past-broadcast fallback)") {
    import graft.dedup.DedupQueries
    import graft.streaming.StreamingQueries
    val docs = graft.core.Tables(spark, sfDir).documents
    val splitId = graft.core.Tables.incrementalSplitId(docs, "doc_id")
    val staged = Streams.stage(docs.filter(col("doc_id") >= splitId).repartition(2),
      "graft_scrub_spec_")
    val indexDir = Streams.dataDir("graft_scrub_idx_")
    DedupQueries.chunkRelation(docs.filter(col("doc_id") < splitId))
      .select("chunk").distinct().write.mode("overwrite").parquet(indexDir)
    // the default ceiling broadcasts the kilobyte index; past the gate
    // the SAME staged corpus and index take the stored-index join
    val bc = StreamingQueries
      .chunkScrubStream(spark, staged, indexDir, "st26_spec_bc")
      .collect().map(_.toSeq).toSet
    val (jn, qes) = capturePlans {
      pastTheGate(StreamingQueries.chunkScrubStream(spark, staged, indexDir, "st26_spec_jn"))
        .collect().map(_.toSeq).toSet
    }(indexJoins(_, indexDir).nonEmpty)
    assertIndexMergeJoined(qes, indexDir)
    assert(bc.nonEmpty, "scrub emitted no rows")
    assert(bc === jn, "join-form scrub diverges from broadcast form")
    // the fixture really exercises the scrub: some doc lost chunks and
    // some doc kept chunks
    assert(bc.exists(r => r(2).asInstanceOf[Long] < r(1).asInstanceOf[Long]))
    assert(bc.exists(r => r(2).asInstanceOf[Long] > 0L))
  }

  test("st21: broadcast and stored-index-join gate forms are identical (past-broadcast fallback)") {
    import graft.streaming.StreamingQueries
    val (staged, indexDir, arrDir) =
      StreamingQueries.dedupGateArtifacts(spark, sfDir)
    // the default ceiling broadcasts the kilobyte index; past the gate
    // the SAME staged corpus and index artifacts take the stored-index join
    val bc = StreamingQueries
      .dedupGateDrain(spark, staged, indexDir, arrDir)
      .collect().map(_.getLong(0)).toSet
    val (jn, qes) = capturePlans {
      pastTheGate(StreamingQueries.dedupGateDrain(spark, staged, indexDir, arrDir))
        .collect().map(_.getLong(0)).toSet
    }(indexJoins(_, indexDir).nonEmpty)
    // the micro-batch candidates still broadcast into dedupGateVerify;
    // only the index side must not
    assertIndexMergeJoined(qes, indexDir)
    assert(bc.nonEmpty, "gate flagged no docs — fixture exercises nothing")
    assert(bc === jn, "stored-index-join gate diverges from broadcast form")
  }

  test("st29: live profile store accumulates one partial per micro-batch; fold equals one-shot profile") {
    import graft.operators.ProfilingQueries._
    val o = graft.core.Tables(spark, sfDir).orders
    val staged = Streams.stage(o.repartition(4), "graft_orders_spec_")
    import graft.streaming.StreamingQueries
    // control arm: no compaction — one partial row per micro-batch
    val store = Streams.dataDir("graft_profile_spec_")
    StreamingQueries.liveProfileDrain(spark, staged, store)
    val parts = graft.sources.SnapshotCatalog.readSnapshot(spark, store)
    // the stream really contributed per-micro-batch partials, and each
    // is one row — the O(1)-rows-per-batch write the design claims
    assert(parts.count() >= 2, "expected one partial row per micro-batch")
    assert(parts.agg(sum(col("__p_rows"))).head().getLong(0) === o.count())
    val merged = mergedProfile(parts, o.schema, Set("o_totalprice"))
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    val full = profile(o, Set("o_totalprice")).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    full.keySet.foreach { c =>
      assert(merged(c).getAs[Long]("n_rows") == full(c).getAs[Long]("n_rows"), c)
      assert(merged(c).getAs[String]("min_repr") == full(c).getAs[String]("min_repr"), c)
      assert(merged(c).getAs[String]("max_repr") == full(c).getAs[String]("max_repr"), c)
    }
    // compacting arm over the SAME staged ingest: every 3rd batch the
    // loop rewrites the store through compactStore, so the store's row
    // count is bounded at 3 AT EVERY MID-STREAM INSTANT (observed via
    // the onBatch seam, not just at the end), compaction demonstrably
    // ran (some observation returned to 1 row after batch 3), and the
    // final report is identical to the uncompacted control arm.
    val storeC = Streams.dataDir("graft_profile_spec_c_")
    val observed = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    StreamingQueries.liveProfileDrain(spark, staged, storeC,
      compactEvery = 3,
      onBatch = Some((n, rows) => observed.synchronized { observed += ((n, rows)) }))
    assert(observed.size >= 4, "expected at least 4 micro-batches")
    observed.foreach { case (n, rows) =>
      assert(rows <= 3L, s"store held $rows rows after batch $n — compaction bound broken")
    }
    assert(observed.exists { case (n, rows) => n >= 3 && rows == 1L },
      "no observation shows the store compacted back to one row")
    val mergedC = mergedProfile(graft.sources.SnapshotCatalog.readSnapshot(spark, storeC), o.schema, Set("o_totalprice"))
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    full.keySet.foreach { c =>
      assert(mergedC(c).toSeq == merged(c).toSeq,
        s"$c: compacted-store report diverges from uncompacted run")
    }
  }

  test("st29/st30: live-store appends are replay-idempotent; compaction carries the batch-id watermark") {
    import graft.operators.ProfilingQueries._
    import graft.streaming.StreamingQueries
    val o = graft.core.Tables(spark, sfDir).orders
    val store = Streams.dataDir("graft_idem_store_")
    val p0 = o.filter(col("o_orderkey") % 2 === 0)
    val p1 = o.filter(col("o_orderkey") % 2 === 1)
    assert(StreamingQueries.appendBatchPartial(spark, store, 0L, partialProfile(p0)))
    // foreachBatch is at-least-once: the redelivered batch id must be
    // refused, not appended a second time
    assert(!StreamingQueries.appendBatchPartial(spark, store, 0L, partialProfile(p0)))
    assert(StreamingQueries.appendBatchPartial(spark, store, 1L, partialProfile(p1)))
    assert(graft.sources.SnapshotCatalog.readSnapshot(spark, store).count() === 2L)
    // despite the replay the folded report equals the one-shot profile
    val merged = mergedProfile(graft.sources.SnapshotCatalog.readSnapshot(spark, store), o.schema, Set("o_totalprice"))
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    val full = profile(o, Set("o_totalprice")).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    full.keySet.foreach { c =>
      assert(merged(c).getAs[Long]("n_rows") === full(c).getAs[Long]("n_rows"), c)
      assert(merged(c).getAs[String]("min_repr") === full(c).getAs[String]("min_repr"), c)
      assert(merged(c).getAs[String]("max_repr") === full(c).getAs[String]("max_repr"), c)
    }
    // compaction folds the store to one row AND carries max __bid
    // forward — a replay of the last pre-compaction batch is still
    // refused afterwards, and the next real batch is admitted
    compactStore(spark, store, o.schema)
    assert(graft.sources.SnapshotCatalog.readSnapshot(spark, store).count() === 1L)
    assert(!StreamingQueries.appendBatchPartial(spark, store, 1L, partialProfile(p1)))
    assert(StreamingQueries.appendBatchPartial(spark, store, 2L, partialProfile(p1)))
  }

  test("T2: rate limiting produces multiple micro-batches") {
    val stream = Streams.eventsStream(spark, sfDir, maxFilesPerTrigger = 1)
      .select(col("event_id"))
    val (sink, nBatches) = Streams.drainThroughForeachBatch(stream)
    assert(nBatches >= 4, s"expected ≥4 micro-batches, got $nBatches")
    assert(sink.select("event_id").distinct().count() ==
      graft.core.Tables(spark, sfDir).events.count())
  }

  test("st35: live CDC compaction lands on q76's table; LWW kernel is associative and replay-absorbing") {
    import graft.operators.PipelineQueries.latestByKey
    // live twin ≡ batch compaction, row for row
    val live = SparkEntry.queries("st35_stream_cdc_compact")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q76_latest_by_key")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(live.nonEmpty && live == batch,
      s"live CDC compaction diverges from q76:\n live=$live\n batch=$batch")
    // kernel properties the drain relies on: compact(compact(A) ∪ compact(B))
    // = compact(A ∪ B), and re-presenting an absorbed slice is a no-op
    val ev = graft.core.Tables(spark, sfDir).events
    val a = ev.filter(col("event_id") % 2 === 0)
    val b = ev.filter(col("event_id") % 2 === 1)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = key(latestByKey(ev))
    assert(key(latestByKey(latestByKey(a).unionByName(latestByKey(b)))) == whole,
      "LWW kernel is not associative over slices")
    assert(key(latestByKey(latestByKey(ev).unionByName(latestByKey(a)))) == whole,
      "LWW kernel does not absorb a replayed slice")
  }
}
