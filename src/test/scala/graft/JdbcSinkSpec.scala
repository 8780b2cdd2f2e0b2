package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.core.Tables
import graft.streaming.{JdbcBatchSink, Streams}

/** K4/JDBC end-to-end: the reference's primary egress is a per-batch
  * JDBC append into Postgres (consumer_postgres_streaming.py:427-440 —
  * `df.write.jdbc(..., mode="append")` inside foreachBatch, with a
  * batchsize option and an empty-frame probe). No Postgres exists in
  * this environment, but Derby ships with Spark and its embedded driver
  * is a real JDBC driver with real DDL/DML — so this drains a bounded
  * stream through [[JdbcBatchSink]] into an actual database table and
  * reads it back through the batch JDBC source. Only the url/driver pair
  * differs from a production Postgres binding.
  */
class JdbcSinkSpec extends SparkTestBase {

  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  test("K4: bounded stream appends through a real JDBC driver; table reads back exact") {
    val url = s"jdbc:derby:${Streams.dataDir("graft_derby_")}/db;create=true"
    val stream = Streams
      .eventsStream(spark, sfDir, maxFilesPerTrigger = 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        graft.functions.Canon.cents(col("value")).as("value_cents"))
    val sink = JdbcBatchSink(url, "events_sink",
      Map("driver" -> driver, "batchsize" -> "500"),
      Streams.scratchDir("graft_cp_jdbc_"))
    Streams.withStreamShufflePartitions(spark) {
      val q = sink.start(stream)
      Streams.awaitDrained(q)
      q.stop()
    }

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "events_sink")
      .option("driver", driver)
      .load()
    val expected = Tables(spark, sfDir).events
      .agg(count(lit(1)).as("n"),
           sum(graft.functions.Canon.cents(col("value"))).as("cents"),
           countDistinct(col("user_id")).as("users"))
      .head()
    val got = back
      .agg(count(lit(1)).as("n"),
           sum(col("value_cents")).as("cents"),
           countDistinct(col("user_id")).as("users"))
      .head()
    assert(got.getLong(0) === expected.getLong(0), "row count through JDBC")
    assert(got.getLong(1) === expected.getLong(1), "value sum through JDBC")
    assert(got.getLong(2) === expected.getLong(2), "distinct users through JDBC")
    // maxFilesPerTrigger=1 over the 4-file staging → the append really
    // ran as multiple micro-batch transactions, not one bulk insert
    assert(back.select(countDistinct(col("batch_id"))).head().getLong(0) >= 2)
  }

  test("K4: idempotent mode makes a replayed batch a no-op (effectively-once contents)") {
    import spark.implicits._
    val url = s"jdbc:derby:${Streams.dataDir("graft_derby_idem_")}/db;create=true"
    val sink = JdbcBatchSink(url, "idem_sink",
      Map("driver" -> driver), Streams.scratchDir("graft_cp_jdbc_i_"),
      idempotent = true)
    val batch = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    def rows(): Long = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "idem_sink")
      .option("driver", driver).load().count()
    sink.writeBatch(batch, 0L)
    assert(rows() === 2)
    // crash-recovery replay of the SAME batch id: must not duplicate
    sink.writeBatch(batch, 0L)
    assert(rows() === 2, "replayed batch appended twice")
    // a genuinely new batch still appends
    sink.writeBatch(batch, 1L)
    assert(rows() === 4)
    // the reference-default non-idempotent sink DOES duplicate on replay
    // (at-least-once) — the differential control
    val plain = sink.copy(idempotent = false)
    plain.writeBatch(batch, 1L)
    assert(rows() === 6)
  }

  test("K4: idempotent replay REPAIRS a partially-committed batch (no silent loss)") {
    import spark.implicits._
    val url = s"jdbc:derby:${Streams.dataDir("graft_derby_repair_")}/db;create=true"
    val sink = JdbcBatchSink(url, "repair_sink",
      Map("driver" -> driver), Streams.scratchDir("graft_cp_jdbc_r_"),
      idempotent = true)
    // Spark's JDBC append commits per partition in separate
    // transactions — a crash mid-batch leaves the batch PARTIALLY
    // written. Simulate that: only 1 of batch 7's 3 rows committed.
    val partial = Seq((1L, 10L)).toDF("k", "v")
    val full    = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    sink.copy(idempotent = false).writeBatch(partial, 7L)
    // recovery replays the whole batch: repair must converge to exactly
    // the batch's rows — a probe-and-skip sink would see n>0 and drop
    // rows 2 and 3 forever
    sink.writeBatch(full, 7L)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "repair_sink")
      .option("driver", driver).load()
    assert(back.count() === 3, "repair must restore the full batch")
    assert(back.agg(sum(col("v"))).head().getLong(0) === 60L)
    // a second replay is still a no-op in contents
    sink.writeBatch(full, 7L)
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "repair_sink")
      .option("driver", driver).load().count() === 3)
  }

  test("st25: streaming vehicle pipeline ≡ batch twin; Derby table carries VARCHAR DDL types") {
    import graft.streaming.VehiclePipeline
    val (table, url) = VehiclePipeline.runPipeline(spark, sfDir)
    val got = table.filter(col("camera_id") =!= "__flush__")
      .select("window_start_epoch", "camera_id", "vehicle_type",
        "n_frames", "n_vehicles", "sum_conf_e4")
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "pipeline wrote no sealed windows")
    // batch twin: the SAME parse/detect/window functions executed as one
    // batch query over the same staged messages — stream ≡ batch is the
    // whole lifecycle claim
    val staged = VehiclePipeline.stageFrames(spark, sfDir)
    val batch = VehiclePipeline.windowedCounts(
        VehiclePipeline.detectFrames(spark.read.parquet(staged.dir)))
      .collect().map(_.toSeq).toSet
    assert(got === batch, "streamed table != batch twin")
    // DDL fidelity: createTableColumnTypes must have produced VARCHAR
    // (Postgres-shape) columns, not Derby's CLOB default for strings
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getColumns(null, null, "VEHICLE_COUNTS", null)
      val types = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString("COLUMN_NAME") -> r.getString("TYPE_NAME")).toMap
      assert(types("camera_id") === "VARCHAR", s"got $types")
      assert(types("vehicle_type") === "VARCHAR", s"got $types")
      assert(types.contains("batch_id"), "idempotent provenance column missing")
    } finally conn.close()
  }

  test("st27: streaming fire pipeline ≡ batch twin; NULL overlay survives the database round trip") {
    import graft.streaming.FirePipeline
    val (table, url, staged) = FirePipeline.runPipeline(spark, sfDir)
    val cols = Seq("camera_id", "frame_number", "detection_ts_epoch",
      "fire_detected", "fire_pct_e4", "conf_e4", "image_emitted", "overlay_sum_r")
    val got = table.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "pipeline wrote no detections")
    // batch twin: the SAME parse/decode/detect kernel executed as one
    // batch query over the same staged messages
    val batch = FirePipeline.detectFires(spark.read.parquet(staged))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(got === batch, "streamed table != batch twin")
    // the conditional-emission policy must survive JDBC: suppressed rows
    // exist and carry SQL NULL, emitted rows never do
    val nullRows = table.filter(col("overlay_sum_r").isNull)
    assert(nullRows.count() > 0, "fixture produced no suppressed overlays")
    assert(nullRows.filter(col("image_emitted")).count() === 0)
    assert(table.filter(col("image_emitted") && col("overlay_sum_r").isNull)
      .count() === 0, "emitted row lost its overlay in the database")
    // multi-batch streaming (not one bulk insert) + Postgres-shape DDL
    assert(table.select(countDistinct(col("batch_id"))).head().getLong(0) >= 2)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getColumns(null, null, "FIRE_DETECTIONS", null)
      val types = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString("COLUMN_NAME") -> r.getString("TYPE_NAME")).toMap
      assert(types("camera_id") === "VARCHAR", s"got $types")
      assert(types("fire_detected") === "BOOLEAN", s"got $types")
    } finally conn.close()
  }

  test("st28: streaming ABSA → absa_results DDL shape ≡ batch twin, row-level") {
    import graft.streaming.AbsaJdbcPipeline
    val (table, url, staged) = AbsaJdbcPipeline.runPipeline(spark, sfDir)
    val cols = Seq("doc_id", "review_text", "value_label", "table_label", "stream_label")
    val got = table.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "pipeline wrote no rows")
    val batch = AbsaJdbcPipeline.absaResults(spark.read.parquet(staged))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(got === batch, "streamed absa_results != batch twin")
    // every document landed exactly once (idempotent channel)
    assert(table.count() ===
      core.Tables(spark, sfDir).documents.count())
    assert(table.select(countDistinct(col("batch_id"))).head().getLong(0) >= 2)
    // the reference's TEXT-analog DDL: VARCHAR columns, not Derby CLOB
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getColumns(null, null, "ABSA_RESULTS", null)
      val types = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString("COLUMN_NAME") -> r.getString("TYPE_NAME")).toMap
      assert(types("review_text") === "VARCHAR", s"got $types")
      assert(types("value_label") === "VARCHAR", s"got $types")
    } finally conn.close()
  }

  test("K1: two pipelines write ONE Derby database concurrently — both tables read back exact") {
    // The reference runs its vehicle, fire, and ABSA consumers into a
    // single Postgres instance at the same time. Local Derby can
    // express that pattern: drive the st25 and st27 sinks as two LIVE
    // streaming queries into the SAME embedded database (distinct
    // tables, interleaving per-batch transactions over concurrent
    // connections), then require each table to equal its solo
    // single-writer run — concurrency must not lose, duplicate, or
    // cross-wire a row.
    import spark.implicits._
    import graft.streaming.{FirePipeline, JdbcBatchSink, VehiclePipeline}
    val staged = VehiclePipeline.stageFrames(spark, sfDir)
    val url = s"jdbc:derby:${Streams.dataDir("graft_derby_conc_")}/db;create=true"
    val vehSink = JdbcBatchSink(url, "vehicle_counts",
      Map("driver" -> driver,
        "createTableColumnTypes" ->
          "camera_id VARCHAR(32), vehicle_type VARCHAR(16)"),
      Streams.scratchDir("graft_cp_conc_v_"), idempotent = true)
    val fireSink = JdbcBatchSink(url, "fire_detections",
      Map("driver" -> driver,
        "createTableColumnTypes" -> "camera_id VARCHAR(32)"),
      Streams.scratchDir("graft_cp_conc_f_"), idempotent = true)
    Streams.withStreamShufflePartitions(spark) {
      val q1 = vehSink.start(VehiclePipeline.windowedCounts(
        VehiclePipeline.detectFrames(
          Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1))))
      val q2 = fireSink.start(FirePipeline.detectFires(
        Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)))
      Streams.awaitDrained(q1); Streams.awaitDrained(q2)
      // vehicle's watermark flush protocol (the fire side has no
      // watermark; it just processes the sentinels as frames)
      Seq(1000000000L, 2000000000L).foreach { off =>
        Seq(("__flush__",
          VehiclePipeline.sentinelJson(VehiclePipeline.baseEpoch + off)))
          .toDF("key", "value")
          .coalesce(1).write.mode("append").parquet(staged.dir)
        Streams.awaitDrained(q1); Streams.awaitDrained(q2)
      }
      q1.stop(); q2.stop()
    }
    def readback(table: String) = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("driver", driver).load()
    // batch_id dropped: the two runs legitimately differ in micro-batch
    // provenance (the fire side sees the sentinel files as extra
    // batches here but not solo); CONTENTS must be identical
    val vehCols = Seq("window_start_epoch", "camera_id", "vehicle_type",
      "n_frames", "n_vehicles", "sum_conf_e4")
    val veh = readback("vehicle_counts")
      .filter(col("camera_id") =!= "__flush__")
      .select(vehCols.head, vehCols.tail: _*).collect().map(_.toSeq).toSet
    val fireCols = Seq("camera_id", "frame_number", "detection_ts_epoch",
      "fire_detected", "fire_pct_e4", "conf_e4", "image_emitted", "overlay_sum_r")
    val fire = readback("fire_detections")
      .filter(col("camera_id") =!= "__flush__")
      .select(fireCols.head, fireCols.tail: _*).collect().map(_.toSeq).toSet
    assert(veh.nonEmpty && fire.nonEmpty, "a concurrent writer wrote nothing")
    val (vehSoloT, _) = VehiclePipeline.runPipeline(spark, sfDir)
    val vehSolo = vehSoloT.filter(col("camera_id") =!= "__flush__")
      .select(vehCols.head, vehCols.tail: _*).collect().map(_.toSeq).toSet
    val (fireSoloT, _, _) = FirePipeline.runPipeline(spark, sfDir)
    val fireSolo = fireSoloT.filter(col("camera_id") =!= "__flush__")
      .select(fireCols.head, fireCols.tail: _*).collect().map(_.toSeq).toSet
    assert(veh === vehSolo, "concurrent vehicle table != solo-writer table")
    assert(fire === fireSolo, "concurrent fire table != solo-writer table")
  }

  test("K1: repair-connection props delegate to Spark's filter — writer options stripped, credentials kept") {
    // jdbcProps builds on the internal JDBCOptions.asConnectionProperties
    // (no compatibility guarantee) — pin the contract so a Spark bump
    // that changes which props reach the repair connection fails loudly
    // instead of silently altering DELETE behavior.
    val sink = JdbcBatchSink("jdbc:derby:memory:propsPin;create=true", "t",
      Map("driver" -> driver, "user" -> "u1", "password" -> "p1",
        "createTableColumnTypes" -> "c VARCHAR(10)", "batchsize" -> "500",
        "isolationLevel" -> "READ_COMMITTED"),
      Streams.scratchDir("graft_cp_props_"))
    val p = sink.jdbcProps
    assert(p.getProperty("user") === "u1", "driver-level credential must survive")
    assert(p.getProperty("password") === "p1")
    assert(p.getProperty("createTableColumnTypes") == null,
      "Spark-writer-only DDL option leaked to the raw connection")
    assert(p.getProperty("batchsize") == null,
      "Spark-writer-only batch option leaked to the raw connection")
    assert(p.getProperty("isolationLevel") == null,
      "Spark-writer-only isolation option leaked to the raw connection")
  }

  test("K1: reference DDL types round-trip with per-column fidelity (VEHICLE_COUNTING_GUIDE.md:107-118)") {
    import spark.implicits._
    val url = s"jdbc:derby:${Streams.dataDir("graft_derby_ddl_")}/db;create=true"
    // the reference's vehicle_counts shape: VARCHAR(50) strings, INTEGER
    // counts, TIMESTAMP, FLOAT (= DOUBLE PRECISION) confidence
    val rows = Seq(
      ("cam_1", 10, java.sql.Timestamp.valueOf("2026-03-01 00:00:01.123456"),
        "car", 0.955, 3),
      ("cam_2", 11, java.sql.Timestamp.valueOf("2026-03-01 00:00:02.5"),
        "truck", 0.705, 1))
    val df = rows.toDF("camera_id", "frame_number", "detection_time",
      "vehicle_type", "confidence", "count")
    val sink = JdbcBatchSink(url, "vehicle_counts_ddl",
      Map("driver" -> driver,
        "createTableColumnTypes" -> "camera_id VARCHAR(50), vehicle_type VARCHAR(50)"),
      Streams.scratchDir("graft_cp_ddl_"))
    sink.writeBatch(df, 0L)

    def columnMeta(table: String): Map[String, (String, Int)] = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.getMetaData.getColumns(null, null, table, null)
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => r.getString("COLUMN_NAME") ->
            (r.getString("TYPE_NAME"), r.getInt("COLUMN_SIZE"))).toMap
      } finally conn.close()
    }
    val meta = columnMeta("VEHICLE_COUNTS_DDL")
    assert(meta("camera_id") === ("VARCHAR", 50), s"got $meta")
    assert(meta("vehicle_type") === ("VARCHAR", 50))
    assert(meta("frame_number")._1 === "INTEGER")
    assert(meta("detection_time")._1 === "TIMESTAMP")
    // DoubleType maps to DOUBLE PRECISION DDL (the Postgres FLOAT shape)
    assert(meta("confidence")._1 === "DOUBLE")
    assert(meta("count")._1 === "INTEGER")

    // per-column VALUE fidelity after the round trip — micros-precision
    // timestamp, exact double bits, exact strings
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "vehicle_counts_ddl")
      .option("driver", driver).load()
      .select(col("camera_id"), col("frame_number"), col("detection_time"),
        col("vehicle_type"), col("confidence"), col("count"))
      .as[(String, Int, java.sql.Timestamp, String, Double, Int)]
      .collect().toSet
    assert(back === rows.toSet, "round-trip value drift")

    // contrast pin: WITHOUT the DDL override Derby maps StringType to
    // CLOB — the reason createTableColumnTypes matters for this dialect
    val plain = JdbcBatchSink(url, "vehicle_counts_clob",
      Map("driver" -> driver), Streams.scratchDir("graft_cp_ddl2_"))
    plain.writeBatch(df.select("camera_id", "confidence"), 0L)
    assert(columnMeta("VEHICLE_COUNTS_CLOB")("camera_id")._1 === "CLOB")
  }

  test("T3: crash between JDBC write and checkpoint commit — exactly-once vs at-least-once") {
    import spark.implicits._
    // The T3 guarantee, proven at the CRASH POINT that matters: the
    // micro-batch's JDBC write has committed but the checkpoint commit
    // log has not. On restart Spark replays that batch (at-least-once
    // channel); the idempotent sink must converge to exactly-once table
    // contents while the reference-default append shows the documented
    // duplicate.
    def run(idem: Boolean): Long = {
      val staged = Streams.stage(Seq(1L, 2L).toDF("id").repartition(1), "graft_crash_src_")
      Seq(3L, 4L).toDF("id").repartition(1).write.mode("append").parquet(staged.dir)
      val url = s"jdbc:derby:${Streams.dataDir("graft_derby_crash_")}/db;create=true"
      val cp = Streams.scratchDir("graft_cp_crash_")
      val sink = JdbcBatchSink(url, "crash_sink", Map("driver" -> driver),
        cp, idempotent = idem)
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def start() = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
        .writeStream.outputMode("append").option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          sink.writeBatch(b, id)
          // fail AFTER the database write, BEFORE Spark records the
          // batch in the commit log — the partial-failure window
          if (crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash post-write pre-commit")
        }.start()
      val q1 = start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(e.getMessage.contains("injected crash"), s"unexpected: ${e.getMessage}")
      // recovery: same checkpoint, same sink — Spark replays the
      // uncommitted batch, then drains the rest
      val q2 = start()
      Streams.awaitDrained(q2)
      q2.stop()
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", "crash_sink")
        .option("driver", driver).load().count()
    }
    assert(run(idem = true) === 4L,
      "idempotent sink must yield exactly-once contents across the crash")
    assert(run(idem = false) === 6L,
      "default append must show the documented at-least-once duplicate")
  }

  test("K4: empty micro-batches never touch the database (no table created)") {
    import spark.implicits._
    val url = s"jdbc:derby:${Streams.dataDir("graft_derby_empty_")}/db;create=true"
    // a source dir whose only file produces zero rows after the filter →
    // every micro-batch is empty
    val staged = Streams.stage(Seq((1L, "x")).toDF("id", "s"), "graft_jdbc_empty_src_")
    val stream = Streams.streamFromStaged(spark, staged).filter(col("id") < 0)
    val sink = JdbcBatchSink(url, "never_created",
      Map("driver" -> driver), Streams.scratchDir("graft_cp_jdbc_e_"))
    Streams.withStreamShufflePartitions(spark) {
      val q = sink.start(stream)
      Streams.awaitDrained(q)
      q.stop()
    }
    // the probe skipped the write, so the table must not exist
    val e = intercept[Exception] {
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", "never_created")
        .option("driver", driver).load().count()
    }
    assert(e.getMessage != null)
  }

  /** `body`'s result and every executed micro-batch's progress, per
    * streaming query it ran, in batch order — complete once each query's
    * termination event (posted after its last progress) has arrived. */
  private def batchProgress[A](body: => A): (A, Seq[Seq[StreamingQueryProgress]]) = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val started, ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.id)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.add(e.id)
    }
    spark.streams.addListener(listener)
    val out = try {
      val out = body
      eventually(timeout(30.seconds)) {
        assert(!started.isEmpty && ended.containsAll(started))
      }
      out
    } finally spark.streams.removeListener(listener)
    // idle triggers also report progress; only executed batches add one
    (out, progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.id).values.map(_.sortBy(_.batchId)).toSeq)
  }

  test("K4: each micro-batch runs once — input rows counted once, one commit per state store") {
    import graft.streaming.{FirePipeline, VehiclePipeline}
    // st25: the staged frames plus the one flush sentinel
    val (_, Seq(veh)) = batchProgress(VehiclePipeline.runPipeline(spark, sfDir))
    val frames = Tables(spark, sfDir).documents.count() + 1
    assert(veh.map(_.numInputRows).sum === frames)
    // the emitting batch runs the windowed aggregation's 4 shuffle
    // partitions; a second run of the batch would report 8 stores
    val Seq(agg) = veh.last.stateOperators.toSeq
    assert(agg.numStateStoreInstances === 4, agg.json)
    val ((_, _, staged), Seq(fire)) = batchProgress(FirePipeline.runPipeline(spark, sfDir))
    assert(fire.map(_.numInputRows).sum === spark.read.parquet(staged).count())
  }
}
