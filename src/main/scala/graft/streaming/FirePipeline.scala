package graft.streaming

import graft.{GraftQuery, QueryPack}
import graft.multimodal.ImageCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** st27 — the reference's fire-segmentation lifecycle as ONE streaming
  * query (fire_consumer_streaming.py:38-295, SURVEY §3.2 entry point A,
  * fire variant): Kafka-contract JSON frame messages → `from_json`
  * parse → base64 → REAL PNG decode → the mm10 conditional-emission
  * fire struct ([[ImageCodec.fireDetect]]) → per-frame detection rows →
  * idempotent JDBC sink (embedded Derby standing in for Postgres, with
  * explicit Postgres-style DDL types) → the database table read back as
  * the query result.
  *
  * With st07/st28 (ABSA) and st25 (vehicle) this completes the
  * single-query end-to-end form of all three reference pipelines.
  *
  * Shape notes, each mirroring the reference deliberately:
  *   - the fire sink appends PER-FRAME detection rows — unlike the
  *     vehicle pipeline there is NO pre-sink aggregation, because the
  *     reference's dashboard reads individual detections with their
  *     conditional overlay images (fire_consumer_streaming.py:224-233).
  *     The pipeline is therefore fully STATELESS (no watermark, no
  *     state store): each micro-batch maps frames to rows and appends,
  *     which is the scale-safe shape for a per-event ML-scoring sink —
  *     state is O(0) and the JDBC edge carries exactly the detection
  *     rows;
  *   - the expensive overlay re-encode is emitted CONDITIONALLY (every
  *     5th frame or on detection — `save_image or fire_detected`,
  *     :160,192); rows where neither trigger fires carry NULL, which
  *     the sink must persist as SQL NULL and the readback must return
  *     as null — the emission policy survives the database round-trip;
  *   - the reference's plain JDBC append is at-least-once (duplicates
  *     on replay, :237-252); ours runs the idempotent
  *     delete-then-append sink so crash replays converge to
  *     exactly-once table contents.
  *
  * The detection math is closed-form in doc_id (fire ⇔ red > 127 over
  * the gradient fixture), so the DuckDB oracle reproduces every row
  * exactly — a stubbed decode or a broken overlay re-encode cannot
  * match it (see ImageCodec.fireDetect's contract).
  */
object FirePipeline extends QueryPack {

  /** Parse Kafka-contract frame records and run the decode → fire
    * struct kernel — shared verbatim by the streaming query and the
    * spec's batch twin (stream ≡ batch is exactly this function under
    * two executions). */
  def detectFires(records: DataFrame): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records.select(from_json(col("value"), VehiclePipeline.frameSchema).as("d"))
      .select(col("d.camera_id"), col("d.frame_number"), col("d.timestamp"),
        unbase64(col("d.frame")).as("png"))
      .as[(String, Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (cam, frameNo, ts, png) =>
        val fd = ImageCodec.fireDetect(frameNo, png)
        FireSinkRow(cam, frameNo, ts, fd.fire_detected, fd.fire_pct_e4,
          fd.conf_e4, fd.image_emitted, fd.overlay_sum_r)
      })
      .toDF()
  }

  /** Run the full pipeline against a fresh Derby database and return
    * (readback table, jdbc url, staged topic dir) — the spec reuses the
    * staged dir to drive the batch twin over the exact same records. */
  def runPipeline(spark: org.apache.spark.sql.SparkSession,
                  dir: String): (DataFrame, String, String) = {
    // two staged slices (st06's reasoning): the pipeline is stateless, so
    // each extra micro-batch only replays per-batch planning plus one
    // idempotent JDBC commit; >1 batch is all the stream shape needs
    val staged = VehiclePipeline.stageFrames(spark, dir, nFiles = 2)
    val url = s"jdbc:derby:${Streams.dataDir("graft_derby_fire_")}/db;create=true"
    val sink = JdbcBatchSink(url, "fire_detections",
      Map("driver" -> VehiclePipeline.derbyDriver,
        // explicit DDL types, the reference's Postgres column shapes
        // (fire_detections: camera id text, metrics numeric); also keeps
        // Derby from defaulting StringType to CLOB
        "createTableColumnTypes" -> "camera_id VARCHAR(32)"),
      Streams.scratchDir("graft_cp_st27_"), idempotent = true)
    Streams.withStreamShufflePartitions(spark) {
      val stream = Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1)
      val q = sink.start(detectFires(stream))
      Streams.awaitDrained(q)
      q.stop()
    }
    val table = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "fire_detections")
      .option("driver", VehiclePipeline.derbyDriver).load()
    (table, url, staged.dir)
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery(
      "st27_fire_pipeline",
      (spark, dir) => {
        val (table, _, _) = runPipeline(spark, dir)
        table.select(col("camera_id"), col("frame_number"),
          col("detection_ts_epoch"), col("fire_detected"),
          col("fire_pct_e4"), col("conf_e4"), col("image_emitted"),
          col("overlay_sum_r"))
      },
      Some("""WITH f AS (SELECT doc_id,
             |    CAST(16 + doc_id % 48 AS BIGINT) AS w,
             |    CAST(16 + doc_id % 32 AS BIGINT) AS h,
             |    CAST(doc_id % 97 AS BIGINT) AS c
             |  FROM documents),
             |m AS (SELECT doc_id, w, h, c,
             |    LEAST(w, 128 - c) AS k,
             |    h*(w*c + (w*(w-1))//2) AS sum_r
             |  FROM f),
             |e AS (SELECT doc_id, w, h, c, k,
             |    (10000 * h * (w - k)) // (w*h) AS fire_pct_e4,
             |    (10000 * sum_r) // (255*w*h) AS conf_e4
             |  FROM m)
             |SELECT
             |  'cam_' || CAST(doc_id % 4 AS VARCHAR) AS camera_id,
             |  doc_id AS frame_number,
             |  CAST(epoch(TIMESTAMP '2026-03-01 00:00:00') AS BIGINT) + doc_id
             |    AS detection_ts_epoch,
             |  fire_pct_e4 > 100 AS fire_detected,
             |  fire_pct_e4,
             |  conf_e4,
             |  (doc_id % 5 = 0 OR fire_pct_e4 > 100) AS image_emitted,
             |  CASE WHEN doc_id % 5 = 0 OR fire_pct_e4 > 100
             |       THEN h*(k*c + (k*(k-1))//2) + 255*h*(w - k)
             |       ELSE NULL END AS overlay_sum_r
             |FROM e""".stripMargin),
      "Flagship lifecycle: frames → REAL decode → fire struct → conditional overlay → idempotent JDBC (fire_consumer_streaming.py:38-295)"))
}

/** The fire_detections table row — the reference's df_exploded schema
  * (fire_consumer_streaming.py:224-233) with e4-integer percentages and
  * the conditional image column as its decoded red sum (NULL ⇔ the
  * reference's image_base64 = null). */
final case class FireSinkRow(camera_id: String, frame_number: Long,
                             detection_ts_epoch: Long, fire_detected: Boolean,
                             fire_pct_e4: Long, conf_e4: Long,
                             image_emitted: Boolean,
                             overlay_sum_r: Option[Long])
