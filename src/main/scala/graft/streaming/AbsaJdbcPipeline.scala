package graft.streaming

import graft.{GraftQuery, QueryPack}
import graft.core.Tables
import graft.ml.AbsaPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** st28 — the reference's ABSA pipeline carried all the way to its
  * DATABASE edge (consumer_postgres_streaming.py:392-440): document
  * stream → per-executor lazy model inference → native argmax decode →
  * per-aspect `regexp_extract` label columns → the `absa_results` table
  * shape (ReviewText + one VARCHAR column per aspect) appended through
  * the idempotent JDBC sink with explicit Postgres-style DDL types →
  * the table read back as the query result.
  *
  * st07 proved streaming inference ≡ batch but landed in parquet; this
  * closes the one lifecycle leg it left open — the reference's exact
  * sink DDL shape round-tripped through a real database (embedded
  * Derby standing in for Postgres; the `createTableColumnTypes`
  * VARCHAR columns are the analog of Postgres TEXT, and keep Derby
  * from defaulting StringType to CLOB). With st25 (vehicle) and st27
  * (fire) all three reference pipelines are now artifact-complete at
  * the database edge.
  *
  * The reference appends ROW-LEVEL results (one row per review with
  * its 8 aspect labels, :427-437) — so unlike st07's aggregated check,
  * the oracle here compares every row of the readback: doc id, the
  * review text itself, and each aspect label, proving the whole
  * inference → decode → extract → JDBC → readback chain is lossless
  * per row. The engine's aspect vocabulary is documents-domain
  * (value/table/stream — see AbsaPipeline.aspects); the reference's
  * 8-aspect list is the same fold with a longer seq.
  *
  * Scale shape: the transform is stateless row-local work (inference +
  * expressions), so streaming state is O(0); the JDBC edge carries one
  * row per document — at 100 TB that sink would be partitioned-append
  * per executor exactly as Spark's JDBC writer already does, and the
  * idempotent batch_id repair bounds replay cost to one batch.
  */
object AbsaJdbcPipeline extends QueryPack {

  /** text → absa_results columns: ReviewText + per-aspect labels — the
    * reference's `batch_df.select("ReviewText", *ASPECTS)` projection
    * (consumer_postgres_streaming.py:429). Shared by the streaming
    * query and the spec's batch twin. */
  def absaResults(docs: DataFrame): DataFrame =
    AbsaPipeline.decoded(AbsaPipeline.withProbs(docs))
      .select(col("doc_id"), col("text").as("review_text"),
        col("value_label"), col("table_label"), col("stream_label"))

  /** Run the pipeline against a fresh Derby database and return
    * (readback table, jdbc url, staged doc dir). */
  def runPipeline(spark: org.apache.spark.sql.SparkSession,
                  dir: String): (DataFrame, String, String) = {
    val staged = Streams.stage(Tables(spark, dir).documents.repartition(4), "graft_absa_docs_")
    val url = s"jdbc:derby:${Streams.dataDir("graft_derby_absa_")}/db;create=true"
    val sink = JdbcBatchSink(url, "absa_results",
      Map("driver" -> VehiclePipeline.derbyDriver,
        // the reference's absa_results column shapes: review text +
        // one short label per aspect (consumer_postgres_streaming.py
        // :427-437 lands TEXT columns in Postgres)
        "createTableColumnTypes" ->
          ("review_text VARCHAR(4000), value_label VARCHAR(8), " +
           "table_label VARCHAR(8), stream_label VARCHAR(8)")),
      Streams.scratchDir("graft_cp_st28_"), idempotent = true)
    Streams.drain(spark)(sink.start(absaResults(
      Streams.streamFromStaged(spark, staged, maxFilesPerTrigger = 1))))
    val table = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "absa_results")
      .option("driver", VehiclePipeline.derbyDriver).load()
    (table, url, staged.dir)
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery(
      "st28_absa_results",
      (spark, dir) => {
        val (table, _, _) = runPipeline(spark, dir)
        table.select(col("doc_id"), col("review_text"),
          col("value_label"), col("table_label"), col("stream_label"))
      },
      // row-level twin of absa01's aggregated oracle: the same keyword
      // scorer recomputed per document in SQL
      Some("""WITH scored AS (
             |  SELECT doc_id, text,
             |    CASE WHEN n_pos > n_neg THEN 'POS'
             |         WHEN n_neg > n_pos THEN 'NEG' ELSE 'NEU' END AS sent,
             |    has_value, has_table, has_stream
             |  FROM (
             |    SELECT doc_id, text,
             |      CAST((length(t) - length(replace(t, ' fast ', ''))) / 6
             |         + (length(t) - length(replace(t, ' big ', ''))) / 5 AS BIGINT) AS n_pos,
             |      CAST((length(t) - length(replace(t, ' slow ', ''))) / 6
             |         + (length(t) - length(replace(t, ' small ', ''))) / 7 AS BIGINT) AS n_neg,
             |      (text LIKE '%value%') AS has_value,
             |      (text LIKE '%table%') AS has_table,
             |      (text LIKE '%stream%') AS has_stream
             |    FROM (SELECT doc_id, text, ' ' || text || ' ' AS t FROM documents)))
             |SELECT doc_id, text AS review_text,
             |  CASE WHEN has_value THEN sent ELSE 'ABSENT' END AS value_label,
             |  CASE WHEN has_table THEN sent ELSE 'ABSENT' END AS table_label,
             |  CASE WHEN has_stream THEN sent ELSE 'ABSENT' END AS stream_label
             |FROM scored""".stripMargin),
      "Flagship lifecycle: streaming ABSA → absa_results DDL shape → idempotent JDBC → row-level readback (consumer_postgres_streaming.py:392-440)"))
}
