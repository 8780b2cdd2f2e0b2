package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, struct, to_json}
import org.apache.spark.sql.streaming.StreamingQuery

/** Sink abstraction for the egress tier — the write-side twin of
  * [[StreamSource]] (SURVEY §2 K1/K4).
  *
  * The reference publishes to Kafka (producer.py:38-53,
  * video_producer.py:107-118: JSON-serialized rows keyed by entity id)
  * and appends to Postgres over JDBC
  * (consumer_postgres_streaming.py:427-440). Neither broker exists in
  * this environment, so the engine programs against this trait: the
  * Kafka and JDBC sinks compile in and bind by format name at runtime
  * (exercised wherever the connector jar / database is configured),
  * while [[FileTopicSink]] reproduces the producer semantics over a
  * parquet "topic" dir — the same emulation contract as
  * [[FileStreamSource]], so a produced topic is directly consumable by
  * the engine's own stream source for round-trip tests.
  */
trait StreamSink extends Serializable {
  /** Start writing the streaming frame; the caller owns the lifecycle. */
  def start(df: DataFrame): StreamingQuery
}

object StreamSink {
  /** Kafka's record contract: (key STRING, value STRING) where value is
    * the JSON-serialized row — the reference producer's
    * `json.dumps(asdict(row))` keyed by entity id (producer.py:44-49). */
  def toRecords(df: DataFrame, keyCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))
}

/** Kafka producer sink — compiled in, exercised only where the
  * spark-sql-kafka connector jar is on the classpath. Expects the
  * key/value contract from [[StreamSink.toRecords]]. */
final case class KafkaProducerSink(bootstrapServers: String, topic: String,
                                   checkpointDir: String) extends StreamSink {
  def start(df: DataFrame): StreamingQuery =
    df.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .start()
}

/** File-backed topic: parquet part files are the broker's log segments.
  * Append-mode parquet sink + checkpoint gives the same at-least-once,
  * offset-committed semantics the Kafka sink has; records carry the
  * (key, value) contract so a consumer parses `value` exactly as it
  * would a Kafka message. */
final case class FileTopicSink(topicDir: String,
                               checkpointDir: String) extends StreamSink {
  def start(df: DataFrame): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", topicDir)
      .option("checkpointLocation", checkpointDir)
      .start()
}

/** JDBC append sink — the reference's Postgres edge
  * (consumer_postgres_streaming.py:427-440). Streaming has no native
  * jdbc format, so each micro-batch appends through the batch JDBC
  * writer inside foreachBatch — the same shape the reference uses
  * (`df.write.jdbc(..., mode="append")` per batch), including its
  * empty-frame probe before touching the database (an idle trigger must
  * not open connections or create tables). Exercised end-to-end against
  * embedded Derby in JdbcSinkSpec; any other database is the same code
  * with a different url/driver pair.
  *
  * `idempotent = true` upgrades the channel's at-least-once delivery to
  * effectively-once TABLE CONTENTS — the JDBC twin of
  * [[Streams.idempotentBatchWriter]]'s dynamic-partition overwrite:
  * every row carries its batch_id, and a replayed batch (crash
  * recovery) first DELETEs any rows a prior attempt left for that id,
  * then appends. Delete-then-append — rather than probe-and-skip —
  * because Spark's JDBC append commits per PARTITION in separate
  * transactions: a crash mid-batch leaves the batch partially written,
  * and a probe that skips on "any rows present" would silently drop the
  * remainder forever. Repair converges to exactly the batch's rows no
  * matter where the crash landed. The reference's plain append
  * (at-least-once, duplicates on replay) remains the default. */
final case class JdbcBatchSink(url: String, table: String,
                               props: Map[String, String],
                               checkpointDir: String,
                               idempotent: Boolean = false) extends StreamSink {

  /** The per-micro-batch write, exposed so specs can drive a replay
    * directly (the streaming engine only replays after a real crash).
    * The batch is persisted around the empty probe and the write, so its
    * plan runs once: run twice, a stateful batch commits every state
    * store twice and the query's progress counts its input rows twice. */
  def writeBatch(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      if (!batch.isEmpty) {
        if (idempotent) deleteBatchRows(batchId)
        val w = props.foldLeft(
          batch.withColumn("batch_id", lit(batchId))
            .write.format("jdbc")
            .option("url", url).option("dbtable", table)) {
          case (acc, (k, v)) => acc.option(k, v)
        }
        w.mode("append").save()
      }
    } finally batch.unpersist()
  }

  /** Repair step for a replayed batch: remove whatever a prior
    * (possibly partial) attempt committed under this batch_id. Runs on
    * the driver over a plain JDBC connection — one statement per batch,
    * with the batch id bound as a parameter: every batch sends the same
    * statement text, so the database compiles one DELETE per table
    * (Derby compiles each distinct text into a class) instead of one
    * per micro-batch. A missing table is the expected first-ever-batch
    * case and is identified by its SQLState (Derby 42X05, Postgres
    * 42P01); any other database error is a real fault and propagates
    * instead of silently degrading to a duplicate append. */
  private def deleteBatchRows(batchId: Long): Unit = {
    props.get("driver").foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, jdbcProps)
    try {
      // the writer CREATEs with quoted (case-sensitive) column names —
      // the delete must quote too or Derby/Postgres upper-case-fold
      // the identifier and miss the column
      val st = conn.prepareStatement(s"""DELETE FROM $table WHERE "batch_id" = ?""")
      try { st.setLong(1, batchId); st.executeUpdate() }
      finally st.close()
    } catch {
      case e: java.sql.SQLException if isMissingTable(e) => ()
    } finally conn.close()
  }

  /** Connection properties for the hand-rolled repair connection.
    * Spark-WRITER-only options (createTableColumnTypes, batchsize, …)
    * must not leak to the driver as connection attributes — a strict
    * driver rejects unknown attributes, which would kill the DELETE on
    * a database where the append path works. Delegates to the SAME
    * filter Spark's connector applies before connecting
    * (`JDBCOptions.asConnectionProperties`) rather than a parallel
    * option-name list that would silently drift across Spark versions.
    * JDBCOptions sits in an `execution` package but is public and the
    * stable carrier of exactly this contract.
    *
    * The constructor validates option combinations eagerly (e.g.
    * partitionColumn without bounds) — acceptable here because the
    * WRITE path constructs `JdbcOptionsInWrite` (a subclass) from the
    * same props and applies the SAME validation, so any props map that
    * reaches a repair has already survived an append. `lazy val`: one
    * construction per sink, not one per replayed batch. */
  private[graft] lazy val jdbcProps: java.util.Properties =
    new org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions(
      url, table, props).asConnectionProperties

  /** Table-does-not-exist, by SQLState, across the whole cause chain
    * (drivers often wrap): Derby 42X05, Postgres 42P01, SQL-standard
    * base table not found 42S02 (MySQL/H2). */
  private def isMissingTable(e: java.sql.SQLException): Boolean = {
    val states = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).take(8)
      .collect { case s: java.sql.SQLException => s.getSQLState }
    states.exists(s => s == "42X05" || s == "42P01" || s == "42S02")
  }

  def start(df: DataFrame): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(writeBatch _)
      .start()
}
