package graft.perfbench

import graft.core.Tables
import graft.dedup.DedupQueries
import graft.functions.{CosineSim, HammingDistance, RollingHashMin, ZOrder}
import graft.ml.MlpScorer
import graft.multimodal.ImageCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Expression- and UDF-layer kernels timed as projections over the run's
  * own generated inputs: each kernel alone over a cached input, forced
  * through the `noop` sink, median of three timings after a warm-up. */
object Kernels {
  /** Input rows per kernel timing: the generated tables are replicated to
    * this size so the per-job fixed cost stays a small share. */
  private val targetRows = 20000L

  private def replicate(df: DataFrame): DataFrame = {
    val k = math.max(1L, targetRows / math.max(1L, df.count()))
    df.crossJoin(df.sparkSession.range(k).toDF("__copy")).drop("__copy")
      .repartition(df.sparkSession.sparkContext.defaultParallelism).cache()
  }

  private def timeNoop(df: DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val ts = Seq.fill(3)(once()).sorted
    ts(1)
  }

  /** kernel name → (input rows, rows per second per core). */
  def measure(spark: SparkSession, dataDir: String, cores: Int): Map[String, (Long, Double)] = {
    import spark.implicits._
    val t = Tables(spark, dataDir)
    val docs = replicate(t.documents.select("doc_id", "text"))
    val emb = replicate(t.embeddings.select("embedding"))
    val events = replicate(t.events.select("user_id", "event_id"))
    val pngs = t.documents.select("doc_id").as[Long]
      .map(id => ImageCodec.encodePng(id)).toDF("png")
    val pngIn = replicate(pngs)
    val nDocs = docs.count(); val nEmb = emb.count(); val nEv = events.count(); val nPng = pngIn.count()
    val words = split(col("text"), " ")
    val probe = emb.select("embedding").head().getSeq[Float](0).map(_.toDouble)
    // every kernel column is aliased: naming an unaliased expression
    // rewrites its literal width argument, which ShingleArray rejects
    val cases: Seq[(String, Long, DataFrame)] = Seq(
      ("ShingleArray", nDocs, docs.select(DedupQueries.shingles(col("text")).as("k"))),
      ("ChunkArray", nDocs, docs.select(DedupQueries.chunkArray(words).as("k"))),
      ("NGrams", nDocs, docs.select(DedupQueries.shingleRows(col("text")).as("k"))),
      ("RollingHashMin", nDocs, docs.select(RollingHashMin.rollingHashMin(col("text"), 8).as("k"))),
      ("HammingDistance", nDocs, docs.select(HammingDistance.hammingDist(col("text"), reverse(col("text"))).as("k"))),
      ("CosineSim", nEmb, emb.select(CosineSim.cosineFast(col("embedding"), typedLit(probe)).as("k"))),
      ("ZOrder", nEv, events.select(ZOrder.zorder(col("user_id"), col("event_id")).as("k"))),
      ("png_decode", nPng, pngIn.select("png").as[Array[Byte]]
        .map(b => ImageCodec.decodeChannelSums(b)._1).toDF()),
      ("mlp_score", nDocs, docs.select("text").as[String]
        .mapPartitions { it => val s = new MlpScorer(); it.map(x => s.score(x)(0)) }.toDF()))
    val out = cases.map { case (name, n, df) => name -> (n, n / (timeNoop(df) * cores)) }.toMap
    Seq(docs, emb, events, pngIn).foreach(_.unpersist(blocking = true))
    out
  }
}
