package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The one size-gated broadcast rule, for every join whose build side
  * the engine sizes itself: the st21/st26 index probes, gr01, d11, d19
  * and the verifiedPairs verify joins. (Deletion vectors join nothing:
  * their scan tasks read their own positions; the gate's size is only
  * [[graft.sources.SnapshotCatalog.maintainIfNeeded]]'s default DV-bytes
  * trigger.)
  *   - Ceiling: the session's `spark.sql.autoBroadcastJoinThreshold`
  *     (64 MB under [[GraftSession]]); a negative one disables gated
  *     broadcasts too.
  *   - Estimate: [[ExpansionFactor]] × measured bytes — the on-disk
  *     bytes of the files the side reads, or [[rowBytes]] for a frame
  *     held in memory. Never the optimizer's plan statistics: a ×100
  *     stress corpus produced label and verify tables whose estimate
  *     sat under the threshold while the actual hashed-relation build
  *     blew the driver.
  *   - Plan: under the ceiling the side is broadcast; past it the side
  *     is merge-hinted, so the join shuffles instead of falling back to
  *     Spark's estimate-driven auto-broadcast. */
object BroadcastGate {

  /** Compressed parquet bytes rebuilt as a hashed relation expand
    * several-fold (object headers, 2-byte chars, load factor). ×8 is
    * deliberately pessimistic: past the gate the only cost is a
    * shuffled join, which is output-identical. */
  val ExpansionFactor = 8L

  def fits(spark: SparkSession, measuredBytes: Long): Boolean = {
    val ceiling = spark.sessionState.conf.autoBroadcastJoinThreshold
    ceiling >= 0 && measuredBytes <= ceiling / ExpansionFactor
  }

  def shape(side: DataFrame, fits: Boolean): DataFrame =
    if (fits) broadcast(side) else side.hint("merge")

  def apply(side: DataFrame, measuredBytes: Long): DataFrame =
    shape(side, fits(side.sparkSession, measuredBytes))

  /** A collected or `localCheckpoint`ed frame: rows × default row size. */
  def rowBytes(df: DataFrame): Long = df.count() * df.schema.defaultSize

  /** A persisted artifact: a catalog table's LIVE files only (superseded
    * generations awaiting expiry must not count), else every file under
    * `dir`, recursively (partitioned or bucketed layouts nest them). */
  def dirBytes(dir: String): Long =
    if (graft.sources.SnapshotCatalog.isTable(dir))
      graft.sources.SnapshotCatalog.liveDataBytes(dir)
    else {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(dir))
    }

  /** The files `df` scans. */
  def inputBytes(df: DataFrame): Long = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }
}
