package graft

import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
import org.apache.spark.sql.functions._

/** A local filesystem that COUNTS metadata RPCs — the observable for
  * the "planning is O(metadata read), not O(files)" contract. Hadoop
  * instantiates it by class name for the `countfs:` scheme; it behaves
  * exactly like the local FS otherwise. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import CountingLocalFileSystem._
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  // RawLocalFileSystem implements listStatus as one getFileStatus per
  // CHILD — on a real namenode/object store a directory listing is ONE
  // RPC, so child probes made inside a listing must not count as
  // per-file round-trips
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    if (!inListing.get()) statusCalls.incrementAndGet()
    super.getFileStatus(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    openCalls.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    listCalls.incrementAndGet()
    inListing.set(true)
    try super.listStatus(f) finally inListing.set(false)
  }
}

object CountingLocalFileSystem {
  val inListing = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  val statusCalls = new java.util.concurrent.atomic.AtomicLong()
  val openCalls = new java.util.concurrent.atomic.AtomicLong()
  val listCalls = new java.util.concurrent.atomic.AtomicLong()
  def reset(): Unit = { statusCalls.set(0); openCalls.set(0); listCalls.set(0) }
}

/** The round-15 planning/maintenance tier: O(metadata) planning proven
  * by RPC counting, the threshold-driven OPTIMIZE decision, and the
  * row-level change feed derived from the delta log + deletion
  * vectors. */
class CatalogPlanningSpec extends SparkTestBase {

  test("planning RPCs are flat in file count: the index reads the log, never per-file getFileStatus/footers") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFileSystem].getName)
    val spark2 = spark
    import spark2.implicits._
    def build(nBatches: Int): String = {
      val root = "countfs:" + graft.streaming.Streams.dataDir("graft_rpc_")
      (0 until nBatches).foreach { b =>
        val lo = b * 10L + 1L
        SnapshotCatalog.append((lo to lo + 9L).toDF("id").coalesce(1),
          root, s"b$b")
      }
      root
    }
    // the same selective probe at both scales keeps the EXECUTED read
    // constant (1 file), so any growth in RPCs is planning-side
    def rpcs(root: String): (Long, Long) = {
      CountingLocalFileSystem.reset()
      val df = SnapshotFileIndex.snapshotDF(spark, root)
        .filter(col("id") === 5L)
      assert(df.count() == 1L)
      (CountingLocalFileSystem.statusCalls.get(),
        CountingLocalFileSystem.openCalls.get())
    }
    val small = build(6)   //  6 files,  6 commits, no checkpoint yet
    val big = build(24)    // 24 files, 3 checkpoints — resolution is 1 cp
    val (stS, opS) = rpcs(small)
    val (stB, opB) = rpcs(big)
    // 4× the files must NOT mean 4× the metadata RPCs: resolution is
    // newest-checkpoint + ≤8 deltas regardless of table size, statuses
    // synthesize from log-carried sizes, stats ride the same lines
    assert(stB <= stS + 8,
      s"getFileStatus grew with file count: $stS -> $stB (planning is O(files))")
    assert(opB <= opS + 8,
      s"open() grew with file count: $opS -> $opB (planning re-reads per-file state)")
    assert(stB < 24, s"getFileStatus ($stB) ~ file count (24): per-file probing")
  }

  test("log-shape hints: reads and appends on a warm table issue ZERO directory listings, flat in version count") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFileSystem].getName)
    val spark2 = spark
    import spark2.implicits._
    def build(n: Int): String = {
      val root = "countfs:" + graft.streaming.Streams.dataDir("graft_lists_")
      (0 until n).foreach(b => SnapshotCatalog.append(
        Seq(b.toLong).toDF("id").coalesce(1), root, s"b$b"))
      root
    }
    val small = build(6)
    val big = build(60) // 60 commits + 7 checkpoints in the log dir
    def listingsFor(root: String): (Long, Long) = {
      // warm the hint with one untimed read
      SnapshotFileIndex.snapshotDF(spark, root).count()
      CountingLocalFileSystem.reset()
      assert(SnapshotFileIndex.snapshotDF(spark, root)
        .filter(col("id") >= 0L).count() > 0L)
      val read = CountingLocalFileSystem.listCalls.get()
      CountingLocalFileSystem.reset()
      SnapshotCatalog.append(Seq(999999L).toDF("id").coalesce(1), root,
        "warmprobe")
      val append = CountingLocalFileSystem.listCalls.get()
      (read, append)
    }
    val (rS, aS) = listingsFor(small)
    val (rB, aB) = listingsFor(big)
    // a warm READ resolves latest + checkpoint + deltas from validated
    // hints: zero manifest-dir listings at either size
    assert(rS == 0 && rB == 0,
      s"warm reads listed the manifest dir ($rS / $rB times) — the " +
        "O(versions) listing is back on the hot path")
    // an append stages data (its own dir IO) but its commit path must
    // not relist the manifest dir per CAS attempt — and crucially the
    // count must be FLAT in version count (60 commits vs 6)
    assert(aB <= aS,
      s"append listings grew with version count: $aS -> $aB")
    // a COLD reader (fresh process) pays exactly one listing to seed
    // the hint, not one per resolution step
    SnapshotCatalog.dropCaches()
    CountingLocalFileSystem.reset()
    assert(SnapshotFileIndex.snapshotDF(spark, big).count() > 0L)
    val cold = CountingLocalFileSystem.listCalls.get()
    assert(cold <= 2, s"cold read listed the manifest dir $cold times")
  }

  test("maintainIfNeeded: thresholds decide from log metadata; a fired compaction resets DVs; under-threshold is a no-op") {
    val root = graft.streaming.Streams.dataDir("graft_maint_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 40L).toDF("id").coalesce(1), root, "b0")
    SnapshotCatalog.append((41L to 80L).toDF("id").coalesce(1), root, "b1")
    // under every threshold: no-op, no version committed
    val v0 = SnapshotCatalog.latestVersion(root)
    assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c0",
      maxLiveFiles = 3).isEmpty)
    assert(SnapshotCatalog.latestVersion(root) == v0, "a no-op decision committed")
    // sparse deletes stay under the deleted-fraction bound
    SnapshotCatalog.deleteWhere(spark, root, col("id") % 10 === 0) // 8 of 80
    assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c1",
      maxDeletedFrac = 0.5).isEmpty)
    // cross it: 45 of 80 rows deleted -> fraction 0.5625 > 0.5
    SnapshotCatalog.deleteWhere(spark, root,
      col("id") % 2 === 0 || col("id") <= 9)
    val vBefore = SnapshotCatalog.latestVersion(root)
    val fired = SnapshotCatalog.maintainIfNeeded(spark, root, "c2",
      maxDeletedFrac = 0.5)
    assert(fired.contains(vBefore + 1), s"expected ONE compacting commit, got $fired")
    // the compaction applied the deletes physically and RESET the DVs
    assert(SnapshotCatalog.dvFiles(root, fired.get).isEmpty,
      "compaction left deletion vectors in effect")
    assert(SnapshotCatalog.history(root).last._2 == "replace")
    val left = SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1))).head().getLong(0)
    assert(left == 35L, s"compacted content wrong: $left rows (want 80-45)")
    // quiesced: the next decision is a no-op again
    assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c3",
      maxDeletedFrac = 0.5, maxLiveFiles = 3).isEmpty)
    // the DV-BYTES trigger (the serve-side broadcast gate): any DV at
    // a 1-byte ceiling fires exactly one compaction
    SnapshotCatalog.deleteWhere(spark, root, col("id") === 15L)
    val v2 = SnapshotCatalog.latestVersion(root)
    val fired2 = SnapshotCatalog.maintainIfNeeded(spark, root, "c4",
      maxDvBytes = Some(1L))
    assert(fired2.contains(v2 + 1) &&
      SnapshotCatalog.dvFiles(root, fired2.get).isEmpty)
    // the FILE-COUNT trigger (ingest litter): 3 more appends cross 3
    (0 until 3).foreach { i =>
      SnapshotCatalog.append((200L + i).to(200L + i).toDF("id").coalesce(1),
        root, s"t$i")
    }
    val v3 = SnapshotCatalog.latestVersion(root)
    val fired3 = SnapshotCatalog.maintainIfNeeded(spark, root, "c5",
      maxLiveFiles = 3, compactTo = 1)
    assert(fired3.contains(v3 + 1))
    assert(SnapshotCatalog.manifestFiles(root, fired3.get).size == 1)
  }

  test("maintainIfNeeded(clusterBy): the fired compaction comes out range-clustered — the planning index cuts files afterwards") {
    val root = graft.streaming.Streams.dataDir("graft_maintcl_")
    val spark2 = spark
    import spark2.implicits._
    // ingest litter: ids shuffled across 4 batches, every file spans
    // ~the full id range, so BEFORE compaction a range predicate keeps
    // every file
    val rnd = new scala.util.Random(7)
    val shuffled = rnd.shuffle((1L to 400L).toVector)
    shuffled.grouped(100).zipWithIndex.foreach { case (g, i) =>
      SnapshotCatalog.append(g.toDF("id").coalesce(1), root, s"b$i")
    }
    def cutFor(lo: Long, hi: Long): Long = {
      val q = SnapshotFileIndex.snapshotDF(spark, root)
        .filter(col("id").between(lo, hi)).agg(count(lit(1)))
      assert(q.collect().head.getLong(0) == hi - lo + 1)
      SnapshotFileIndex.scannedFiles(q)
    }
    assert(cutFor(1L, 100L) == 4L, "shuffled litter should defeat skipping")
    // threshold OPTIMIZE with clustering: one commit, tight new stats
    val fired = SnapshotCatalog.maintainIfNeeded(spark, root, "c0",
      maxLiveFiles = 3, compactTo = 4, clusterBy = Seq("id"))
    assert(fired.isDefined)
    assert(SnapshotCatalog.manifestFiles(root, fired.get).size == 4)
    assert(cutFor(1L, 100L) == 1L,
      "clustered compaction did not tighten the per-file ranges")
  }

  test("replacePartitions: one commit swaps exactly the touched partition's files; untouched files reused; feed refuses") {
    val root = graft.streaming.Streams.dataDir("graft_povr_")
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 30L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt)))
      .toDF("id", "p")
    SnapshotCatalog.append(df.coalesce(1), root, "b0", partitionBy = Seq("p"))
    val v1 = SnapshotCatalog.latestVersion(root)
    val before = SnapshotCatalog.manifestFiles(root, v1)
    // the row-level feed reconstructs the partition column from the
    // file paths (partitioned data files don't contain it)
    val feed0 = SnapshotCatalog.changeFeedRows(spark, root, 0, v1)
    assert(feed0.filter(col("p") === "a").count() == 10L,
      "feed lost the partition column on a partitioned table")
    // restate partition a: its ids shift by 1000
    val (v2, nTouched) = SnapshotCatalog.replacePartitions(spark, root,
      df.filter(col("p") === "a").withColumn("id", col("id") + 1000L)
        .coalesce(1), "fix0")
    assert(nTouched == 1 && v2 == v1 + 1)
    val after = SnapshotCatalog.manifestFiles(root, v2)
    // untouched partitions keep their VERY files; a's are all new
    assert(before.filterNot(_.contains("p=a")).toSet ==
      after.filterNot(_.contains("p=a")).toSet,
      "an untouched partition's files changed")
    assert(after.filter(_.contains("p=a"))
      .forall(!before.contains(_)), "a replaced file survived")
    // content: a restated, b/c untouched, v1 time-travels to the original
    val live = SnapshotCatalog.readSnapshot(spark, root)
    assert(live.filter(col("p") === "a").agg(min("id")).head().getLong(0) > 1000L)
    assert(live.filter(col("p") =!= "a").count() == 20L)
    assert(SnapshotCatalog.readSnapshot(spark, root, Some(v1))
      .filter(col("p") === "a").agg(max("id")).head().getLong(0) <= 30L,
      "time travel lost the pre-correction partition")
    // the rewrite refuses row-level derivation, like any replace
    intercept[IllegalStateException] {
      SnapshotCatalog.changeFeedRows(spark, root, v1, v2)
    }
    assert(SnapshotCatalog.history(root).last._2 == "replace")
    // retractions carry the partition column too
    val (v3, nd) = SnapshotCatalog.deleteWhere(spark, root, col("id") === 1003L)
    assert(nd == 1L)
    val feed3 = SnapshotCatalog.changeFeedRows(spark, root, v2, v3)
      .filter(col("_change_type") === "delete").select("id", "p").collect()
    assert(feed3.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1003L, "a")), "retraction lost the partition column")
    // an unpartitioned table refuses the op outright
    val flat = graft.streaming.Streams.dataDir("graft_povrflat_")
    SnapshotCatalog.append((1L to 5L).toDF("id").coalesce(1), flat, "b0")
    intercept[RuntimeException] {
      SnapshotCatalog.replacePartitions(spark, flat, (1L to 5L).toDF("id"), "x")
    }
  }

  test("changeFeedRows: inserts and retractions from the log; a merge emits both; a rewrite refuses; expiry bounds the horizon") {
    val root = graft.streaming.Streams.dataDir("graft_cdcrows_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(
      (1L to 10L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), root, "b0")
    SnapshotCatalog.append(
      (11L to 20L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), root, "b1")
    SnapshotCatalog.deleteWhere(spark, root, col("id") % 2 === 0) // v3
    SnapshotCatalog.mergeOnRead(spark, root,
      Seq((1L, 999L), (3L, 999L)).toDF("id", "v"), Seq("id"), "u0") // v4
    // appends: inserts only
    val f12 = SnapshotCatalog.changeFeedRows(spark, root, 0, 2)
    assert(f12.filter(col("_change_type") === "insert").count() == 20L)
    assert(f12.filter(col("_change_type") === "delete").count() == 0L)
    // the DV commit: RETRACTIONS carry the full deleted rows
    val f3 = SnapshotCatalog.changeFeedRows(spark, root, 2, 3)
    val dels = f3.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dels == (2L to 20L by 2L).toSet, s"retracted rows wrong: $dels")
    assert(f3.filter(col("_change_type") === "insert").count() == 0L)
    // the merge commit: upserts as inserts AND superseded rows as
    // deletes, both stamped with the SAME version
    val f4 = SnapshotCatalog.changeFeedRows(spark, root, 3, 4)
    val ins4 = f4.filter(col("_change_type") === "insert")
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val del4 = f4.filter(col("_change_type") === "delete")
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ins4 == Set((1L, 999L), (3L, 999L)))
    assert(del4 == Set((1L, 10L), (3L, 30L)))
    assert(f4.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
    // folding the whole feed reproduces the snapshot exactly
    val all = SnapshotCatalog.changeFeedRows(spark, root, 0, 4)
    val folded = all.groupBy("id", "v")
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("n"))
      .filter(col("n") > 0).select("id", "v")
    val snap = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
      .select("id", "v")
    assert(folded.except(snap).isEmpty && snap.except(folded).isEmpty,
      "CDC fold diverged from the snapshot")
    // a rewrite refuses row-level derivation
    SnapshotCatalog.replace(
      SnapshotCatalog.readSnapshotWithDeletes(spark, root).coalesce(1),
      root, "c0") // v5
    intercept[IllegalStateException] {
      SnapshotCatalog.changeFeedRows(spark, root, 4, 5)
    }
    // expired horizon refuses instead of serving a partial feed
    SnapshotCatalog.expire(root, keepLast = 1)
    intercept[IllegalStateException] {
      SnapshotCatalog.changeFeedRows(spark, root, 0, 5)
    }
  }
}
