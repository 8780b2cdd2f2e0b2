package graft

import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
import org.apache.spark.sql.functions._

/** The three reader-visible guarantees of the snapshot seam (src11):
  * atomic publish, time travel, file-level reuse across versions. */
class SnapshotCatalogSpec extends SparkTestBase {

  test("src11: commits are atomic, v1 survives the v2 commit, v2 reuses v1's files") {
    val root = graft.streaming.Streams.dataDir("graft_snapspec_")
    val spark2 = spark
    import spark2.implicits._

    val v1Files = SnapshotCatalog.writeData(
      (1L to 100L).toDF("id"), root, "batch1")
    assert(SnapshotCatalog.commit(root, v1Files) == 1)
    val v1Before = SnapshotCatalog.readSnapshot(spark, root, Some(1))
      .agg(count(lit(1)), sum("id")).head()

    val v2New = SnapshotCatalog.writeData(
      (101L to 150L).toDF("id"), root, "batch2")
    assert(SnapshotCatalog.commit(root, v1Files ++ v2New) == 2)

    // time travel: v1 is row-identical after the v2 commit
    val v1After = SnapshotCatalog.readSnapshot(spark, root, Some(1))
      .agg(count(lit(1)), sum("id")).head()
    assert(v1Before == v1After, "v1 snapshot changed under a v2 commit")
    assert(v1After.getLong(0) == 100L && v1After.getLong(1) == 5050L)

    // pointer resolves to v2; v2 = v1 ∪ batch2
    assert(SnapshotCatalog.latestVersion(root) == 2)
    val v2 = SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1)), sum("id")).head()
    assert(v2.getLong(0) == 150L && v2.getLong(1) == 150L * 151L / 2)

    // file-level reuse: v2's manifest lists every v1 data file verbatim
    val m2 = SnapshotCatalog.manifestFiles(root, 2).toSet
    assert(v1Files.toSet.subsetOf(m2), "v2 manifest dropped v1 data files")
    assert(m2.size == v1Files.size + v2New.size)

    // atomicity residue: no tmp files survive a commit
    val leftovers = Option(new java.io.File(s"$root/manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"tmp files leaked: ${leftovers.mkString(", ")}")

    // v1's data files themselves were never rewritten by the v2 commit
    assert(SnapshotCatalog.listDataFiles(s"$root/data/batch1") == v1Files,
      "batch1's immutable data files changed")
  }

  test("two racing committers both succeed on consecutive versions; neither's files are lost") {
    val root = graft.streaming.Streams.dataDir("graft_snapcas_")
    val spark2 = spark
    import spark2.implicits._
    val base = SnapshotCatalog.writeData((1L to 10L).toDF("id"), root, "base")
    assert(SnapshotCatalog.commit(root, base) == 1)
    // two appenders race from the same observed state; commitRetry must
    // CAS one to v2 and re-apply the other at v3 WITH v2's files kept
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val fa = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        val f = SnapshotCatalog.writeData((11L to 20L).toDF("id"), root, "a")
        barrier.await()
        SnapshotCatalog.commitRetry(root)(prev => (prev ++ f).distinct.sorted)
      }
    })
    val fb = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        val f = SnapshotCatalog.writeData((21L to 30L).toDF("id"), root, "b")
        barrier.await()
        SnapshotCatalog.commitRetry(root)(prev => (prev ++ f).distinct.sorted)
      }
    })
    val (va, vb) = (fa.get(), fb.get())
    pool.shutdown()
    assert(Set(va, vb) == Set(2, 3), s"expected versions {2,3}, got {$va,$vb}")
    // the later committer re-read the earlier one's manifest: no lost update
    val r = SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1)), sum("id")).head()
    assert(r.getLong(0) == 30L && r.getLong(1) == 30L * 31L / 2,
      "a racing append lost the other committer's files")
  }

  test("replayed batch: data not rewritten, no new version, time travel intact") {
    val root = graft.streaming.Streams.dataDir("graft_snapreplay_")
    val spark2 = spark
    import spark2.implicits._
    assert(SnapshotCatalog.append((1L to 50L).toDF("id"), root, "b0") == 1)
    val v1Files = SnapshotCatalog.manifestFiles(root, 1)
    assert(SnapshotCatalog.append((51L to 80L).toDF("id"), root, "b1") == 2)
    // a compaction replaces the live content — b0/b1 files now live only
    // in the time-travel manifests v1/v2
    val folded = SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1)).as("n"), sum("id").as("s"))
    assert(SnapshotCatalog.replace(folded, root, "c0") == 3)
    // an at-least-once redelivery of batch b0 AFTER the compaction:
    // the batch is committed (v1/v2 reference it) → nothing is
    // rewritten, no version is added, and v1 still reads byte-identical
    val vAfter = SnapshotCatalog.append(
      (1000L to 1010L).toDF("id"), root, "b0") // wrong data on purpose:
    // a real redelivery re-sends the same rows; sending different ones
    // proves the skip is by BATCH ID, not by content comparison
    assert(vAfter == 3, "a replayed batch committed a new version")
    assert(SnapshotCatalog.manifestFiles(root, 1) == v1Files)
    val v1 = SnapshotCatalog.readSnapshot(spark, root, Some(1))
      .agg(count(lit(1)), sum("id")).head()
    assert(v1.getLong(0) == 50L && v1.getLong(1) == 50L * 51L / 2,
      "time travel to v1 broken after a replay")

    // change-feed semantics at the edges: the first delta is v1's whole
    // manifest, an append delta is the appended batch's files — and a
    // poll interval CROSSING a replace/compaction FAILS LOUDLY instead
    // of serving the rewritten files as "added" (which would double-
    // count every surviving row): the consumer must snapshot-re-read
    // or switch to a row-level changelog (the q75 CDC tier)
    assert(SnapshotCatalog.addedFiles(root, None, 1).toSet ==
      SnapshotCatalog.manifestFiles(root, 1).toSet)
    assert(SnapshotCatalog.addedFiles(root, Some(1), 2).toSet ==
      (SnapshotCatalog.manifestFiles(root, 2).toSet --
       SnapshotCatalog.manifestFiles(root, 1).toSet))
    val crossed = intercept[IllegalStateException] {
      SnapshotCatalog.addedFiles(root, Some(2), 3)
    }
    assert(crossed.getMessage.contains("replace"),
      s"refusal must name the replace crossing: ${crossed.getMessage}")
    // ... and the same refusal when the interval SPANS the replace
    // (v1 -> v3), not just when it ends on it
    intercept[IllegalStateException] {
      SnapshotCatalog.addedFiles(root, Some(1), 3)
    }
    ()
  }

  test("expire keeps the last N versions and GCs exactly the unreferenced files") {
    val root = graft.streaming.Streams.dataDir("graft_snapexpire_")
    val spark2 = spark
    import spark2.implicits._
    assert(SnapshotCatalog.append((1L to 40L).toDF("id"), root, "b0") == 1)
    assert(SnapshotCatalog.append((41L to 60L).toDF("id"), root, "b1") == 2)
    val live = SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1)).as("n"), sum("id").as("s")).head()
    assert(SnapshotCatalog.replace(
      SnapshotCatalog.readSnapshot(spark, root).repartition(1),
      root, "compact0") == 3)
    val deadFiles = (SnapshotCatalog.manifestFiles(root, 1) ++
      SnapshotCatalog.manifestFiles(root, 2)).distinct
    val (nManifests, nFiles) = SnapshotCatalog.expire(root, keepLast = 1)
    assert(nManifests == 2, s"expected 2 expired manifests, got $nManifests")
    assert(nFiles == deadFiles.size, s"expected ${deadFiles.size} GC'd files, got $nFiles")
    assert(SnapshotCatalog.versions(root) == Seq(3))
    val after = SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1)).as("n"), sum("id").as("s")).head()
    assert(after == live, "expire changed the live snapshot's content")
    deadFiles.foreach { f =>
      assert(!new java.io.File(new java.net.URI(
        if (f.startsWith("file:")) f else s"file://$f")).exists(),
        s"GC left dead file $f")
    }
    // idempotent: a second expire finds nothing
    assert(SnapshotCatalog.expire(root, keepLast = 1) == ((0, 0)))
  }

  test("stats skipping prunes disjoint ranges; files without stats are conservatively read") {
    val root = graft.streaming.Streams.dataDir("graft_snapskip_")
    val spark2 = spark
    import spark2.implicits._
    // b0 [1..50] WITH footer-derived stats; b1 [51..100] WITHOUT
    val f0 = SnapshotCatalog.writeData((1L to 50L).toDF("id").repartition(2), root, "b0")
    SnapshotCatalog.writeColumnStats(root, "b0", "id", f0)
    SnapshotCatalog.commitRetry(root)(prev => (prev ++ f0).distinct.sorted)
    val f1 = SnapshotCatalog.writeData((51L to 100L).toDF("id").repartition(2), root, "b1")
    SnapshotCatalog.commitRetry(root)(prev => (prev ++ f1).distinct.sorted)

    def rangeAgg(d: org.apache.spark.sql.DataFrame, lo: Long, hi: Long) =
      d.where(col("id").between(lo, hi)).agg(count(lit(1)), sum("id"))
    def pruned(lo: Long, hi: Long) = SnapshotFileIndex.collectScanned(
      rangeAgg(SnapshotCatalog.readSnapshot(spark, root), lo, hi), root)
    // range fully inside b1: b0's files SKIP (their stats exclude it),
    // b1's are read despite having no stats — never skipped blind
    val (Array(got), nRead, nTotal) = pruned(60L, 70L)
    assert(nTotal == f0.size + f1.size)
    assert(nRead == f1.size, s"expected only b1's ${f1.size} files, read $nRead")
    assert(got.getLong(0) == 11L && got.getLong(1) == (60L to 70L).sum)

    // range inside b0: its stats ADMIT the intersecting files; b1 is
    // still read (no stats), so the read set is b1 + b0's overlap
    val (Array(got2), nRead2, _) = pruned(1L, 10L)
    assert(nRead2 > f1.size && nRead2 <= nTotal)
    assert(got2.getLong(0) == 10L && got2.getLong(1) == 55L)
    // skipping kept every matching row: a scan of every file agrees
    val unpruned = SnapshotFileIndex.unprunedDF(spark, root)
    assert(got == rangeAgg(unpruned, 60L, 70L).head() &&
      got2 == rangeAgg(unpruned, 1L, 10L).head())
  }

  test("sweepOrphans removes only aged uncommitted batches; young and committed files survive") {
    val root = graft.streaming.Streams.dataDir("graft_snaporphan_")
    val spark2 = spark
    import spark2.implicits._
    assert(SnapshotCatalog.append((1L to 30L).toDF("id"), root, "b0") == 1)
    // a crashed writer: data staged, commit never happened
    val orphanOld = SnapshotCatalog.writeData((31L to 40L).toDF("id"), root, "crashed_old")
    assert(orphanOld.nonEmpty && !SnapshotCatalog.isBatchCommitted(root, "crashed_old"))
    // age the orphan past any grace window
    new java.io.File(orphanOld.head.replaceFirst("^file:", "")).getParentFile
      .listFiles().foreach(_.setLastModified(System.currentTimeMillis() - 86400000L))
    // an IN-FLIGHT writer: staged seconds ago, commit pending
    val orphanYoung = SnapshotCatalog.writeData((41L to 50L).toDF("id"), root, "inflight")
    val removed = SnapshotCatalog.sweepOrphans(root, graceMs = 3600000L)
    assert(removed == orphanOld.size, s"expected ${orphanOld.size} swept, got $removed")
    // the aged orphan's dir is gone; the young one is intact; the table reads
    assert(!new java.io.File(s"$root/data/crashed_old").exists(),
      "aged crashed batch dir not removed")
    assert(SnapshotCatalog.listDataFiles(s"$root/data/inflight") == orphanYoung,
      "sweep touched an in-flight (young) batch")
    val r = SnapshotCatalog.readSnapshot(spark, root).agg(count(lit(1)), sum("id")).head()
    assert(r.getLong(0) == 30L && r.getLong(1) == 30L * 31L / 2,
      "sweep damaged committed data")
  }

  test("st36: one committed version per batch; audits hold; latest ≡ staged table") {
    val r = SparkEntry.queries("st36_stream_snapshot_publish")(spark, sfDir).head()
    assert(r.getLong(2) == 4L, s"expected 4 versions (4 staged files), got ${r.getLong(2)}")
    assert(r.getBoolean(3), "a manifest dropped its predecessor's files")
    assert(r.getBoolean(4), "v1 unreadable after the stream ended")
    val ev = graft.core.Tables(spark, sfDir).events
    assert(r.getLong(0) == ev.count(), "latest snapshot lost or duplicated rows")
  }

  test("q89: fences derive from the emitted quartiles; outlier counts recount exactly") {
    val r = SparkEntry.queries("q89_iqr_outliers")(spark, sfDir).collect()
    val ev = graft.core.Tables(spark, sfDir).events
      .select(col("event_type"),
        graft.functions.Canon.cents(col("value")).as("cents"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(r.nonEmpty)
    r.foreach { row =>
      val (tpe, n, q1, q3) =
        (row.getString(0), row.getLong(1), row.getLong(2), row.getLong(3))
      val vals = ev.filter(_._1 == tpe).map(_._2).sorted
      assert(n == vals.length)
      // nearest-rank quartiles, recomputed independently
      assert(q1 == vals(((vals.length + 3) / 4 - 1).toInt), s"$tpe q1 mismatch")
      assert(q3 == vals(((3 * vals.length + 3) / 4 - 1).toInt), s"$tpe q3 mismatch")
      val (lo, hi) = (q1 - 3 * (q3 - q1), q3 + 3 * (q3 - q1))
      assert(row.getLong(4) == vals.count(v => v < lo || v > hi).toLong,
        s"$tpe outlier count mismatch")
    }
  }

  test("src12: COW merge removes rows in v2 while v1 stays intact; file accounting holds") {
    val r = SparkEntry.queries("src12_snapshot_merge")(spark, sfDir).collect()
      .sortBy(_.getLong(0))
    assert(r.length == 2)
    val (v1, v2) = (r(0), r(1))
    assert(v1.getLong(1) > v2.getLong(1), "the correction removed no rows")
    assert(v1.getLong(2) == v2.getLong(2), "the correction dropped a whole day")
    assert(v1.getBoolean(4) && v2.getBoolean(4),
      "copy-on-write file accounting violated")
  }

  test("s24: MMR greedy invariants — top-1 first, monotone scores, picks from the candidate pool") {
    val r = SparkEntry.queries("s24_mmr_diversify")(spark, sfDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(r.map(_._2).distinct.length == 5, "a result id repeated")
    // the first pick is the exact top-1 (empty selected set → pure relevance)
    val emb = graft.core.Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val top1 = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .select(col("vec_id"),
        graft.functions.CosineSim.cosineFast(col("v"), col("qv")).as("s"))
      .orderBy(col("s").desc, col("vec_id").asc).limit(1)
      .head().getLong(0)
    assert(r.head._2 == top1, "MMR's first pick is not the exact top-1")
    // greedy MMR scores are monotone non-increasing (each round's winner
    // beat the next round's winner at the earlier, lower-penalty state)
    r.map(_._3).sliding(2).foreach { p =>
      assert(p(0) >= p(1), s"MMR scores not monotone: ${r.map(_._3).toSeq}")
    }
  }

  test("s23: RRF fusion arithmetic, ordering, and candidate hygiene") {
    val r = SparkEntry.queries("s23_hybrid_rrf")(spark, sfDir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.nonEmpty && r.length <= 5)
    // the query doc never retrieves itself
    assert(r.forall(_._1 != 0L), "query doc surfaced in its own results")
    // rrf_e6 is exactly the integer fusion of the emitted ranks
    r.foreach { case (id, lr, vr, rrf) =>
      assert(lr >= 0 && lr <= 10 && vr >= 0 && vr <= 10)
      assert(lr > 0 || vr > 0, s"doc $id in the fused list with no rank")
      val expected = (if (lr > 0) 1000000L / (60 + lr) else 0L) +
                     (if (vr > 0) 1000000L / (60 + vr) else 0L)
      assert(rrf == expected, s"doc $id rrf=$rrf expected=$expected")
    }
    // emitted in fused order with the doc_id tie-break
    assert(r.map(x => (-x._4, x._1)).sameElements(r.map(x => (-x._4, x._1)).sorted),
      "fused list is not ordered by (rrf desc, doc_id)")
  }
}
