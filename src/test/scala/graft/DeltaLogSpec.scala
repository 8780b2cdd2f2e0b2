package graft

import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The round-14 metadata-tier guarantees of the snapshot catalog:
  * O(delta) commits resolved through checkpoints, cross-PROCESS commit
  * exclusivity (two drivers racing on one table), retention-windowed
  * expiry, typed (timestamp/string) file-stats skipping, and the
  * orphan sweep's concurrent-writer contract. */
class DeltaLogSpec extends SparkTestBase {

  test("delta log: commits are O(delta) bytes; checkpoints bound resolution; expiry keeps the floor resolvable") {
    val root = graft.streaming.Streams.dataDir("graft_deltalog_")
    val spark2 = spark
    import spark2.implicits._
    // a 20-batch ingest stream (st36's shape): every commit must record
    // only ITS batch's files, never the table's full list
    (0 until 20).foreach { b =>
      val lo = b * 10L + 1L
      SnapshotCatalog.append(((lo to lo + 9L)).toDF("id").coalesce(1), root, s"b$b")
    }
    assert(SnapshotCatalog.latestVersion(root) == 20)
    val all = SnapshotCatalog.manifestFiles(root, 20)
    assert(all.size == 20, s"expected 20 one-file batches, got ${all.size}")
    // O(delta) manifest bytes: the 20th commit records ITS one file
    // (path + size + stats + the batch schema), not the table's 20 —
    // FLAT in table size (≈ the 1st commit's bytes) and far below the
    // full-state checkpoint
    def fileLen(name: String): Long =
      new java.io.File(s"$root/manifests/$name").length()
    val c20 = fileLen("commit-v20.txt")
    val c1 = fileLen("commit-v1.txt")
    assert(c20 <= c1 + 64,
      s"commit-v20 is $c20 bytes vs commit-v1's $c1 — grew with table size")
    assert(c20 * 4 < fileLen("checkpoint-v16.txt"),
      s"commit-v20 ($c20 B) is not O(delta) vs the full-state checkpoint")
    // checkpoints landed on the interval and bound replay depth
    assert(new java.io.File(s"$root/manifests/checkpoint-v8.txt").exists())
    assert(new java.io.File(s"$root/manifests/checkpoint-v16.txt").exists())
    // time travel mid-log resolves exactly the prefix
    assert(SnapshotCatalog.manifestFiles(root, 13).size == 13)
    val v13 = SnapshotCatalog.readSnapshot(spark, root, Some(13))
      .agg(count(lit(1)), sum("id")).head()
    assert(v13.getLong(0) == 130L && v13.getLong(1) == (1L to 130L).sum)
    // expiry drops old versions AND their deltas — the new floor must
    // stay resolvable through the checkpoint written at the boundary
    val (nVers, _) = SnapshotCatalog.expire(root, keepLast = 3)
    assert(nVers == 17)
    assert(SnapshotCatalog.versions(root) == Seq(18, 19, 20))
    assert(SnapshotCatalog.manifestFiles(root, 18).size == 18,
      "the post-expiry floor version lost its resolution")
    val v18 = SnapshotCatalog.readSnapshot(spark, root, Some(18))
      .agg(count(lit(1)), sum("id")).head()
    assert(v18.getLong(0) == 180L && v18.getLong(1) == (1L to 180L).sum)
    // a change-feed poll whose horizon fell off the retention fails
    // loudly instead of silently serving a partial delta
    intercept[IllegalStateException] {
      SnapshotCatalog.addedFiles(root, Some(5), 20)
    }
    // ... while a poll inside the surviving window still works
    assert(SnapshotCatalog.addedFiles(root, Some(18), 20).size == 2)
  }

  test("cross-process race: two JVMs' committers land on consecutive versions; neither side's files are lost") {
    val root = graft.streaming.Streams.dataDir("graft_xprocrace_")
    val n = 25
    // seed v1 so both racers contend from a live table
    SnapshotCatalog.commitRetry(root)(_ => Seq(s"$root/data/seed/part-0.parquet"))
    val classesDir = SnapshotCatalog.getClass
      .getProtectionDomain.getCodeSource.getLocation.getPath
    val cp = s"$classesDir:/opt/spark/jars/*"
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val pb = new ProcessBuilder(javaBin, "-cp", cp,
      "graft.tools.CommitRacer", root, n.toString, "child")
    pb.redirectErrorStream(true)
    val child = pb.start()
    // force real interleaving: wait for the child's first commit before
    // the parent starts racing
    val deadline = System.currentTimeMillis() + 60000L
    while (SnapshotCatalog.latestVersion(root) < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(SnapshotCatalog.latestVersion(root) >= 2,
      "child process never committed — classpath or spawn failure")
    (1 to n).foreach { i =>
      SnapshotCatalog.commitRetry(root)(prev =>
        prev :+ s"$root/data/parent/part-$i.parquet")
    }
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"child racer failed:\n$out")
    // every version claimed exactly once, consecutively
    assert(SnapshotCatalog.versions(root) == (1 to 2 * n + 1),
      "a version was double-claimed or skipped across processes")
    // no lost update: the final resolution carries BOTH writers' paths
    val fin = SnapshotCatalog.manifestFiles(root, 2 * n + 1).toSet
    (1 to n).foreach { i =>
      assert(fin.contains(s"$root/data/child/part-$i.parquet"),
        s"child commit $i lost to a parent overwrite")
      assert(fin.contains(s"$root/data/parent/part-$i.parquet"),
        s"parent commit $i lost to a child overwrite")
    }
  }

  test("conditional-PUT publisher: create-no-overwrite protocol — winner lands, loser gets false with no residue") {
    // NOTE deliberately sequential: create-no-overwrite is only atomic
    // on stores whose exclusive create is a namespace op (HDFS, S3
    // If-None-Match); the local FS races check-then-create, which is
    // exactly why the LOCAL default is the hard-link publisher (raced
    // cross-process in the spec above). This pins the PROTOCOL: commits
    // flow, a taken version refuses with false, nothing is torn.
    val root = graft.streaming.Streams.dataDir("graft_condput_")
    SnapshotCatalog.withPublisher(SnapshotCatalog.ConditionalPutPublish) {
      (1 to 10).foreach { i =>
        SnapshotCatalog.commitRetry(root)(prev =>
          prev :+ s"$root/data/t/part-$i.parquet")
      }
      assert(SnapshotCatalog.versions(root) == (1 to 10))
      assert(SnapshotCatalog.manifestFiles(root, 10).size == 10)
      // the loser's path: version 5 is taken → publish refuses, no residue
      assert(!SnapshotCatalog.tryCommit(root, 5,
        adds = Seq(s"$root/data/t/usurper.parquet"), removes = Seq.empty))
      assert(SnapshotCatalog.manifestFiles(root, 5).size == 5,
        "a lost conditional PUT overwrote the committed manifest")
    }
    val leftovers = Option(new java.io.File(s"$root/manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"tmp residue: ${leftovers.mkString(", ")}")
  }

  test("expire honors the retention window: young versions survive keepLast, then age out") {
    val root = graft.streaming.Streams.dataDir("graft_retention_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 10L).toDF("id"), root, "b0")
    SnapshotCatalog.replace((1L to 10L).toDF("id").coalesce(1), root, "c0")
    SnapshotCatalog.replace((1L to 10L).toDF("id").coalesce(1), root, "c1")
    // back-to-back maintenance (the d17 compact-then-retract shape):
    // with a retention window NOTHING young is GC'd, so a reader that
    // resolved v1 moments ago keeps reading it
    assert(SnapshotCatalog.expire(root, keepLast = 1,
      minAgeMs = SnapshotCatalog.maintenanceRetentionMs) == ((0, 0)))
    assert(SnapshotCatalog.versions(root) == Seq(1, 2, 3))
    val v1 = SnapshotCatalog.readSnapshot(spark, root, Some(1)).count()
    assert(v1 == 10L, "retention window failed to keep v1 readable")
    // age the manifests past the window → the same call now GCs
    new java.io.File(s"$root/manifests").listFiles().foreach(
      _.setLastModified(System.currentTimeMillis() - 86400000L))
    val (nV, _) = SnapshotCatalog.expire(root, keepLast = 1,
      minAgeMs = SnapshotCatalog.maintenanceRetentionMs)
    assert(nV == 2 && SnapshotCatalog.versions(root) == Seq(3))
  }

  test("sweepOrphans vs a concurrent writer: in-flight staged files survive the grace window and only the grace window") {
    val root = graft.streaming.Streams.dataDir("graft_sweeprace_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 20L).toDF("id"), root, "b0")
    // an in-flight writer: files staged, commit NOT yet published —
    // exactly the state a concurrent sweep must not destroy
    val staged = SnapshotCatalog.writeData((21L to 30L).toDF("id"), root, "inflight")
    assert(SnapshotCatalog.sweepOrphans(root, graceMs = 3600000L) == 0,
      "sweep GC'd an in-flight batch inside the grace window")
    assert(SnapshotCatalog.listDataFiles(s"$root/data/inflight") == staged)
    // ... and the commit that was in flight still lands cleanly
    val v = SnapshotCatalog.append((21L to 30L).toDF("id"), root, "inflight")
    assert(v == 2 && SnapshotCatalog.readSnapshot(spark, root).count() == 30L)
    // the OTHER direction: with no grace window, a staged-uncommitted
    // batch is exactly what the sweep removes
    val doomed = SnapshotCatalog.writeData((31L to 40L).toDF("id"), root, "crashed")
    assert(SnapshotCatalog.sweepOrphans(root, graceMs = 0L) >= doomed.size)
    assert(!new java.io.File(s"$root/data/crashed").exists())
    // manifest-tmp litter (a crash between tmp write and publish) is
    // swept by the same call once aged
    val tmpLitter = new java.io.File(s"$root/manifests/.commit-v9.txt-dead.tmp")
    java.nio.file.Files.writeString(tmpLitter.toPath, "A\t/nowhere\n")
    tmpLitter.setLastModified(System.currentTimeMillis() - 86400000L)
    assert(SnapshotCatalog.sweepOrphans(root, graceMs = 3600000L) == 1)
    assert(!tmpLitter.exists(), "aged manifest tmp litter survived the sweep")
    assert(SnapshotCatalog.readSnapshot(spark, root).count() == 30L)
  }

  test("expire survives a crash-interrupted predecessor: unresolvable dropped versions leak to the sweep, never corrupt") {
    val root = graft.streaming.Streams.dataDir("graft_expirecrash_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 10L).toDF("id").coalesce(1), root, "b0")
    SnapshotCatalog.append((11L to 20L).toDF("id").coalesce(1), root, "b1")
    SnapshotCatalog.replace(
      SnapshotCatalog.readSnapshot(spark, root).coalesce(1), root, "c0")
    SnapshotCatalog.append((21L to 30L).toDF("id").coalesce(1), root, "b3")
    SnapshotCatalog.append((31L to 40L).toDF("id").coalesce(1), root, "b4")
    SnapshotCatalog.append((41L to 50L).toDF("id").coalesce(1), root, "b5")
    val live = SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1)), sum("id")).head()
    // simulate a crashed expire(keepLast = 3): it checkpointed the new
    // floor (v4), deleted commit-v1, then died mid-deletion
    val cp4 = SnapshotCatalog.manifestFiles(root, 4)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/manifests/checkpoint-v4.txt"),
      cp4.mkString("\n") + "\n")
    assert(new java.io.File(s"$root/manifests/commit-v1.txt").delete())
    // the re-run completes: v2/v3 are unresolvable (their delta chain
    // lost commit 1) so their dead files are NOT GC'd here — leaked,
    // not mis-kept — and the live table is untouched
    val (nV, nF) = SnapshotCatalog.expire(root, keepLast = 3)
    assert(nV == 2 && nF == 0, s"expected (2,0) from the crash-state re-run, got ($nV,$nF)")
    assert(SnapshotCatalog.versions(root) == Seq(4, 5, 6))
    val after = SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1)), sum("id")).head()
    assert(after == live, "crash-state expire changed the live snapshot")
    // the leaked pre-compaction files (b0, b1) are in no surviving
    // version, so the orphan sweep collects them
    assert(SnapshotCatalog.sweepOrphans(root, graceMs = 0L) == 2)
    assert(!new java.io.File(s"$root/data/b0").exists())
    assert(SnapshotCatalog.readSnapshot(spark, root)
      .agg(count(lit(1)), sum("id")).head() == live)
  }

  test("deletion vectors: deletes compose, feed refuses the crossing, compaction applies+resets, expire GCs dead DVs") {
    val root = graft.streaming.Streams.dataDir("graft_dvspec_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 50L).toDF("id").coalesce(1), root, "b0")
    SnapshotCatalog.append((51L to 100L).toDF("id").coalesce(1), root, "b1")
    // delete 1: multiples of 10
    val (v3, n1) = SnapshotCatalog.deleteWhere(spark, root, col("id") % 10 === 0)
    assert(v3 == 3 && n1 == 10L)
    // delete 2 COMPOSES on the already-DV'd table: multiples of 7
    // (70 is already deleted — must not double-count or resurrect)
    val (v4, n2) = SnapshotCatalog.deleteWhere(spark, root, col("id") % 7 === 0)
    assert(v4 == 4 && n2 == 13L, s"expected 13 new deletes (14 sevens minus 70), got $n2")
    val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
    val expect = (1L to 100L).filterNot(i => i % 10 == 0 || i % 7 == 0)
    assert(served.count() == expect.size.toLong)
    assert(served.agg(sum("id")).head().getLong(0) == expect.sum)
    // time travel: pre-delete (v2) full, between-deletes (v3) only the first delete applied
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root, Some(2)).count() == 100L)
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root, Some(3)).count() == 90L)
    // an empty delete commits nothing
    val (vSame, n0) = SnapshotCatalog.deleteWhere(spark, root, col("id") > 1000L)
    assert(vSame == 4 && n0 == 0L)
    // the change feed refuses to cross the DV commit (rows logically
    // left the table; an adds-only fold would keep serving them)
    val refusal = intercept[IllegalStateException] {
      SnapshotCatalog.addedFiles(root, Some(2), 3)
    }
    assert(refusal.getMessage.contains("DELETE"), refusal.getMessage)
    // compaction applies the DVs physically and resets them atomically
    SnapshotCatalog.replace(
      SnapshotCatalog.readSnapshotWithDeletes(spark, root).coalesce(1), root, "c0")
    val v5 = SnapshotCatalog.latestVersion(root)
    assert(SnapshotCatalog.dvFiles(root, v5).isEmpty, "replace did not reset the DV set")
    assert(SnapshotCatalog.readSnapshot(spark, root).count() == expect.size.toLong)
    // ... while time travel to v4 still resolves its DVs
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root, Some(4))
      .count() == expect.size.toLong)
    // expire GCs the dropped versions' DV files along with dead data
    val dvDir = new java.io.File(s"$root/dv")
    assert(dvDir.exists() && dvDir.listFiles().nonEmpty)
    SnapshotCatalog.expire(root, keepLast = 1)
    assert(SnapshotCatalog.versions(root) == Seq(5))
    assert(!dvDir.exists() || dvDir.listFiles().isEmpty,
      "expire left dead DV batches behind")
    assert(SnapshotCatalog.readSnapshot(spark, root).count() == expect.size.toLong)
  }

  test("merge-on-read: one commit upserts, composes with prior deletes, never duplicates a key") {
    val root = graft.streaming.Streams.dataDir("graft_morspec_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(
      (1L to 50L).map(i => (i, i)).toDF("id", "v").coalesce(1), root, "b0")
    // prior row-level delete: multiples of 10 are gone
    val (_, nDel) = SnapshotCatalog.deleteWhere(spark, root, col("id") % 10 === 0)
    assert(nDel == 5L)
    // upsert: 5 and 15 exist (update), 10 was deleted (its key must NOT
    // match — the row is logically gone), 999 is new (insert)
    val updates = Seq((5L, 1000L), (15L, 1000L), (10L, 1000L), (999L, 1000L))
      .toDF("id", "v")
    val (vM, nMatched) = SnapshotCatalog.mergeOnRead(
      spark, root, updates, Seq("id"), "u0")
    assert(nMatched == 2L, s"expected 2 matched live rows (5, 15), got $nMatched")
    val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
    // 45 live − 2 replaced + 4 update rows = 47; key 10 reappears as an
    // INSERT (its old row was deleted; the upsert legitimately re-lands it)
    assert(served.count() == 47L)
    assert(served.groupBy("id").count().agg(max("count")).head().getLong(0) == 1L,
      "merge duplicated a key")
    val updated = served.filter(col("id").isin(5L, 15L, 10L, 999L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(updated == Map(5L -> 1000L, 15L -> 1000L, 10L -> 1000L, 999L -> 1000L))
    // untouched row unchanged; pre-merge time travel intact
    assert(served.filter(col("id") === 7L).head().getLong(1) == 7L)
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root, Some(vM - 1))
      .count() == 45L)
    // replay-refusal: a redelivered merge (same batch id) commits
    // nothing — without the guard it would recompute "matched" against
    // the merged table and DV-delete its own update rows
    val (vR, nR) = SnapshotCatalog.mergeOnRead(
      spark, root, updates, Seq("id"), "u0")
    assert(vR == vM && nR == 0L, "replayed merge was not refused")
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root).count() == 47L,
      "replayed merge changed the table")
  }

  test("versionAsOf: wall-clock time travel resolves the newest commit at-or-before the timestamp") {
    val root = graft.streaming.Streams.dataDir("graft_asofspec_")
    val spark2 = spark
    import spark2.implicits._
    val t0 = System.currentTimeMillis() - 1L
    assert(SnapshotCatalog.versionAsOf(root, t0).isEmpty, "table not yet created")
    SnapshotCatalog.append((1L to 10L).toDF("id").coalesce(1), root, "b0")
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    SnapshotCatalog.append((11L to 20L).toDF("id").coalesce(1), root, "b1")
    assert(SnapshotCatalog.versionAsOf(root, t0).isEmpty,
      "resolved a version from before the table existed")
    assert(SnapshotCatalog.versionAsOf(root, mid) == Some(1))
    assert(SnapshotCatalog.versionAsOf(root, System.currentTimeMillis()) == Some(2))
    val asOf = SnapshotCatalog.readSnapshot(spark, root,
      SnapshotCatalog.versionAsOf(root, mid))
    assert(asOf.count() == 10L, "TIMESTAMP AS OF read served the wrong version")
  }

  test("typed stats skipping: timestamp and string ranges prune files; malformed sidecar lines read conservatively") {
    val root = graft.streaming.Streams.dataDir("graft_typedskip_")
    val spark2 = spark
    import spark2.implicits._
    def ts(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    // three day-disjoint batches; append() auto-records footer stats
    // for BOTH the timestamp and the string column in one pass
    (0 until 3).foreach { b =>
      val rows = (0 until 10).map { i =>
        (b * 10L + i, ts(b * 10 + i / 3 + 1), f"k${b * 10 + i}%03d")
      }
      SnapshotCatalog.append(
        rows.toDF("id", "ts", "k").coalesce(1), root, s"b$b")
    }
    // (rows matching `pred`, files read, files in the snapshot)
    def counted(r: String, pred: org.apache.spark.sql.Column): (Long, Long, Int) = {
      val (Array(row), n, tot) = SnapshotFileIndex.collectScanned(
        SnapshotCatalog.readSnapshot(spark, r).where(pred).agg(count(lit(1))), r)
      (row.getLong(0), n, tot)
    }
    def tsRange(r: String) = counted(r, col("ts").between(ts(11), ts(14)))
    // timestamp range fully inside batch 1 → batches 0 and 2 skip
    val (rowsT, nT, totT) = tsRange(root)
    assert(totT == 3 && nT == 1, s"ts pruning read $nT/$totT files")
    assert(rowsT == 10L)
    // string range fully inside batch 2 → one file read
    val (rowS, nS, totS) = counted(root, col("k").between("k020", "k029"))
    assert(totS == 3 && nS == 1, s"string pruning read $nS/$totS files")
    assert(rowS == 10L)
    // a malformed stats CELL in a commit line (the torn-metadata shape)
    // must read as stats-less — conservatively kept, never a failure:
    // rewrite b0's add line with garbage where its stats record was
    val commit1 = new java.io.File(s"$root/manifests/commit-v1.txt")
    val rewritten = scala.io.Source.fromFile(commit1).getLines().map { l =>
      if (l.startsWith("A\t")) {
        val parts = l.split("\t")
        s"A\t${parts(1)}\t${parts(2)}\tGARBAGE;also:not:a:stats!cell!!"
      } else l
    }.mkString("\n") + "\n"
    java.nio.file.Files.writeString(commit1.toPath, rewritten)
    SnapshotCatalog.dropCaches() // a fresh reader process sees the torn file
    val (rowsC, nC, _) = tsRange(root)
    assert(nC == 2, s"malformed log stats should force b0 into the read set, read $nC")
    assert(rowsC == 10L)

    // the SIDECAR tier still serves tables written by the path-only
    // compatibility surface (commitRetry + writeColumnStats, src14's
    // shape): the planner's index falls back to it for path-only
    // entries — and a corrupt sidecar degrades to conservatively-read
    val root2 = graft.streaming.Streams.dataDir("graft_typedskip_legacy_")
    (0 until 3).foreach { b =>
      val rows = (0 until 10).map { i =>
        (b * 10L + i, ts(b * 10 + i / 3 + 1), f"k${b * 10 + i}%03d")
      }
      val files = SnapshotCatalog.writeData(
        rows.toDF("id", "ts", "k").coalesce(1), root2, s"b$b")
      SnapshotCatalog.writeColumnStats(root2, s"b$b", "ts", files)
      SnapshotCatalog.commitRetry(root2)(prev => (prev ++ files).distinct.sorted)
    }
    val (_, nL, totL) = tsRange(root2)
    assert(totL == 3 && nL == 1, s"legacy sidecar pruning read $nL/$totL files")
    val side = new java.io.File(s"$root2/data/b0/_stats_ts.txt")
    java.nio.file.Files.writeString(side.toPath, "part-garbage\t12")
    val (rowsC2, nC2, _) = tsRange(root2)
    assert(nC2 == 2, s"corrupt sidecar should force b0 into the read set, read $nC2")
    assert(rowsC2 == 10L)
  }

  test("vacuum ownership is FULLY-QUALIFIED: a foreign-scheme file whose path component matches the root is never deleted") {
    val root = graft.streaming.Streams.dataDir("graft_vacqual_")
    val spark2 = spark
    import spark2.implicits._
    // a filesystem with a DIFFERENT scheme but the same local layout
    // (stand-in for s3://B vs s3://A or hdfs: vs file:)
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockLocalFs].getName)
    SnapshotCatalog.append((1L to 10L).toDF("id").coalesce(1), root, "b0")
    // a FOREIGN reference: physically under the root (so its bare path
    // component passes a path-only prefix test) but on scheme mock:
    val foreignDir = new Path(s"$root/data/foreign")
    val fs = foreignDir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(foreignDir)
    val foreignFile = new Path(foreignDir, "part-00000.bin")
    val out = fs.create(foreignFile); out.write(Array.fill(16)(7.toByte)); out.close()
    val foreignRef = "mock:" + foreignFile.toUri.getPath
    SnapshotCatalog.commitRetry(root)(prev => prev :+ foreignRef)
    SnapshotCatalog.commitRetry(root)(prev => prev.filterNot(_ == foreignRef))
    SnapshotCatalog.append((11L to 12L).toDF("id").coalesce(1), root, "b1")
    // expire drops the foreign-bearing versions; the foreign file is
    // referenced by NO surviving version, but vacuum's authority ends
    // at THIS table on THIS filesystem — the mock: file must survive
    val (dropped, deleted) = SnapshotCatalog.expire(root, keepLast = 1)
    assert(dropped >= 2, s"expected the foreign-bearing versions to drop, got $dropped")
    assert(fs.exists(foreignFile),
      "vacuum deleted a foreign-filesystem file whose PATH matched the root " +
        "— ownership must compare fully-qualified URIs")
    // sanity: the table still serves
    assert(SnapshotCatalog.readSnapshot(spark, root).count() == 12L)
  }

  test("dangling-only DV litter clears in ONE reset commit and converges — no re-land loop") {
    val root = graft.streaming.Streams.dataDir("graft_dvdangle_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 20L).toDF("id").coalesce(1), root, "b0")
    val (_, nDel) = SnapshotCatalog.deleteWhere(spark, root, col("id") <= 5L)
    assert(nDel == 5L)
    // a LEGACY replace (pre-`W` format): swaps the data files via a
    // path-only commit that does NOT restructure the DV set — every DV
    // position now references a removed file (dangles)
    val legacyDir = s"$root/data/leg0"
    (100L to 110L).toDF("id").coalesce(1).write.mode("overwrite").parquet(legacyDir)
    val legacyFiles = SnapshotCatalog.listDataFiles(legacyDir)
    SnapshotCatalog.commitRetry(root)(_ => legacyFiles)
    val vPre = SnapshotCatalog.latestVersion(root)
    assert(SnapshotCatalog.dvEntries(root, vPre).nonEmpty,
      "precondition: the legacy commit must leave the DV batch in effect")
    // ONE maintenance fire clears the danglers METADATA-ONLY (selection
    // empty → plain dvReset, not a re-land of the dangling positions)
    val fired = SnapshotCatalog.maintainIfNeeded(spark, root, "c0",
      maxDvBytes = Some(0L), minFileBytes = 1L)
    assert(fired.nonEmpty, "dangling DV litter did not trigger the reset")
    val v1 = fired.get
    assert(SnapshotCatalog.dvEntries(root, v1).isEmpty,
      "the reset re-landed dangling positions instead of clearing them")
    assert(SnapshotCatalog.manifestFiles(root, v1).toSet == legacyFiles.toSet,
      "the metadata-only reset must not touch data files")
    // CONVERGES: the next fire has nothing to do — no commit per fire
    assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c1",
      maxDvBytes = Some(0L), minFileBytes = 1L).isEmpty,
      "dangling-DV cleanup did not converge — a fresh commit per fire")
    assert(SnapshotCatalog.latestVersion(root) == v1)
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root).count() == 11L)
  }
}

/** A second local filesystem under scheme `mock:` — the cross-
  * filesystem stand-in [[DeltaLogSpec]]'s vacuum-ownership test uses
  * (s3://A vs s3://B without a real object store in the environment). */
class MockLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}
