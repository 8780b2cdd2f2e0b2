package graft

import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Round-16 catalog tier: the INCREMENTAL threshold OPTIMIZE (large
  * clean files survive fires byte-identical; litter bin-packs under the
  * size-tiered doubling rule; DV-bearing files rewrite with deletes
  * applied), dangling-DV pruning at partition overwrite, the
  * partition-spec lifecycle fixes (type consistency, carry-forward on
  * legacy commits), cache invalidation on table recreate, and anchored
  * partition-value extraction. */
class CatalogIncrementalSpec extends SparkTestBase {

  private def md5Of(path: String): String = {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new Path(path).toUri.getPath))
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
  }

  private def sizesAt(root: String): Map[String, Long] = {
    val v = SnapshotCatalog.latestVersion(root)
    SnapshotCatalog.manifestEntries(root, v).map(e => e.path -> e.size).toMap
  }

  test("incremental OPTIMIZE: a large clean file survives consecutive fires byte-identical; only litter is bin-packed") {
    val root = graft.streaming.Streams.dataDir("graft_incropt_")
    val spark2 = spark
    import spark2.implicits._
    // a "big" batch plus 6 litter batches (disjoint id ranges)
    SnapshotCatalog.append(
      (1L to 20000L).map(i => (i, s"payload-$i")).toDF("id", "s").coalesce(1),
      root, "big")
    (0 until 6).foreach { b =>
      val lo = 100000L + b * 2000L
      SnapshotCatalog.append(
        (lo until lo + 2000L).map(i => (i, s"payload-$i")).toDF("id", "s")
          .coalesce(1), root, s"lit$b")
    }
    val s1 = sizesAt(root)
    val bigPath = s1.keys.find(_.contains("/big/")).get
    val bigMd5 = md5Of(bigPath)
    val litterMax = s1.collect { case (p, sz) if !p.contains("/big/") => sz }.max
    assert(s1(bigPath) > 2 * litterMax, "fixture: big must dwarf the litter")
    // the bound sits between the litter and the big file
    val bound1 = (litterMax + s1(bigPath)) / 2
    val fired1 = SnapshotCatalog.maintainIfNeeded(spark, root, "c1",
      maxLiveFiles = 4, minFileBytes = bound1)
    assert(fired1.isDefined, "7 files over maxLiveFiles=4 must fire")
    val s2 = sizesAt(root)
    // ONE commit: the big file is untouched — same path, same bytes —
    // and the 6 litter files merged into one
    assert(s2.contains(bigPath), "the big clean file was rewritten")
    assert(md5Of(bigPath) == bigMd5, "the big clean file's bytes changed")
    assert(s2.size == 2, s"expected big + 1 merged file, got ${s2.size}")
    val merged1 = (s2.keySet - bigPath).head
    // round 2: fresh litter; the bound now also protects round 1's output
    (0 until 4).foreach { b =>
      val lo = 200000L + b * 50L
      SnapshotCatalog.append(
        (lo until lo + 50L).map(i => (i, s"p$i")).toDF("id", "s").coalesce(1),
        root, s"lit2$b")
    }
    val tinyMax = sizesAt(root)
      .collect { case (p, sz) if p.contains("/lit2") => sz }.max
    assert(s2(merged1) > tinyMax, "fixture: pass-1 output must exceed new litter")
    val merged1Md5 = md5Of(merged1)
    val bound2 = (tinyMax + math.min(s2(merged1), s2(bigPath))) / 2
    val fired2 = SnapshotCatalog.maintainIfNeeded(spark, root, "c2",
      maxLiveFiles = 4, minFileBytes = bound2)
    assert(fired2.isDefined)
    val s3 = sizesAt(root)
    // THE round-15 scale defect, pinned from the other side: a file a
    // previous maintenance pass produced (above the bound, no DVs)
    // survives the next fired OPTIMIZE byte-identical
    assert(s3.contains(merged1) && md5Of(merged1) == merged1Md5,
      "a previous pass's clean output was rewritten — maintenance is quadratic again")
    assert(s3.contains(bigPath) && md5Of(bigPath) == bigMd5)
    assert(s3.size == 3, s"expected big + pass1 + merged tinies, got ${s3.size}")
    // content is maintenance-neutral throughout
    val n = SnapshotCatalog.readSnapshot(spark, root).count()
    assert(n == 20000L + 12000L + 200L, s"rows drifted: $n")
    // DV phase: deletes land only in the big file; the fired compaction
    // rewrites exactly the bearing file, applies the deletes, resets
    // the DV set — and still leaves the clean outputs byte-identical
    val (_, nDel) = SnapshotCatalog.deleteWhere(spark, root, col("id") <= 100L)
    assert(nDel == 100L)
    val fired3 = SnapshotCatalog.maintainIfNeeded(spark, root, "c3",
      maxDvBytes = Some(1L), minFileBytes = bound2)
    assert(fired3.isDefined)
    assert(SnapshotCatalog.dvFiles(root, fired3.get).isEmpty,
      "fired OPTIMIZE left DVs in effect")
    val s4 = sizesAt(root)
    assert(!s4.contains(bigPath), "the DV-bearing file must be rewritten")
    assert(s4.contains(merged1) && md5Of(merged1) == merged1Md5,
      "a clean file was dragged into a DV-scoped rewrite")
    assert(SnapshotCatalog.readSnapshot(spark, root).count() == n - 100L)
    assert(SnapshotCatalog.readSnapshot(spark, root)
      .filter(col("id").between(1L, 100L)).count() == 0L)
  }

  test("incremental OPTIMIZE: a table of large clean files over the file-count bound is NOT litter — the decision declines") {
    val root = graft.streaming.Streams.dataDir("graft_incrnoop_")
    val spark2 = spark
    import spark2.implicits._
    (0 until 3).foreach { b =>
      SnapshotCatalog.append(
        (1L to 1000L).map(i => (i, s"x$i")).toDF("id", "s").coalesce(1),
        root, s"b$b")
    }
    val v = SnapshotCatalog.latestVersion(root)
    // every file is above the bound and clean: rewriting them would be
    // exactly the full-table quadratic the incremental action removed
    assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c0",
      maxLiveFiles = 2, minFileBytes = 1L).isEmpty,
      "OPTIMIZE rewrote large clean files")
    assert(SnapshotCatalog.latestVersion(root) == v, "a no-op fire committed")
    // a single small file can't bin-pack with itself either
    SnapshotCatalog.append(Seq((999999L, "z")).toDF("id", "s").coalesce(1),
      root, "tiny")
    val sz = sizesAt(root)
    val tinySz = sz.collect { case (p, s) if p.contains("/tiny/") => s }.head
    val minBig = sz.collect { case (p, s) if !p.contains("/tiny/") => s }.min
    assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c1",
      maxLiveFiles = 2, minFileBytes = (tinySz + minBig) / 2).isEmpty,
      "a lone small file has no merge partner — nothing to rewrite")
  }

  test("replacePartitions restructures the DV set: no dangling positions, surviving deletes still apply, decision reads true") {
    val root = graft.streaming.Streams.dataDir("graft_povrdv_")
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 30L).map(i => (i, if (i <= 10L) "a" else if (i <= 20L) "b" else "c"))
      .toDF("id", "p")
    SnapshotCatalog.append(df.coalesce(1), root, "b0", partitionBy = Seq("p"))
    // ONE delete spanning partitions a and b: its single DV batch holds
    // positions into BOTH partitions' files
    val (_, nDel) = SnapshotCatalog.deleteWhere(spark, root,
      col("id").isin(1L, 2L, 3L, 4L, 5L, 6L, 11L, 12L))
    assert(nDel == 8L)
    // overwrite partition a: the 6 a-positions reference replaced files
    val (v2, _) = SnapshotCatalog.replacePartitions(spark, root,
      df.filter(col("p") === "a").withColumn("id", col("id") + 1000L)
        .coalesce(1), "fix0")
    // the manifest carries no dangling V lines: every surviving DV
    // position references a live file
    val dvs = SnapshotCatalog.dvEntries(root, v2)
    assert(dvs.nonEmpty, "partition b's deletes must survive the restructure")
    val liveUris = SnapshotCatalog.manifestFiles(root, v2)
      .map(f => new Path(f).toUri.getPath).toSet
    val refd = spark.read.parquet(dvs.map(_.path): _*)
      .select("__dv_file").distinct().collect()
      .map(r => new Path(r.getString(0)).toUri.getPath)
    assert(refd.nonEmpty && refd.forall(liveUris.contains),
      "dangling DV positions survived the partition overwrite")
    // surviving deletes still apply; the overwritten partition is whole
    val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
    assert(served.filter(col("p") === "b").collect().map(_.getLong(0)).toSet ==
      (13L to 20L).toSet, "partition b's deletes were lost or over-applied")
    assert(served.filter(col("p") === "a").count() == 10L,
      "the overwritten partition must serve its full restated content")
    // the OPTIMIZE decision reads TRUE deleted rows (2 of 30 live), not
    // the 8 the dangling positions would claim: 8/30 > 0.15 would have
    // fired a spurious rewrite before the restructure; 2/30 stays under
    val vBefore = SnapshotCatalog.latestVersion(root)
    assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c0",
      maxDeletedFrac = 0.15).isEmpty,
      "dangling DV rows inflated the deleted-fraction decision")
    assert(SnapshotCatalog.latestVersion(root) == vBefore)
    // when EVERY position dangles, the DV set comes out empty
    val (v3, _) = SnapshotCatalog.replacePartitions(spark, root,
      df.filter(col("p") === "b").withColumn("id", col("id") + 2000L)
        .coalesce(1), "fix1")
    assert(SnapshotCatalog.dvEntries(root, v3).isEmpty,
      "a fully-superseded DV set must clear, not linger as an empty batch")
    // time travel: the pre-overwrite version still serves ITS DV state
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root, Some(v2))
      .filter(col("p") === "b").count() == 8L)
  }

  test("append refuses a re-typed partition column even when the name matches") {
    val root = graft.streaming.Streams.dataDir("graft_spectype_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(
      (1L to 10L).map(i => (i, (i % 3).toInt)).toDF("id", "p").coalesce(1),
      root, "b0", partitionBy = Seq("p")) // p: INT
    val e = intercept[RuntimeException] {
      SnapshotCatalog.append(
        (11L to 20L).map(i => (i, s"${i % 3}")).toDF("id", "p").coalesce(1),
        root, "b1", partitionBy = Seq("p")) // p: STRING — same name
    }
    assert(e.getMessage.contains("partition"), e.getMessage)
    assert(SnapshotCatalog.latestVersion(root) == 1, "the re-typed append landed")
  }

  test("a legacy path-only append does not flatten a partitioned table's spec") {
    val root = graft.streaming.Streams.dataDir("graft_speccarry_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(
      (1L to 12L).map(i => (i, Seq("a", "b")((i % 2).toInt))).toDF("id", "p")
        .coalesce(1), root, "b0", partitionBy = Seq("p"))
    val specBefore = SnapshotCatalog.partitionSpecAt(root, 1)
    assert(specBefore.isDefined)
    // a legacy writer stages flat files and commits paths only (no P
    // line) — the compatibility surface predating the enriched log
    val legacyDir = s"$root/data/legacy0"
    (100L to 105L).toDF("id").coalesce(1).write.mode("overwrite").parquet(legacyDir)
    SnapshotCatalog.commitRetry(root)(prev =>
      prev ++ SnapshotCatalog.listDataFiles(legacyDir))
    val v = SnapshotCatalog.latestVersion(root)
    // the spec CARRIES FORWARD: the partitioned files keep serving their
    // directory values; the legacy flat files serve null partition values
    assert(SnapshotCatalog.partitionSpecAt(root, v) == specBefore,
      "an adds-only legacy commit silently flattened the partition spec")
    val served = SnapshotFileIndex.snapshotDF(spark, root)
    assert(served.count() == 18L)
    assert(served.filter(col("p").isNull).count() == 6L,
      "legacy flat rows must read as null partition values")
    assert(served.filter(col("p") === "a").count() == 6L,
      "the partitioned rows lost their directory values")
  }

  test("recreating a table at the same root within one JVM serves the NEW table, not cached commit content") {
    val root = graft.streaming.Streams.dataDir("graft_recreate_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 10L).toDF("id").coalesce(1), root, "b0")
    // warm the caches with the first table's v1
    assert(SnapshotCatalog.readSnapshot(spark, root).count() == 10L)
    // drop the table wholesale (an external actor — not a catalog op)
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    // recreate at the same root with the SAME batch name and version
    SnapshotCatalog.append((1L to 4L).toDF("id").coalesce(1), root, "b0")
    assert(SnapshotCatalog.readSnapshot(spark, root).count() == 4L,
      "the recreated table served the dead table's cached commit")
  }

  test("changeFeedRows extracts partition values anchored under /data/: a column suffixing another cannot mis-match") {
    val root = graft.streaming.Streams.dataDir("graft_anchor_")
    val spark2 = spark
    import spark2.implicits._
    // two-level spec where `type` is a suffix of `event_type`: the
    // unanchored pattern `type=([^/]+)/` matches INSIDE the
    // `event_type=` segment and emits the wrong column's value
    val df = (1L to 12L).map(i =>
      (i, Seq("click", "view")((i % 2).toInt), Seq("x", "y")((i % 2).toInt)))
      .toDF("id", "event_type", "type")
    SnapshotCatalog.append(df.coalesce(1), root, "b0",
      partitionBy = Seq("event_type", "type"))
    val feed = SnapshotCatalog.changeFeedRows(spark, root, 0, 1)
      .select("id", "event_type", "type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val expect = (1L to 12L).map(i =>
      (i, Seq("click", "view")((i % 2).toInt), Seq("x", "y")((i % 2).toInt))).toSet
    assert(feed == expect,
      "partition reconstruction mis-matched a suffix-named column")
  }
}
