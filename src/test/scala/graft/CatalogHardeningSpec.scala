package graft

import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.functions._

/** Round-15 hardening of the catalog's storage tier: conditional-PUT
  * failure semantics (lost race vs transient IO error), the object-store
  * publisher attestation gate, concurrent-commit aborts for row-level
  * ops (no DV batch left behind), DV orphan GC, unsigned-UTF-8 string
  * pruning, and the serve path's size-gated DV anti-join. */
class CatalogHardeningSpec extends SparkTestBase {

  private def localFs(p: String): FileSystem =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  // -- conditional-PUT failure semantics --------------------------------

  test("ConditionalPutPublish: dest-exists after failed create is a lost race (false); any other IO failure is rethrown") {
    val root = graft.streaming.Streams.dataDir("graft_condfail_")
    val fs = localFs(root)
    fs.mkdirs(new Path(s"$root/m"))
    def stageTmp(name: String): Path = {
      val t = new Path(s"$root/m/$name")
      val out = fs.create(t, true); out.write("A\tx\n".getBytes("UTF-8")); out.close()
      t
    }
    // lost race: dest pre-exists -> create fails, probe finds it -> false
    val dest = new Path(s"$root/m/commit-v1.txt")
    val out = fs.create(dest, false); out.write("A\twinner\n".getBytes("UTF-8")); out.close()
    assert(!SnapshotCatalog.ConditionalPutPublish.publish(fs, stageTmp(".t1.tmp"), dest))
    // the winner's content is untouched
    val back = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        dest.toUri.getPath)), "UTF-8")
    assert(back == "A\twinner\n", "lost conditional PUT tore the winner's commit")
    // transient IO failure with NO dest: must rethrow, not report a race
    val failing = new FilterFileSystem(fs) {
      override def create(f: Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream =
        if (f.getName.startsWith("commit-"))
          throw new java.io.IOException("injected store outage")
        else super.create(f, overwrite)
    }
    val dest2 = new Path(s"$root/m/commit-v2.txt")
    val e = intercept[java.io.IOException] {
      SnapshotCatalog.ConditionalPutPublish.publish(failing, stageTmp(".t2.tmp"), dest2)
    }
    assert(e.getMessage.contains("injected"),
      "a non-race IO failure was swallowed instead of surfaced")
  }

  test("commitRetry surfaces a non-race publish failure instead of silently spinning at the same version") {
    val root = graft.streaming.Streams.dataDir("graft_condretry_")
    // seed one good version through the normal publisher
    SnapshotCatalog.commitRetry(root)(_ => Seq(s"$root/data/s/part-0.parquet"))
    var attempts = 0
    val outage = new SnapshotCatalog.AtomicPublish {
      def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean = {
        attempts += 1
        val failing = new FilterFileSystem(fs) {
          override def create(f: Path, overwrite: Boolean)
              : org.apache.hadoop.fs.FSDataOutputStream =
            throw new java.io.IOException("injected store outage")
        }
        SnapshotCatalog.ConditionalPutPublish.publish(failing, tmp, dest)
      }
    }
    SnapshotCatalog.withPublisher(outage) {
      val e = intercept[java.io.IOException] {
        SnapshotCatalog.commitRetry(root)(prev =>
          prev :+ s"$root/data/s/part-1.parquet")
      }
      assert(e.getMessage.contains("injected"))
    }
    assert(attempts == 1,
      s"a store outage must abort the retry loop, not spin ($attempts attempts)")
    assert(SnapshotCatalog.latestVersion(root) == 1, "the failed commit left residue")
  }

  test("object-store schemes refuse to commit without an attested conditional-create capability") {
    val dest = new Path("s3a://bucket/table/manifests/commit-v1.txt")
    // un-attested: loud refusal, never a silent HEAD-then-PUT downgrade
    sys.props.remove("graft.objectstore.conditional.create")
    val e = intercept[RuntimeException] { SnapshotCatalog.publisherFor(dest) }
    assert(e.getMessage.contains("conditional"), e.getMessage)
    // attested: routes to the conditional-PUT protocol
    sys.props("graft.objectstore.conditional.create") = "true"
    try assert(SnapshotCatalog.publisherFor(dest) eq SnapshotCatalog.ConditionalPutPublish)
    finally sys.props.remove("graft.objectstore.conditional.create")
  }

  // -- concurrent-write conflicts for row-level ops ----------------------

  /** Publisher hook that lets a CONCURRENT append win the victim op's
    * version just before the victim's own publish attempt — the
    * deterministic two-writer interleaving a thread race can't pin.
    * `forceLoss` makes that attempt lose even when its version is still
    * free: the racer won it and was then expired or dropped. */
  private class RaceInjector(root: String, mkRacer: () => Unit, armFor: String,
                             forceLoss: Boolean = false)
      extends SnapshotCatalog.AtomicPublish {
    @volatile private var armed = true
    def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean = {
      if (armed && dest.getName == armFor) {
        armed = false
        mkRacer() // lands the concurrent commit first (re-entrant publishes pass through)
        if (forceLoss) { fs.delete(tmp, false); return false }
      }
      SnapshotCatalog.LocalLinkPublish.publish(fs, tmp, dest)
    }
  }

  /** Every DV batch under `root/dv` is one a surviving version
    * references: an aborted row-level op deleted the batch it staged. */
  private def assertNoDvLitter(root: String): Unit = {
    def uri(p: String) = new Path(p).toUri.getPath
    val referenced = SnapshotCatalog.versions(root)
      .flatMap(v => SnapshotCatalog.dvFiles(root, v)).map(uri).toSet
    val dvDir = new java.io.File(s"$root/dv")
    val batches = Option(dvDir.listFiles()).toSeq.flatten.filter(_.isDirectory)
    val litter = batches.filterNot(b => SnapshotCatalog.listDataFiles(b.getPath)
      .exists(f => referenced.contains(uri(f))))
    assert(litter.isEmpty,
      s"unreferenced DV batches left behind: ${litter.map(_.getName).mkString(", ")}")
  }

  test("deleteWhere aborts when a concurrent append lands between its snapshot read and its commit") {
    val root = graft.streaming.Streams.dataDir("graft_delrace_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 50L).toDF("id").coalesce(1), root, "b0")
    val injector = new RaceInjector(root,
      () => SnapshotCatalog.append((51L to 60L).toDF("id").coalesce(1), root, "race"),
      armFor = "commit-v2.txt")
    SnapshotCatalog.withPublisher(injector) {
      val e = intercept[java.util.ConcurrentModificationException] {
        SnapshotCatalog.deleteWhere(spark, root, col("id") % 10 === 0)
      }
      assert(e.getMessage.contains("stale"), e.getMessage)
    }
    // the racer's append landed; the aborted delete left no DV commit
    // and no DV batch
    assert(SnapshotCatalog.latestVersion(root) == 2)
    assertNoDvLitter(root)
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root).count() == 60L)
    // the caller's retry against the new snapshot succeeds and sees the
    // racer's rows as delete candidates too
    val (_, nDel) = SnapshotCatalog.deleteWhere(spark, root, col("id") % 10 === 0)
    assert(nDel == 6L, s"retry should match 10..60 multiples of 10, got $nDel")
  }

  test("mergeOnRead aborts on a concurrent append that could land duplicate keys") {
    val root = graft.streaming.Streams.dataDir("graft_morrace_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(
      (1L to 20L).map(i => (i, i)).toDF("id", "v").coalesce(1), root, "b0")
    // the racer appends id=999 — the same key the merge is inserting:
    // an undetected race would leave TWO rows for 999
    val injector = new RaceInjector(root,
      () => SnapshotCatalog.append(
        Seq((999L, 1L)).toDF("id", "v").coalesce(1), root, "race"),
      armFor = "commit-v2.txt")
    SnapshotCatalog.withPublisher(injector) {
      val e = intercept[java.util.ConcurrentModificationException] {
        SnapshotCatalog.mergeOnRead(spark, root,
          Seq((5L, 100L), (999L, 100L)).toDF("id", "v"), Seq("id"), "u0")
      }
      assert(e.getMessage.contains("stale"), e.getMessage)
    }
    assertNoDvLitter(root)
    // retried against the new snapshot: the racer's 999 row now matches
    val (_, nM) = SnapshotCatalog.mergeOnRead(spark, root,
      Seq((5L, 100L), (999L, 100L)).toDF("id", "v"), Seq("id"), "u1")
    assert(nM == 2L, s"retry should match 5 AND the racer's 999, got $nM")
    val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
    assert(served.groupBy("id").count().agg(max("count")).head().getLong(0) == 1L,
      "the upsert left duplicate keys")
    assert(served.filter(col("id") === 999L).head().getLong(1) == 100L)
  }

  test("deleteWhere proceeds past a concurrent append PROVABLY disjoint from its predicate; still aborts on overlap") {
    val root = graft.streaming.Streams.dataDir("graft_delnarrow_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 50L).toDF("id").coalesce(1), root, "b0")
    // the racer's file carries log stats [1000, 1010] — disjoint from
    // the delete's envelope id <= 10, so the Delta-style narrowing
    // skips the conflict: the delete commits WITHOUT losing its CAS
    val injector = new RaceInjector(root,
      () => SnapshotCatalog.append((1000L to 1010L).toDF("id").coalesce(1),
        root, "race"),
      armFor = "commit-v2.txt")
    SnapshotCatalog.withPublisher(injector) {
      val (v, nDel) = SnapshotCatalog.deleteWhere(spark, root, col("id") <= 10L)
      assert(nDel == 10L, s"delete matched $nDel rows")
      assert(v == 3, "the delete should land AFTER the racer's append")
    }
    val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
    assert(served.count() == 40L + 11L,
      "narrowed delete lost rows or kept deleted ones")
    assert(served.filter(col("id") <= 10L).count() == 0L)
    assert(served.filter(col("id") >= 1000L).count() == 11L,
      "the disjoint append's rows must survive whole")
    // an OVERLAPPING append (ids 15..17 inside the new envelope id <= 20)
    // still aborts — the narrowing must not over-skip
    val injector2 = new RaceInjector(root,
      () => SnapshotCatalog.append((15L to 17L).toDF("id").coalesce(1),
        root, "race2"),
      armFor = "commit-v4.txt")
    SnapshotCatalog.withPublisher(injector2) {
      val e = intercept[java.util.ConcurrentModificationException] {
        SnapshotCatalog.deleteWhere(spark, root, col("id") <= 20L)
      }
      assert(e.getMessage.contains("stale"), e.getMessage)
    }
    assertNoDvLitter(root)
  }

  test("mergeOnRead proceeds past a concurrent append provably outside its key envelope") {
    val root = graft.streaming.Streams.dataDir("graft_mornarrow_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(
      (1L to 20L).map(i => (i, i)).toDF("id", "v").coalesce(1), root, "b0")
    // update keys {5, 9} → envelope [5, 9]; the racer appends id 2000 —
    // provably key-disjoint from the stats, so the merge proceeds
    val injector = new RaceInjector(root,
      () => SnapshotCatalog.append(
        Seq((2000L, 1L)).toDF("id", "v").coalesce(1), root, "race"),
      armFor = "commit-v2.txt")
    SnapshotCatalog.withPublisher(injector) {
      val (_, nM) = SnapshotCatalog.mergeOnRead(spark, root,
        Seq((5L, 100L), (9L, 100L)).toDF("id", "v"), Seq("id"), "u0")
      assert(nM == 2L, s"merge matched $nM")
    }
    val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
    assert(served.count() == 21L)
    assert(served.groupBy("id").count().agg(max("count")).head().getLong(0) == 1L,
      "the narrowed merge left duplicate keys")
    assert(served.filter(col("id") === 5L).head().getLong(1) == 100L)
    assert(served.filter(col("id") === 2000L).count() == 1L)
  }

  test("mergeInto proceeds past a provably key-disjoint concurrent append; aborts on overlap") {
    import graft.sources.SnapshotCatalog.{MergeDeleteClause, MergeInsertClause, MergeUpdateClause}
    val root = graft.streaming.Streams.dataDir("graft_ginarrow_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(
      (1L to 20L).map(i => (i, i)).toDF("id", "v").coalesce(1), root, "b0")
    val matched = Seq(
      MergeDeleteClause(Some(col("__src_op") === "del")),
      MergeUpdateClause(None, Seq("v" -> col("__src_nv"))))
    val notMatched = Seq(MergeInsertClause(None,
      Seq("id" -> col("__src_id"), "v" -> col("__src_nv"))))
    // source keys {4, 6} → envelope [4, 6]; the racer appends id 3000 —
    // provably disjoint from the log stats, the generalized merge
    // proceeds without losing its CAS (the mergeOnRead narrowing rule)
    val injector = new RaceInjector(root,
      () => SnapshotCatalog.append(
        Seq((3000L, 1L)).toDF("id", "v").coalesce(1), root, "race"),
      armFor = "commit-v2.txt")
    SnapshotCatalog.withPublisher(injector) {
      val (_, nA) = SnapshotCatalog.mergeInto(spark, root,
        Seq((4L, 40L, "upd"), (6L, 0L, "del")).toDF("id", "nv", "op"),
        Seq("id"), matched, notMatched, "g0")
      assert(nA == 2L, s"mergeInto actioned $nA")
    }
    val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
    assert(served.count() == 20L, "delete+racer accounting drifted")
    assert(served.filter(col("id") === 4L).head().getLong(1) == 40L)
    assert(served.filter(col("id") === 6L).count() == 0L)
    assert(served.filter(col("id") === 3000L).count() == 1L,
      "the disjoint append's row must survive")
    // an OVERLAPPING concurrent append (id 5 inside the next merge's
    // envelope) still aborts — matched positions are stale
    val injector2 = new RaceInjector(root,
      () => SnapshotCatalog.append(
        Seq((5L, 1L)).toDF("id", "v").coalesce(1), root, "race2"),
      armFor = "commit-v4.txt")
    SnapshotCatalog.withPublisher(injector2) {
      val e = intercept[java.util.ConcurrentModificationException] {
        SnapshotCatalog.mergeInto(spark, root,
          Seq((5L, 50L, "upd")).toDF("id", "nv", "op"),
          Seq("id"), matched, notMatched, "g1")
      }
      assert(e.getMessage.contains("stale"), e.getMessage)
    }
    assertNoDvLitter(root)
  }

  // Every row-level op against both kinds of concurrent commit: an
  // append overlapping its match envelope, and a compaction that
  // rewrites the files its positions reference. Each victim matches
  // ids 5 and 6 of a three-file table (ids 1..10, 11..20, 21..30); the
  // racer wins the victim's version (4), the victim aborts as stale
  // and its staged DV batch is gone.
  private def threeFileTable(prefix: String): String = {
    val root = graft.streaming.Streams.dataDir(prefix)
    val spark2 = spark
    import spark2.implicits._
    (0 until 3).foreach { b =>
      SnapshotCatalog.append((10L * b + 1L to 10L * b + 10L).map(i => (i, i))
        .toDF("id", "v").coalesce(1), root, s"b$b")
    }
    root
  }

  private val rowLevelOps: Seq[(String, String => Unit)] = {
    import graft.sources.SnapshotCatalog.{MergeInsertClause, MergeUpdateClause}
    def src = { val s2 = spark; import s2.implicits._
      Seq((5L, 50L), (6L, 60L)).toDF("id", "v") }
    Seq(
      "deleteWhere" -> (root => SnapshotCatalog.deleteWhere(spark, root,
        col("id").between(5L, 6L))),
      "mergeOnRead" -> (root => SnapshotCatalog.mergeOnRead(spark, root, src,
        Seq("id"), "u0")),
      "mergeInto" -> (root => SnapshotCatalog.mergeInto(spark, root, src,
        Seq("id"), Seq(MergeUpdateClause(None, Seq("v" -> col("__src_v")))),
        Seq(MergeInsertClause(None, Seq("id" -> col("__src_id"),
          "v" -> col("__src_v")))), "g0")),
      "updateWhere" -> (root => SnapshotCatalog.updateWhere(spark, root,
        col("id").between(5L, 6L), Seq("v" -> (col("v") + 1L)), "up0")))
  }

  private val racers: Seq[(String, String => Unit)] = Seq(
    "an overlapping append" -> { root =>
      val s2 = spark; import s2.implicits._
      SnapshotCatalog.append(Seq((6L, 0L)).toDF("id", "v").coalesce(1), root, "race")
    },
    "a compaction rewriting its files" -> { root =>
      assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c0",
        maxLiveFiles = 0, minMergeFanout = 2).isDefined)
    })

  // deleteWhere and mergeOnRead against an overlapping append are the
  // dedicated tests above, which also pin the retry after the abort
  for ((op, runOp) <- rowLevelOps; (racer, race) <- racers
       if racer != "an overlapping append" || !Set("deleteWhere", "mergeOnRead")(op))
    test(s"$op aborts as stale when $racer wins its version, and deletes its staged DV batch") {
      val root = threeFileTable("graft_rlrace_")
      val injector = new RaceInjector(root, () => race(root), armFor = "commit-v4.txt")
      SnapshotCatalog.withPublisher(injector) {
        val e = intercept[java.util.ConcurrentModificationException](runOp(root))
        assert(e.getMessage.contains("stale"), e.getMessage)
      }
      assert(SnapshotCatalog.latestVersion(root) == 4, "the racer's commit must be the only one")
      assertNoDvLitter(root)
    }

  test("maintainIfNeeded reports an expired intervening commit as a stale snapshot") {
    val root = threeFileTable("graft_mtexpire_")
    val spark2 = spark
    import spark2.implicits._
    // the compaction loses version 4 to three appends, and an expire then
    // drops version 4: the pass cannot prove its rewrite still applies
    val expiring = new RaceInjector(root, { () =>
      (0 until 3).foreach(i => SnapshotCatalog.append(
        Seq((100L + i, 0L)).toDF("id", "v").coalesce(1), root, s"r$i"))
      SnapshotCatalog.expire(root, keepLast = 2)
    }, armFor = "commit-v4.txt", forceLoss = true)
    SnapshotCatalog.withPublisher(expiring) {
      val e = intercept[java.util.ConcurrentModificationException] {
        SnapshotCatalog.maintainIfNeeded(spark, root, "c0", maxLiveFiles = 0,
          minMergeFanout = 2)
      }
      assert(e.getMessage.contains("expired") && e.getMessage.contains("stale"),
        e.getMessage)
    }
    assert(SnapshotCatalog.latestVersion(root) == 6)
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root).count() == 33L)
  }

  // A drop deletes the whole root (GraftCatalog.dropTable), and a table
  // recreated there numbers its versions from 1 again — below, at or
  // past the version the delete read. The delete lost version 4 to the
  // dropped table; its retry must not publish into the new one.
  for (recommits <- Seq(1, 3, 5))
    test(s"deleteWhere aborts as stale when its table is dropped and recreated up to version $recommits under it") {
      val root = threeFileTable("graft_rlrecreate_")
      val spark2 = spark
      import spark2.implicits._
      val injector = new RaceInjector(root, { () =>
        val p = new Path(root)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        (1 to recommits).foreach(i => SnapshotCatalog.append(
          Seq((100L + i, 0L)).toDF("id", "v").coalesce(1), root, s"n$i"))
      }, armFor = "commit-v4.txt", forceLoss = true)
      SnapshotCatalog.withPublisher(injector) {
        val e = intercept[java.util.ConcurrentModificationException] {
          SnapshotCatalog.deleteWhere(spark, root, col("id").between(5L, 6L))
        }
        assert(e.getMessage.contains("stale"), e.getMessage)
      }
      assert(SnapshotCatalog.latestVersion(root) == recommits)
      assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root).select("id").as[Long]
        .collect().sorted.toSeq == (1 to recommits).map(100L + _))
      assertNoDvLitter(root)
    }

  test("replacePartitions deletes the DV re-land batch of every CAS attempt it loses") {
    val root = graft.streaming.Streams.dataDir("graft_rpreland_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 20L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "p").coalesce(1), root, "b0", partitionBy = Seq("p"))
    // DVs in both partitions: overwriting `a` re-lands the `b` positions
    SnapshotCatalog.deleteWhere(spark, root, col("id") <= 4L)
    // a racer takes the overwrite's first version; the retry re-lands again
    val injector = new RaceInjector(root,
      () => SnapshotCatalog.append(Seq((99L, "c")).toDF("id", "p").coalesce(1),
        root, "race", partitionBy = Seq("p")),
      armFor = "commit-v3.txt")
    SnapshotCatalog.withPublisher(injector) {
      val (v, nT) = SnapshotCatalog.replacePartitions(spark, root,
        Seq((100L, "a")).toDF("id", "p"), "o0")
      assert(v == 4 && nT == 1, s"overwrite landed at $v touching $nT")
    }
    assertNoDvLitter(root)
    val relands = new java.io.File(s"$root/dv").listFiles().count(_.getName.startsWith("w"))
    assert(relands == 1, s"$relands re-land batches: lost attempts left theirs behind")
    // partition b keeps its delete of ids 1 and 3; a holds only the overwrite
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root)
      .select("id").as[Long].collect().sorted.toSeq ==
      ((5L to 19L by 2L) ++ Seq(99L, 100L)))
  }

  // -- DV orphan GC ------------------------------------------------------

  test("a zero-match merge leaves no DV batch behind; sweepOrphans GCs uncommitted DV litter past the grace window") {
    val root = graft.streaming.Streams.dataDir("graft_dvleak_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(
      (1L to 20L).map(i => (i, i)).toDF("id", "v").coalesce(1), root, "b0")
    // merge with NO matching keys: pure insert — its staged DV batch is
    // empty and must be cleaned up, not leaked forever
    SnapshotCatalog.mergeOnRead(spark, root,
      Seq((999L, 1L)).toDF("id", "v"), Seq("id"), "u0")
    val dvDir = new java.io.File(s"$root/dv")
    assert(!dvDir.exists() || dvDir.listFiles().isEmpty,
      "zero-match merge leaked its empty DV batch")
    // a real delete's DV batch is committed and must SURVIVE the sweep
    val (_, nDel) = SnapshotCatalog.deleteWhere(spark, root, col("id") % 10 === 0)
    assert(nDel == 2L)
    // crash litter: a DV batch written but never committed
    val litter = s"$root/dv/crashed"
    Seq(("file:///nowhere", 0L)).toDF("__dv_file", "__dv_pos")
      .coalesce(1).write.parquet(litter)
    assert(SnapshotCatalog.sweepOrphans(root, graceMs = 3600000L) == 0,
      "sweep GC'd inside the grace window")
    assert(SnapshotCatalog.sweepOrphans(root, graceMs = 0L) > 0)
    assert(!new java.io.File(litter).exists(), "uncommitted DV batch survived the sweep")
    // the committed DVs still apply
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root).count() == 19L)
  }

  // -- unsigned-UTF-8 string pruning --------------------------------------

  test("string pruning orders by unsigned UTF-8 bytes: non-ASCII data where UTF-16 order diverges is never wrongly skipped") {
    val root = graft.streaming.Streams.dataDir("graft_utf8prune_")
    val spark2 = spark
    import spark2.implicits._
    // U+10000 (surrogate pair, UTF-8 f0 90 80 80) vs U+E000 (ee 80 80):
    // bytewise U+10000 > U+E000, but Java UTF-16 order says the
    // OPPOSITE (0xD800 < 0xE000) — the exact divergence that made the
    // old String-compare skip a file containing matching rows
    val supp = new String(Character.toChars(0x10000))
    val e000 = "\ue000"
    SnapshotCatalog.append(Seq((1L, supp)).toDF("id", "k").coalesce(1), root, "b0")
    SnapshotCatalog.append(Seq((2L, "apple")).toDF("id", "k").coalesce(1), root, "b1")
    // Spark's own row comparison is bytewise: the supplementary row
    // matches k >= U+E000, so the pruned scan MUST keep its file
    val df = SnapshotFileIndex.snapshotDF(spark, root).filter(col("k") >= e000)
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L),
      "bytewise pruning lost the supplementary-plane row")
    assert(SnapshotFileIndex.scannedFiles(df) == 1L,
      "the ASCII file should still prune away")
    // same order on a closed range read: [U+E000, U+10001] contains
    // U+10000 bytewise (Java order would skip the file)
    val hi = new String(Character.toChars(0x10001))
    val (Array(rowS), nS, totS) = SnapshotFileIndex.collectScanned(
      SnapshotCatalog.readSnapshot(spark, root).where(col("k").between(e000, hi))
        .agg(count(lit(1))), root)
    assert(totS == 2 && nS == 1, s"read $nS/$totS files")
    assert(rowS.getLong(0) == 1L)
  }

  test("a file's string stats merge its row groups by unsigned UTF-8 bytes: a U+E000 row group is never masked by a U+10000 one") {
    val root = graft.streaming.Streams.dataDir("graft_utf8groups_")
    val spark2 = spark
    import spark2.implicits._
    // ONE file whose first row groups hold only U+E000 (ee 80 80) and
    // whose last hold only U+10000 (f0 90 80 80): the file's bytewise
    // min is U+E000, while a UTF-16 merge of the row-group stats would
    // record U+10000 and prune the file away for `k = U+E000`
    val supp = new String(Character.toChars(0x10000))
    val e000 = "\ue000"
    val rows = (0 until 400).map(i => (i.toLong, if (i < 200) e000 else supp))
    graft.core.GraftSession.withConf(spark, "parquet.block.row.count.limit" -> "50") {
      SnapshotCatalog.append(rows.toDF("id", "k").coalesce(1), root, "b0")
    }
    val files = SnapshotCatalog.manifestFiles(root, SnapshotCatalog.latestVersion(root))
    assert(files.size == 1, s"expected one file, got ${files.size}")
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(files.head), spark.sessionState.newHadoopConf()))
    val nGroups = try reader.getFooter.getBlocks.size finally reader.close()
    assert(nGroups >= 2, s"the file must span several row groups, has $nGroups")
    val (Array(row), nRead, _) = SnapshotFileIndex.collectScanned(
      SnapshotCatalog.readSnapshot(spark, root).where(col("k") === e000)
        .agg(count(lit(1))), root)
    assert(row.getLong(0) == 200L, "the U+E000 rows were pruned away")
    assert(nRead == 1L)
  }

  // -- size-gated DV anti-join on the planner-integrated serve path -------

  test("snapshotDF degrades the DV anti-join to a shuffle past the broadcast gate; broadcasts under it") {
    val root = graft.streaming.Streams.dataDir("graft_dvgate_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 100L).toDF("id").coalesce(1), root, "b0")
    SnapshotCatalog.deleteWhere(spark, root, col("id") % 2 === 0L)
    val expect = (1L to 100L).filter(_ % 2 == 1).toSet
    def servedPlan(): (Set[Long], String) = {
      val df = SnapshotFileIndex.snapshotDF(spark, root)
      val got = df.collect().map(_.getLong(0)).toSet
      (got, df.queryExecution.executedPlan.toString)
    }
    // under the gate (default 64 MB): DV side broadcasts
    val (gotB, planB) = servedPlan()
    assert(gotB == expect)
    assert(planB.contains("BroadcastHashJoin") && planB.contains("LeftAnti"),
      s"small DV set should broadcast:\n$planB")
    // past the gate the DV side is merge-hinted: the frame built under
    // a 1-byte ceiling plans a shuffle even once the ceiling is back at
    // 64 MB, where an unhinted kilobyte side would auto-broadcast
    val pastServed = pastTheGate(SnapshotFileIndex.snapshotDF(spark, root))
    val pastRead = pastTheGate(SnapshotCatalog.readSnapshotWithDeletes(spark, root))
    for (df <- Seq(pastServed, pastRead)) {
      assert(df.collect().map(_.getLong(0)).toSet == expect, "gated plan changed results")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
        s"DV side past the gate must shuffle:\n$p")
      assert(!p.contains("BroadcastHashJoin"),
        s"DV side past the gate must not broadcast:\n$p")
    }
    // a session that disables broadcasting gets no gated broadcast
    val (gotOff, planOff) = graft.core.GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(servedPlan())
    assert(gotOff == expect)
    assert(!planOff.contains("BroadcastHashJoin"),
      s"a disabled threshold must mean no DV broadcast:\n$planOff")
  }

  test("the row-level ops' DV join rides the same gate: deleteWhere broadcasts under it, merge-joins past it and with broadcasting disabled") {
    val root = graft.streaming.Streams.dataDir("graft_dvgate_dml_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 100L).toDF("id").coalesce(1), root, "b0")
    SnapshotCatalog.deleteWhere(spark, root, col("id") % 2 === 0L)
    // every later deleteWhere matches against the live rows, so its DV
    // batch write carries the anti join against the DVs already present
    def dvJoinPlan(cond: org.apache.spark.sql.Column): String =
      capturePlans(SnapshotCatalog.deleteWhere(spark, root, cond))(
          _.exists(_.executedPlan.toString.contains("LeftAnti")))._2
        .map(_.executedPlan.toString).filter(_.contains("LeftAnti")).mkString("\n")
    val under = dvJoinPlan(col("id") % 3 === 0L)
    assert(under.contains("BroadcastHashJoin"),
      s"under the gate the DML DV join should broadcast:\n$under")
    // AQE's runtime broadcast stays on past the gate; the merge hint
    // must still hold the join to a shuffle
    val past = pastTheGate(dvJoinPlan(col("id") % 5 === 0L))
    assert(past.contains("SortMergeJoin") && !past.contains("BroadcastHashJoin"),
      s"past the gate the DML DV join must shuffle:\n$past")
    val off = graft.core.GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(dvJoinPlan(col("id") % 7 === 0L))
    assert(!off.contains("BroadcastHashJoin"),
      s"a disabled threshold must mean no DML DV broadcast:\n$off")
    val expect = (1L to 100L)
      .filter(i => i % 2 != 0 && i % 3 != 0 && i % 5 != 0 && i % 7 != 0)
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root)
      .collect().map(_.getLong(0)).toSet == expect.toSet)
  }
}
