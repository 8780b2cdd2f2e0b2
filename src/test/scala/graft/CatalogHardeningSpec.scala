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

  /** Every DV batch under `root/dv` and every data batch under
    * `root/data` is one a surviving version references: an aborted or
    * failed row-level op deleted the batches it staged. */
  private def assertNoStagedLitter(root: String): Unit = {
    def uri(p: String) = new Path(p).toUri.getPath
    val versions = SnapshotCatalog.versions(root)
    val referenced = versions.flatMap(v =>
      SnapshotCatalog.dvFiles(root, v) ++ SnapshotCatalog.manifestFiles(root, v)).map(uri).toSet
    val litter = Seq("dv", "data").flatMap { kind =>
      val batches = Option(new java.io.File(s"$root/$kind").listFiles()).toSeq.flatten
        .filter(_.isDirectory)
      batches.filterNot(b => SnapshotCatalog.listDataFiles(b.getPath)
        .exists(f => referenced.contains(uri(f)))).map(b => s"$kind/${b.getName}")
    }
    assert(litter.isEmpty, s"unreferenced staged batches left behind: ${litter.mkString(", ")}")
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
    assertNoStagedLitter(root)
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
    assertNoStagedLitter(root)
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
    assertNoStagedLitter(root)
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
    assertNoStagedLitter(root)
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
      assertNoStagedLitter(root)
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
    assertNoStagedLitter(root)
  }

  test("mergeInto refuses a target row matched by two source rows while staging, and leaves no DV batch") {
    import graft.sources.SnapshotCatalog.MergeUpdateClause
    val root = threeFileTable("graft_multimatch_")
    val spark2 = spark
    import spark2.implicits._
    // id 25 matches twice; ids 5 and 15 once each, in other files
    val e = intercept[Exception] {
      SnapshotCatalog.mergeInto(spark, root,
        Seq((5L, 1L), (25L, 2L), (15L, 3L), (25L, 4L)).toDF("id", "v"), Seq("id"),
        Seq(MergeUpdateClause(None, Seq("v" -> col("__src_v")))), Seq.empty, "g0")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("multiple source rows")), e.toString)
    assert(SnapshotCatalog.latestVersion(root) == 3, "the refused merge committed")
    assertNoStagedLitter(root)
  }

  test("an append whose version was taken and then expired under it retries past the floor instead of republishing the freed slot") {
    val root = graft.streaming.Streams.dataDir("graft_expireslot_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append(Seq(1L).toDF("id").coalesce(1), root, "b0")
    // before the append publishes v2: three appends take v2..v4 and an
    // expire keeps (3, 4), so commit-v2 is gone under a floor at 3
    val expiring = new RaceInjector(root, { () =>
      (0 until 3).foreach(i => SnapshotCatalog.append(
        Seq(100L + i).toDF("id").coalesce(1), root, s"r$i"))
      SnapshotCatalog.expire(root, keepLast = 2)
    }, armFor = "commit-v2.txt")
    val v = SnapshotCatalog.withPublisher(expiring) {
      SnapshotCatalog.append(Seq(7L).toDF("id").coalesce(1), root, "late")
    }
    assert(v == 5, s"the append reported version $v")
    assert(SnapshotCatalog.versions(root) == Seq(3, 4, 5))
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 7L, 100L, 101L, 102L))
  }

  // A CHECK constraint fails the data-batch write of a row-level op
  // after its DV batch is staged: neither batch may outlive the failure.
  for ((op, runOp) <- rowLevelOps if op != "deleteWhere")
    test(s"$op failing a CHECK constraint while staging its data deletes both staged batches") {
      val root = threeFileTable("graft_rlcheck_")
      SnapshotCatalog.addConstraint(spark, root, "v_is_id", "v = id")
      val e = intercept[Exception](runOp(root))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("v_is_id")), e.toString)
      assert(SnapshotCatalog.latestVersion(root) == 4, "the failed op must not commit")
      assertNoStagedLitter(root)
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
      assertNoStagedLitter(root)
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
    assertNoStagedLitter(root)
    val relands = new java.io.File(s"$root/dv").listFiles().count(_.getName.startsWith("w"))
    assert(relands == 1, s"$relands re-land batches: lost attempts left theirs behind")
    // partition b keeps its delete of ids 1 and 3; a holds only the overwrite
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root)
      .select("id").as[Long].collect().sorted.toSeq ==
      ((5L to 19L by 2L) ++ Seq(99L, 100L)))
  }

  // -- the one commit loop ----------------------------------------------

  private lazy val warehouse: String = {
    val dir = graft.streaming.Streams.dataDir("graft_warehouse_hard_")
    spark.conf.set("spark.sql.catalog.hard", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.hard.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hard.db")
    dir
  }
  private val tableIds = new java.util.concurrent.atomic.AtomicInteger()

  private def rows(ids: Seq[Long]) = {
    val s2 = spark; import s2.implicits._
    ids.map(i => (i, i, if (i % 2 == 0) "a" else "b")).toDF("id", "v", "p").coalesce(1)
  }

  /** `hard.db.<name>` at `root`: two appends of ids 1..10 and 11..20
    * partitioned by `p`, so two files in each partition. */
  private def twoVersionTable(): (String, String) = {
    val name = s"w${tableIds.incrementAndGet()}"
    val root = s"$warehouse/db/$name"
    SnapshotCatalog.append(rows(1L to 10L), root, "b0", partitionBy = Seq("p"))
    SnapshotCatalog.append(rows(11L to 20L), root, "b1", partitionBy = Seq("p"))
    (name, root)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def writer(op: String)(prepare: (String, String) => () => Any) = op -> prepare

  /** Every catalog write that publishes through the commit loop: given
    * a table's name and root, any setup it needs, then the write. */
  private val writers: Seq[(String, (String, String) => () => Any)] = {
    import graft.sources.SnapshotCatalog.MergeUpdateClause
    Seq(
      writer("updateProperties") { (_, root) =>
        () => SnapshotCatalog.updateProperties(root)((_, p) => p + ("k" -> "v")) },
      writer("addConstraint") { (_, root) =>
        () => SnapshotCatalog.addConstraint(spark, root, "pos", "v > 0") },
      writer("dropConstraint") { (_, root) =>
        SnapshotCatalog.addConstraint(spark, root, "pos", "v > 0")
        () => SnapshotCatalog.dropConstraint(root, "pos") },
      writer("ALTER TABLE CLUSTER BY") { (name, _) =>
        () => spark.sql(s"ALTER TABLE hard.db.$name CLUSTER BY (id)") },
      writer("ALTER TABLE ADD COLUMNS") { (name, _) =>
        () => spark.sql(s"ALTER TABLE hard.db.$name ADD COLUMNS (z BIGINT)") },
      writer("REPLACE TABLE AS SELECT") { (name, _) =>
        () => spark.sql(s"REPLACE TABLE hard.db.$name AS SELECT CAST(1 AS BIGINT) AS id") },
      writer("commitRetry") { (_, root) =>
        () => SnapshotCatalog.commitRetry(root)(_ :+ s"$root/data/s/part-1.parquet") },
      writer("append") { (_, root) =>
        () => SnapshotCatalog.append(rows(Seq(21L)), root, "a0", partitionBy = Seq("p")) },
      writer("replace") { (_, root) =>
        () => SnapshotCatalog.replace(rows(Seq(21L)), root, "r0") },
      writer("replacePartitions") { (_, root) =>
        () => SnapshotCatalog.replacePartitions(spark, root, rows(Seq(22L)), "o0") },
      writer("restore") { (_, root) =>
        () => SnapshotCatalog.restore(root, 1) },
      writer("COPY INTO") { (_, root) =>
        val src = graft.streaming.Streams.dataDir("graft_copysrc_")
        rows(Seq(30L)).write.mode("overwrite").parquet(src)
        () => SnapshotCatalog.copyInto(spark, root, src) },
      writer("deleteWhere") { (_, root) =>
        () => SnapshotCatalog.deleteWhere(spark, root, col("id") === 5L) },
      writer("mergeOnRead") { (_, root) =>
        () => SnapshotCatalog.mergeOnRead(spark, root, rows(Seq(5L)), Seq("id"), "u0") },
      writer("mergeInto") { (_, root) =>
        () => SnapshotCatalog.mergeInto(spark, root, rows(Seq(5L)), Seq("id"),
          Seq(MergeUpdateClause(None, Seq("v" -> col("__src_v")))), Seq.empty, "g0") },
      writer("updateWhere") { (_, root) =>
        () => SnapshotCatalog.updateWhere(spark, root, col("id") === 5L,
          Seq("v" -> (col("v") + 1L)), "up0") },
      writer("maintainIfNeeded") { (_, root) =>
        () => SnapshotCatalog.maintainIfNeeded(spark, root, "c0", maxLiveFiles = 0,
          minMergeFanout = 2) })
  }

  /** Publisher whose every commit publish goes to `commit`, counted;
    * checkpoints publish normally. */
  private class CountingPublish(commit: (FileSystem, Path, Path) => Boolean)
      extends SnapshotCatalog.AtomicPublish {
    @volatile var attempts = 0
    def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean =
      if (!dest.getName.startsWith("commit-"))
        SnapshotCatalog.LocalLinkPublish.publish(fs, tmp, dest)
      else { attempts += 1; commit(fs, tmp, dest) }
  }

  for ((op, prepare) <- writers)
    test(s"$op gives up after 100 lost CAS races with the one message, and deletes what it staged") {
      val (name, root) = twoVersionTable()
      val run = prepare(name, root)
      val v0 = SnapshotCatalog.latestVersion(root)
      val losing = new CountingPublish((fs, tmp, _) => { fs.delete(tmp, false); false })
      val e = SnapshotCatalog.withPublisher(losing)(intercept[Exception](run()))
      assert(causes(e).exists(t => String.valueOf(t.getMessage)
        .endsWith(s" on $root lost 100 consecutive CAS races")), e.toString)
      assert(losing.attempts == 100, s"${losing.attempts} publish attempts")
      assert(SnapshotCatalog.latestVersion(root) == v0, "a losing writer committed")
      assertNoStagedLitter(root)
    }

  for ((op, prepare) <- writers)
    test(s"$op surfaces a non-race publish failure instead of silently spinning at the same version") {
      val (name, root) = twoVersionTable()
      val run = prepare(name, root)
      val v0 = SnapshotCatalog.latestVersion(root)
      val outage = new CountingPublish((fs, tmp, dest) => {
        val failing = new FilterFileSystem(fs) {
          override def create(f: Path, overwrite: Boolean)
              : org.apache.hadoop.fs.FSDataOutputStream =
            throw new java.io.IOException("injected store outage")
        }
        SnapshotCatalog.ConditionalPutPublish.publish(failing, tmp, dest)
      })
      val e = SnapshotCatalog.withPublisher(outage)(intercept[Exception](run()))
      assert(causes(e).exists {
        case io: java.io.IOException => io.getMessage.contains("injected")
        case _ => false
      }, e.toString)
      assert(outage.attempts == 1,
        s"a store outage must abort the retry loop, not spin (${outage.attempts} attempts)")
      assert(SnapshotCatalog.latestVersion(root) == v0, "the failed commit left residue")
    }

  test("ALTER TABLE CLUSTER BY keeps a CHECK constraint that a racing ADD CONSTRAINT landed under it") {
    val (name, root) = twoVersionTable()
    val injector = new RaceInjector(root,
      () => SnapshotCatalog.addConstraint(spark, root, "pos", "v > 0"),
      armFor = "commit-v3.txt")
    SnapshotCatalog.withPublisher(injector) {
      spark.sql(s"ALTER TABLE hard.db.$name CLUSTER BY (id)")
    }
    assert(SnapshotCatalog.latestVersion(root) == 4)
    val props = SnapshotCatalog.properties(root)
    assert(props.get("graft.constraints.pos").contains("v > 0"), s"constraint lost: $props")
    assert(props.get("graft.clusterBy").contains("id"), s"clustering lost: $props")
    val e = intercept[Exception] {
      SnapshotCatalog.append(rows(Seq(-2L)), root, "neg", partitionBy = Seq("p"))
    }
    assert(causes(e).exists(t => String.valueOf(t.getMessage).contains("pos")), e.toString)
  }

  test("ALTER TABLE CLUSTER BY checks its columns against the version it commits after, not the one it first read") {
    val (name, root) = twoVersionTable()
    val injector = new RaceInjector(root, { () =>
      spark.sessionState.catalogManager.catalog("hard")
        .asInstanceOf[graft.sources.GraftCatalog].alterTable(
          org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), name),
          org.apache.spark.sql.connector.catalog.TableChange.deleteColumn(Array("v"), false))
      ()
    }, armFor = "commit-v3.txt")
    val e = SnapshotCatalog.withPublisher(injector) {
      intercept[Exception](spark.sql(s"ALTER TABLE hard.db.$name CLUSTER BY (v)"))
    }
    assert(causes(e).exists(t => String.valueOf(t.getMessage)
      .contains("not in the table's schema")), e.toString)
    assert(SnapshotCatalog.latestVersion(root) == 3, "the refused CLUSTER BY committed")
    assert(!SnapshotCatalog.properties(root).contains("graft.clusterBy"))
  }

  // The shared spec guard: a replace that flattens the partition spec
  // wins the version a partitioned write was about to publish.
  private val specBoundWrites: Seq[(String, String => Any)] = Seq(
    "append" -> (root => SnapshotCatalog.append(rows(Seq(21L)), root, "a0",
      partitionBy = Seq("p"))),
    "replacePartitions" -> (root => SnapshotCatalog.replacePartitions(spark, root,
      rows(Seq(22L)), "o0")))

  for ((op, run) <- specBoundWrites)
    test(s"$op refuses when a replace moves the partition spec under it, and deletes its staged batch") {
      val (_, root) = twoVersionTable()
      val injector = new RaceInjector(root,
        () => SnapshotCatalog.replace(rows(1L to 4L), root, "flat"),
        armFor = "commit-v3.txt")
      val e = SnapshotCatalog.withPublisher(injector) {
        intercept[java.util.ConcurrentModificationException](run(root))
      }
      assert(e.getMessage.contains("partition spec moved"), e.getMessage)
      assert(SnapshotCatalog.latestVersion(root) == 3, "only the racer's replace may land")
      assert(SnapshotCatalog.partitionSpecAt(root, 3).isEmpty)
      assertNoStagedLitter(root)
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

  // -- one DV path at every broadcast ceiling ------------------------------

  /** The broadcast ceilings DV application must not depend on: the
    * session default, 1 byte (every DV set past any size gate, AQE's
    * runtime threshold still at 64 MB) and -1 (broadcasting disabled). */
  private def atEveryCeiling[A](body: => A): Seq[(String, A)] = Seq(
    "default" -> body,
    "1 byte" -> pastTheGate(body),
    "-1" -> graft.core.GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body))

  private def assertDvFilter(plan: String, what: String): Unit =
    assert(plan.contains("dv_listed") && !plan.contains("Join") && !plan.contains("Exchange"),
      s"$what must apply its DVs as a dv_listed filter, with no join and no exchange:\n$plan")

  test("snapshotDF and readSnapshotWithDeletes apply DVs as a dv_listed filter with no join or exchange at every broadcast ceiling") {
    val root = graft.streaming.Streams.dataDir("graft_dvgate_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 100L).toDF("id").coalesce(1), root, "b0")
    SnapshotCatalog.deleteWhere(spark, root, col("id") % 2 === 0L)
    val expect = (1L to 100L).filter(_ % 2 == 1).toSet
    val reads = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "snapshotDF" -> (() => SnapshotFileIndex.snapshotDF(spark, root)),
      "readSnapshotWithDeletes" -> (() => SnapshotCatalog.readSnapshotWithDeletes(spark, root)))
    for ((name, read) <- reads; (ceiling, (got, plan)) <- atEveryCeiling {
           val df = read()
           (df.collect().map(_.getLong(0)).toSet, df.queryExecution.executedPlan.toString)
         }) {
      assert(got == expect, s"$name at the $ceiling ceiling served the wrong rows")
      assertDvFilter(plan, s"$name at the $ceiling ceiling")
    }
  }

  test("deleteWhere applies the DVs already in effect as a dv_listed filter with no join or exchange at every broadcast ceiling") {
    val root = graft.streaming.Streams.dataDir("graft_dvgate_dml_")
    val spark2 = spark
    import spark2.implicits._
    SnapshotCatalog.append((1L to 100L).toDF("id").coalesce(1), root, "b0")
    SnapshotCatalog.deleteWhere(spark, root, col("id") % 2 === 0L)
    // every later deleteWhere matches against the live rows, so its DV
    // batch write carries the DVs already present; a plan that joined
    // them would be captured too, and fail
    def appliesDvs(p: String) = p.contains("Join") || p.contains("dv_listed")
    def dvPlan(cond: org.apache.spark.sql.Column): String =
      capturePlans(SnapshotCatalog.deleteWhere(spark, root, cond))(
          _.exists(qe => appliesDvs(qe.executedPlan.toString)))._2
        .map(_.executedPlan.toString).filter(appliesDvs).mkString("\n")
    val conds = Iterator(3L, 5L, 7L)
    for ((ceiling, plan) <- atEveryCeiling(dvPlan(col("id") % conds.next() === 0L)))
      assertDvFilter(plan, s"deleteWhere at the $ceiling ceiling")
    val expect = (1L to 100L)
      .filter(i => i % 2 != 0 && i % 3 != 0 && i % 5 != 0 && i % 7 != 0)
    assert(SnapshotCatalog.readSnapshotWithDeletes(spark, root)
      .collect().map(_.getLong(0)).toSet == expect.toSet)
  }
}
