package graft

import graft.dedup.DedupQueries
import org.apache.spark.sql.functions._

/** The LSH band-index MAINTENANCE lifecycle (d16): build → gate →
  * append admitted → compact → gate. Synthetic corpus with known
  * near-dup structure so every verdict is forced, including the one the
  * pre-d16 engine got wrong by omission: a near-dup of a PREVIOUSLY
  * ADMITTED doc must be flagged by the next gate (the index-update job
  * is what makes that happen), while a near-dup of a DROPPED doc must
  * NOT be (dropped docs' bands never enter the index — their cluster
  * representative already stands for them). */
class DedupIndexSpec extends SparkTestBase {

  private def words(p: String, n: Int): String =
    (0 until n).map(i => s"$p$i").mkString(" ")

  // existing corpus: doc 1 = A. batch1: doc 10 = A++B (near-dup of 1 →
  // dropped), doc 11 = C (unique → admitted). batch2: doc 20 ≈ C (near-
  // dup of ADMITTED 11 → must be flagged), doc 21 = B (near-dup ONLY of
  // DROPPED 10 → must pass: J(21,1)=0, so even a band collision with
  // doc 1 dies at the exact-Jaccard verify).
  private val A = words("alpha", 40)
  private val B = words("beta", 40)
  private val C = words("gamma", 40)

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, A),
      (10L, A + " " + B),
      (11L, C),
      (20L, C + " omega"),
      (21L, B + " tail")
    ).toDF("doc_id", "text")
  }

  test("d16 lifecycle: admitted docs gate the next batch; dropped docs don't") {
    val docs = fixture
    val indexDir = graft.streaming.Streams.dataDir("graft_d16spec_bands_")
    val shDir = graft.streaming.Streams.dataDir("graft_d16spec_shs_")
    DedupQueries.buildBandIndex(docs.filter(col("doc_id") < 10), indexDir, shDir)

    val batch1 = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
    val v1 = DedupQueries.gateBatch(spark, batch1, indexDir, shDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v1 == Map(10L -> true, 11L -> false),
      s"stage-1 verdicts wrong: $v1 (doc 10 must drop as a near-dup of doc 1; doc 11 is unique)")

    val admittedIds = {
      import spark.implicits._
      v1.filter(!_._2).keys.toSeq.toDF("doc_id")
    }
    val admitted = batch1.join(admittedIds, Seq("doc_id"), "left_semi")
    DedupQueries.appendBandIndex(admitted, indexDir, shDir)
    DedupQueries.compactBandIndex(spark, indexDir, shDir)

    val batch2 = docs.filter(col("doc_id") >= 20)
    val v2 = DedupQueries.gateBatch(spark, batch2, indexDir, shDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v2(20L), "doc 20 near-dups the ADMITTED doc 11 — the index update must make the gate flag it")
    assert(!v2(21L), "doc 21 near-dups only the DROPPED doc 10, whose bands must not be in the index")
  }

  test("appendBandIndexFromGate writes the SAME artifacts as appendBandIndex") {
    // the r19 reuse path (gate artifacts filtered to survivors) must be
    // byte-equivalent in CONTENT to re-running the signing kernel over
    // the admitted texts — same band rows, same shingle rows, same
    // batch id (so crash-replay dedup keys identically)
    import spark.implicits._
    val docs = fixture
    def build(): (String, String) = {
      val i = graft.streaming.Streams.dataDir("graft_d16spec_eqb_")
      val s = graft.streaming.Streams.dataDir("graft_d16spec_eqs_")
      DedupQueries.buildBandIndex(docs.filter(col("doc_id") < 10), i, s)
      (i, s)
    }
    val batch1 = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
    // path 1: the pre-r19 shape — re-sign the admitted texts
    val (i1, s1) = build()
    val v1 = DedupQueries.gateBatch(spark, batch1, i1, s1)
    DedupQueries.appendBandIndex(
      batch1.join(v1.filter(!col("dropped")), Seq("doc_id"), "left_semi"), i1, s1)
    // path 2: the reuse shape — filter the gate's own artifacts
    val (i2, s2) = build()
    val (v2, bands2, sh2) = DedupQueries.gateBatchWithArtifacts(spark, batch1, i2, s2)
    DedupQueries.appendBandIndexFromGate(bands2, sh2,
      v2.filter(!col("dropped")), i2, s2)
    def sorted(dir: String, cols: Seq[String]) =
      graft.sources.SnapshotCatalog.readTableOrDir(spark, dir)
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(sorted(i1, Seq("doc_id", "band_id", "band_hash")) ==
           sorted(i2, Seq("doc_id", "band_id", "band_hash")))
    assert(sorted(s1, Seq("doc_id", "sh")) == sorted(s2, Seq("doc_id", "sh")))
    // same batch-dir names => the replay-dedup identity fold agrees
    def batchDirs(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("b")).sorted.toSeq
    assert(batchDirs(i1) == batchDirs(i2), s"batch ids diverged: ${batchDirs(i1)} vs ${batchDirs(i2)}")
  }

  test("d17 retraction: near-dup of a DELETED doc is admitted; of a survivor still drops") {
    // stored corpus: doc 1 = A, doc 2 = C. Takedown deletes doc 1.
    // Ingest: doc 30 ≈ A (its only match was deleted → must be
    // ADMITTED, the ghost-free direction) and doc 31 ≈ C (matches the
    // SURVIVING doc 2 → must still drop).
    import spark.implicits._
    val docs = Seq(
      (1L, A),
      (2L, C),
      (30L, A + " omega"),
      (31L, C + " tail")
    ).toDF("doc_id", "text")
    val indexDir = graft.streaming.Streams.dataDir("graft_d17spec_bands_")
    val shDir = graft.streaming.Streams.dataDir("graft_d17spec_shs_")
    DedupQueries.buildBandIndex(docs.filter(col("doc_id") < 10), indexDir, shDir)

    // control: BEFORE retraction both ingest docs drop
    val pre = DedupQueries.gateBatch(spark, docs.filter(col("doc_id") >= 10),
        indexDir, shDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pre == Map(30L -> true, 31L -> true),
      s"pre-retraction control wrong: $pre (both ingest docs near-dup stored docs)")

    DedupQueries.retractBandIndex(spark, Seq(1L).toDF("doc_id"), indexDir, shDir)
    val post = DedupQueries.gateBatch(spark, docs.filter(col("doc_id") >= 10),
        indexDir, shDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(post == Map(30L -> false, 31L -> true),
      s"post-retraction verdicts wrong: $post (doc 30's only partner was deleted; doc 31 still matches doc 2)")

    // the retraction rewrote BOTH artifacts: no doc-1 rows anywhere
    import graft.sources.SnapshotCatalog
    assert(SnapshotCatalog.readSnapshot(spark, indexDir)
             .filter(col("doc_id") === 1L).isEmpty &&
           SnapshotCatalog.readSnapshot(spark, shDir)
             .filter(col("doc_id") === 1L).isEmpty,
      "retraction left ghost rows for the deleted doc")
  }

  test("st21 streaming lifecycle: gate drain -> artifact update -> next drain flags admitted-doc near-dups") {
    import graft.streaming.{StreamingQueries, Streams}
    val docs = fixture
    val indexDir = Streams.dataDir("graft_st21b_bands_")
    val arrDir = Streams.dataDir("graft_st21b_shs_")
    StreamingQueries.writeGateArtifacts(
      docs.filter(col("doc_id") < 10), indexDir, arrDir, mode = "overwrite")

    def stage(batch: org.apache.spark.sql.DataFrame): Streams.Staged =
      Streams.stage(batch.repartition(1), "graft_st21b_topic_")
    def drainFlagged(batch: org.apache.spark.sql.DataFrame): Set[Long] =
      StreamingQueries.dedupGateDrain(spark, stage(batch), indexDir, arrDir)
        .collect().map(_.getLong(0)).toSet

    val batch1 = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
    val flagged1 = drainFlagged(batch1)
    assert(flagged1 == Set(10L),
      s"stage-1 drain must flag exactly the near-dup of the stored corpus, saw $flagged1")

    // the index-update job between ingests: append gate SURVIVORS only
    StreamingQueries.writeGateArtifacts(
      batch1.filter(!col("doc_id").isin(flagged1.toSeq: _*)), indexDir, arrDir)

    val flagged2 = drainFlagged(docs.filter(col("doc_id") >= 20))
    assert(flagged2.contains(20L),
      "doc 20 near-dups the ADMITTED doc 11 — the artifact update must make the drained gate flag it")
    assert(!flagged2.contains(21L),
      "doc 21 near-dups only the DROPPED doc 10, whose bands must not be in the updated artifacts")
  }

  test("property: stored-index gateBatch ≡ full-pipeline verdicts on random corpora") {
    // d12/d16's central equivalence claim, exercised beyond the fixture:
    // for ANY corpus, probing the persisted band index (plus the batch's
    // own bands) must yield exactly the verdicts of running the full
    // verified-pairs pipeline and restricting to batch docs — because a
    // pair collides in a band the same way whether its bands were read
    // from parquet or recomputed. Seeded random corpora with planted
    // mutated near-dups across and within the split boundary.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 60).map(i => s"w$i")
    for (trial <- 0 until 3) {
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      for (i <- 0 until 60) {
        val text =
          if (i > 5 && rnd.nextDouble() < 0.4) {
            // mutated near-copy of an earlier doc (1-3 word swaps)
            val ws = docs(rnd.nextInt(docs.length))._2.split(" ").toBuffer
            for (_ <- 0 to rnd.nextInt(3))
              ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length))
            ws.mkString(" ")
          } else (0 until (10 + rnd.nextInt(30)))
            .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
        docs += ((i.toLong, text))
      }
      val df = docs.toSeq.toDF("doc_id", "text").localCheckpoint()
      val split = 40L
      val indexDir = graft.streaming.Streams.dataDir(s"graft_d16prop_bands_")
      val shDir = graft.streaming.Streams.dataDir(s"graft_d16prop_shs_")
      DedupQueries.buildBandIndex(df.filter(col("doc_id") < split), indexDir, shDir)
      val got = DedupQueries.gateBatch(spark, df.filter(col("doc_id") >= split),
          indexDir, shDir)
        .filter(col("dropped")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // full pipeline restricted to batch docs: ver pairs are (a < b),
      // so "dropped" is simply membership as doc_b with doc_b >= split
      val expect = DedupQueries.verifiedPairs(df)
        .filter(col("doc_b") >= split).select("doc_b")
        .collect().map(_.getLong(0)).toSet
      assert(got == expect,
        s"trial $trial: gate=$got != full-pipeline=$expect")
    }
  }

  test("compaction is content-neutral and collapses the append litter") {
    val docs = fixture
    val indexDir = graft.streaming.Streams.dataDir("graft_d16spec_c_bands_")
    val shDir = graft.streaming.Streams.dataDir("graft_d16spec_c_shs_")
    DedupQueries.buildBandIndex(docs.filter(col("doc_id") < 10), indexDir, shDir)
    DedupQueries.appendBandIndex(docs.filter(col("doc_id") === 11), indexDir, shDir)

    import graft.sources.SnapshotCatalog
    def snapshot(dir: String): Set[String] =
      SnapshotCatalog.readSnapshot(spark, dir).collect().map(_.mkString("|")).toSet
    val (idxBefore, shBefore) = (snapshot(indexDir), snapshot(shDir))
    DedupQueries.compactBandIndex(spark, indexDir, shDir, targetFiles = 2)
    assert(snapshot(indexDir) == idxBefore, "compaction changed index content")
    assert(snapshot(shDir) == shBefore, "compaction changed shingle-table content")
    // the LIVE manifest references ≤ targetFiles files
    def nFiles(p: String): Int =
      SnapshotCatalog.manifestFiles(p, SnapshotCatalog.latestVersion(p)).size
    assert(nFiles(indexDir) <= 2, s"index not compacted: ${nFiles(indexDir)} files")
    assert(nFiles(shDir) <= 2, s"shingle table not compacted: ${nFiles(shDir)} files")
  }
}
