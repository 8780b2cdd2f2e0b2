package graft.dedup

import graft.{GraftQuery, QueryPack}
import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication pack (north star; SURVEY §2 A12):
  *
  *   - exact dedup: hash-groupBy on content — one shuffle of (hash, id);
  *   - MinHash: 3-word shingles → k=8 permutation minima → 4-band LSH
  *     candidate join. The hash family is md5-prefixed-by-permutation-id,
  *     chosen because every engine computes the same md5 → the whole
  *     pipeline is oracle-verifiable (xxhash64 would be faster but is
  *     Spark-private; swap is a one-liner via `MinHash.hashFn`);
  *   - SimHash: 16-bit signature from md5-nibble parity votes per token.
  *
  * Scale: the LSH band join shuffles only (band_id, band_hash, doc_id)
  * tuples — candidate pairs are found without any doc×doc comparison.
  * Skewed buckets (boilerplate shingles) are handled by AQE skew-join.
  */
object DedupQueries extends QueryPack {

  /** Distinct `w`-word shingle ARRAY of `text` (empty when the doc has
    * <w words), via the native [[graft.functions.ShingleArray]]
    * expression — value-identical to the composed form it replaced
    * (ExtensionsSpec pins the equality) but one tight loop instead of
    * five interpreted higher-order functions (measured: st21b's corpus
    * signing pass 1.6 → 0.6 s at sf0.1). */
  def shingles(text: Column, w: Int = 3): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.ShingleArray(
        org.apache.spark.sql.graftbridge.Bridge.expression(text),
        org.apache.spark.sql.catalyst.expressions.Literal(w)))

  /** Engine-portable hash of a shingle under permutation `j`: an
    * 8-hex-char (32-bit) slice of one of TWO md5 digests — 2 md5 calls
    * per shingle yield all 8 permutation hashes (4× less md5 work than
    * digest-per-permutation; md5 is the dominant kernel of the whole
    * dedup pack, and subexpression elimination computes each digest once
    * per row across the 8 min-aggregates). Disjoint slices of a digest
    * are independent uniform 32-bit values — all MinHash needs — and
    * equal-length lower-hex strings compare lexicographically ==
    * numerically. Every engine computes the same md5, so the whole
    * pipeline diffs against the DuckDB oracle.
    *
    * Estimator-quality tradeoff vs the previous digest-per-permutation
    * family: slices of ONE digest are only pairwise-independent in the
    * random-oracle sense (not provably independent permutations), and a
    * 32-bit value space collides more often than 128 bits — both bias
    * the d05 Jaccard ESTIMATE marginally (≈2⁻³² collision mass; the
    * sketch literature accepts 32-bit minwise hashes at corpus scale).
    * Verification Jaccard is computed EXACTLY from shingle sets, so
    * only candidate recall, not emitted values, is affected; oracle
    * parity is untouched because both engines compute the same family. */
  def hashFn(j: Int, sh: Column): Column =
    substring(md5(concat(lit(s"${j / 4}:"), sh)), (j % 4) * 8 + 1, 8)

  /** Scale-path family: xxhash64 stays inside whole-stage codegen and is
    * ~4× cheaper per shingle than md5, but the values are Spark-private
    * (no cross-engine oracle). Production runs at 100 TB swap this in;
    * the MinHash math is family-agnostic (any hash that's uniform per
    * permutation works), which `DedupSeamSpec` pins. */
  def fastHashFn(j: Int, sh: Column): Column = xxhash64(lit(j), sh)

  val numHashes = 8

  /** Append sig0..sig7 to a frame carrying a shingle-ARRAY column `shs`
    * — the PER-ROW (zero-exchange) signing the st21 gate family uses.
    * Value-identical to `array_min(transform(shs, hashFn(j, _)))` per j
    * (ExtensionsSpec pins it), but it honors [[hashFn]]'s "2 digests, 8
    * slices" layout at the ARRAY layer too: the two md5 digest arrays
    * are computed ONCE per row in their own projection, and the 8 sig
    * columns only slice+min them. The composed per-j form pays 8 full
    * md5 passes per shingle array, because interpreted higher-order
    * functions get no common-subexpression elimination across
    * independent projection expressions (measured: the st21b corpus
    * signing job 1.9 s → this form 0.7 s at sf0.1). The two-step select
    * is load-bearing: CollapseProject keeps the digest projection
    * separate because its aliases are non-cheap and referenced 4× each. */
  def rowSignatures(df: DataFrame): DataFrame = {
    val keep = df.columns.map(col).toSeq
    val digs = (0 to 1).map(p =>
      transform(col("shs"), s => md5(concat(lit(s"$p:"), s))).as(s"__dig$p"))
    val sigs = (0 until numHashes).map { j =>
      array_min(transform(col(s"__dig${j / 4}"),
        d => substring(d, (j % 4) * 8 + 1, 8))).as(s"sig$j")
    }
    df.select(keep ++ digs: _*).select(keep ++ sigs: _*)
  }

  /** Exploded distinct-shingle ROWS of `text` via the native [[
    * graft.functions.NGrams]] generator — row-for-row identical to
    * `explode(shingles(text, w))` (ExtensionsSpec pins the equality,
    * including the <w-words and null edges), but ~8× faster: the
    * composed form's transform/slice/concat_ws/array_distinct stack is
    * CodegenFallback higher-order functions that allocate a full
    * intermediate shingle ARRAY per doc interpreted row-at-a-time,
    * while the generator emits rows from one tight split+LinkedHashSet
    * loop (measured at sf0.1: the corpus shingle pass 1.7–1.9 s → 0.2 s,
    * full signatures 2.5 → 1.0 s). This is the dominant kernel of the
    * whole dedup pack, so every exploded-shingle consumer routes here;
    * [[shingles]] stays the ARRAY form for consumers that keep the
    * per-doc array (st21's gate payloads). */
  def shingleRows(text: Column, w: Int = 3): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NGrams(
        org.apache.spark.sql.graftbridge.Bridge.expression(text),
        org.apache.spark.sql.catalyst.expressions.Literal(w)))

  /** The exploded (doc_id, sh) shingle relation — THE single corpus-text
    * pass every MinHash consumer derives from. */
  def shingleRelation(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleRows(col("text")).as("sh"))

  /** Row-local aligned 8-word chunking of a words array — THE chunk
    * definition (width, slicing rule) shared by every chunk-dedup
    * consumer: d14 (full exact-substring dedup), d15 (incremental
    * probe), and st26 (streaming scrub). Their verdict-equivalence
    * contracts hold only while all sides chunk identically, so no
    * consumer declares its own copy of this expression. Native
    * [[graft.functions.ChunkArray]] — value-identical to the
    * composed form it replaced (ExtensionsSpec pins it, null edges
    * included) in one tight loop instead of two interpreted
    * higher-order functions per row. */
  def chunkArray(ws: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.ChunkArray(
        org.apache.spark.sql.graftbridge.Bridge.expression(ws),
        org.apache.spark.sql.catalyst.expressions.Literal(8)))

  /** Aligned 8-word chunk relation (doc_id, chunk_pos, chunk), built
    * MAP-SIDE (transform + slice over the doc's own word array — no
    * explode/groupBy shuffle) from the shared [[chunkArray]] kernel. */
  def chunkRelation(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("ws"))
    .select(col("doc_id"), posexplode(chunkArray(col("ws"))))
    .toDF("doc_id", "chunk_pos", "chunk")

  /** Signatures from an already-exploded shingle relation (no text pass). */
  def signaturesFromShingles(sh: DataFrame,
                             family: (Int, Column) => Column = hashFn): DataFrame =
    sh.groupBy("doc_id")
      .agg(min(family(0, col("sh"))).as("sig0"),
           (1 until numHashes).map(j => min(family(j, col("sh"))).as(s"sig$j")): _*)

  /** doc_id + sig0..sig7 minhash signature columns under the given hash
    * family (default: the oracle-checkable md5 family). */
  def signatures(docs: DataFrame,
                 family: (Int, Column) => Column = hashFn): DataFrame =
    signaturesFromShingles(shingleRelation(docs), family)

  /** LSH band rows (doc_id, band_id, band_hash) from a signature table:
    * 4 bands × 2 sigs. */
  def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array(
        concat_ws("|", col("sig0"), col("sig1")),
        concat_ws("|", col("sig2"), col("sig3")),
        concat_ws("|", col("sig4"), col("sig5")),
        concat_ws("|", col("sig6"), col("sig7")))))
      .toDF("doc_id", "band_id", "band_hash")

  /** Banded candidate pairs (doc_a < doc_b) from band rows. */
  def candidatePairs(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** The full near-dup pipeline: LSH candidates verified by exact
    * shingle Jaccard (fixed-point e4), pairs with jaccard ≥ minJaccardE4.
    * Verification works on exploded (doc, shingle) rows — never whole
    * arrays (see d05's scaladoc). Persists the signature table; callers
    * run under Verify/Bench which clear cache per query. */
  def verifiedPairs(docs: DataFrame, minJaccardE4: Long = 2000,
                    checkpoint: Boolean = true,
                    broadcastVerifyMaxDocs: Long = 100000L): DataFrame = {
    // ONE pass over the corpus text: the exploded shingle relation is
    // persisted, and signatures, band rows, intersection counts AND
    // per-doc shingle counts all derive from that cache — at 100 TB the
    // tokenize+explode of the raw text runs once, not twice. The (small)
    // signature table is persisted too because candidatePairs self-joins
    // its band rows (Catalyst does not share common subplans).
    val sh = shingleRelation(docs).persist()
    val sig = signaturesFromShingles(sh).persist()
    try {
      val cand = candidatePairs(bandRows(sig))
      val scnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // The verify joins are size-gated on the MATERIALIZED corpus row
      // count (a metadata-only count — parquet footers, no scan), never
      // on optimizer estimates: past `broadcastVerifyMaxDocs` they are
      // EXPLICITLY shuffled (merge hints), because at 100 TB neither
      // the candidate list nor the per-doc count table fits one
      // executor's broadcast build — and the static auto-broadcast
      // threshold decides on plan ESTIMATES, which a ×100 stress
      // corpus put just under the session threshold while the actual
      // hashed-relation build (several × the payload, under a block
      // manager already holding the persisted shingle cache) OOM'd
      // the driver, three runs out of three. The shuffled form is
      // SCALE.md's documented plan for this stage — linear,
      // AQE-skew-splittable (d03's pinned behavior); below the gate
      // the planner's broadcast keeps fixture-scale runs fast.
      // PlanShapeSpec pins the large form via broadcastVerifyMaxDocs=0.
      val shuffleVerify = docs.count() > broadcastVerifyMaxDocs
      def shaped(df: DataFrame): DataFrame =
        if (shuffleVerify) df.hint("merge") else df
      val inter = cand
        .join(shaped(sh.toDF("doc_a", "sh")), "doc_a")
        .join(shaped(sh.toDF("doc_b", "sh")), Seq("doc_b", "sh"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(shaped(scnt.toDF("doc_a", "n_a")), "doc_a")
        .join(shaped(scnt.toDF("doc_b", "n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_inter"),
          (col("n_a") + col("n_b") - col("n_inter")).as("n_union"))
        .withColumn("jaccard_e4",
          floor(col("n_inter") * 10000.0 / col("n_union") + 0.5).cast(LongType))
        .filter(col("jaccard_e4") >= minJaccardE4)
        // Eagerly materialize the pair list (tiny relative to the corpus
        // by construction) and truncate lineage: the persisted signature
        // table can then be released HERE instead of leaking until the
        // harness clears the cache, and downstream consumers (d06's
        // keep-first anti-join build side) see a small materialized
        // table rather than a deep multi-stage plan re-planned under
        // their join. `checkpoint = false` is the plan-audit probe: the
        // checkpointed form's executed plan is one ExistingRDD scan,
        // which would hide the verify-stage join shapes from the specs.
        .transform(d => if (checkpoint) d.localCheckpoint() else d)
    } finally {
      sig.unpersist(blocking = false)
      sh.unpersist(blocking = false)
    }
  }

  // ---- LSH band-index MAINTENANCE (d16) ------------------------------
  // The d12 loop's missing half: d12 PROBES a persisted band index at
  // O(batch), but nothing ever wrote admitted docs back — a near-dup of
  // a previously-admitted doc would sail through every later gate. These
  // four functions close the lifecycle: build → gate → append → compact,
  // the same shape as the ANN side's s15 append / s19-s20 retrain.
  // Artifacts are two parquet tables: the band index
  // (doc_id, band_id, band_hash) and the exploded shingle table
  // (doc_id, sh) the verify stage fetches candidate shingles from.
  // At 100 TB both live bucketed by their join keys (src05), so a gate's
  // probe join prunes to matching buckets and the append is a partition-
  // local write; compaction is the per-partition-dir src09 rewrite.

  /** The index artifacts commit through [[graft.sources.SnapshotCatalog]]
    * — every mutation (build, append, compact, retract) publishes a new
    * immutable snapshot version, so a gate probing the index while a
    * maintenance job rewrites it always resolves a COMPLETE version:
    * the directory-swap this replaced left a no-table window between
    * its two renames that a concurrent reader could land in. */
  private def writeIndex(docs: DataFrame, indexDir: String, shDir: String,
                         mode: String): Unit = {
    import graft.sources.SnapshotCatalog
    val sh = shingleRelation(docs).persist()
    try {
      // ONE text pass: bands derive from the persisted shingle relation.
      // The batch id derives from the INPUT's identity (count + id-hash
      // fold), not a random UUID: the catalog's replay dedup keys on the
      // batch name, so a replayed invocation with the same docs must
      // re-produce the same name or the storage-layer guard never fires
      // and the batch double-appends.
      val idSig = docs.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).head()
      val batch = s"b${idSig.getLong(0)}x${java.lang.Long.toHexString(
        if (idSig.isNullAt(1)) 0L else idSig.getLong(1))}"
      val bands = bandRows(signaturesFromShingles(sh))
      // The two commits land on DIFFERENT catalog roots with no
      // ordering contract between them (the lifecycle never probes
      // mid-update) — overlap them so each job's task tail back-fills
      // the other (guide §2.6); at scale the band write's shuffle and
      // the shingle write's scan are both wide.
      if (mode == "overwrite")
        graft.core.Par.both(
          SnapshotCatalog.replace(bands, indexDir, batch),
          SnapshotCatalog.replace(sh, shDir, batch))
      else
        graft.core.Par.both(
          SnapshotCatalog.append(bands, indexDir, batch),
          SnapshotCatalog.append(sh, shDir, batch))
      ()
    } finally sh.unpersist(blocking = false)
  }

  /** Builds the persisted LSH artifacts for an already-deduped corpus. */
  def buildBandIndex(docs: DataFrame, indexDir: String, shDir: String): Unit =
    writeIndex(docs, indexDir, shDir, "overwrite")

  /** Appends an ADMITTED batch's band + shingle rows to the persisted
    * artifacts — the index-update job that runs between ingests. Only
    * gate SURVIVORS may be appended: a dropped doc's bands must never
    * enter the index, or the doc it duplicated would stop being the
    * cluster's sole representative. */
  def appendBandIndex(admitted: DataFrame, indexDir: String, shDir: String): Unit =
    writeIndex(admitted, indexDir, shDir, "append")

  /** The index-update job fed from the GATE'S OWN artifacts instead of
    * the raw admitted docs: [[gateBatchWithArtifacts]] already shingled,
    * signed and banded the whole batch once to probe the index, so the
    * admitted survivors' band + shingle rows are a semi-join FILTER of
    * those materialized tables — not a second run of the signing kernel
    * over the admitted texts (one kernel pass per lifecycle stage, the
    * r18 deferral). Artifact CONTENT is identical to
    * [[appendBandIndex]] (same kernel produced the rows; the filter
    * only drops non-survivors), and the batch id derives from the same
    * (count, id-XOR) identity fold, so crash-replay dedup fires the
    * same way. The admitted-id list broadcasts — takedown/admission id
    * lists are batch-metadata-sized, the [[retractBandIndex]]
    * precedent; at 100 TB the same bucketed-layout note applies. */
  def appendBandIndexFromGate(spark: org.apache.spark.sql.SparkSession,
                              gateBands: DataFrame, gateSh: DataFrame,
                              admittedIds: DataFrame,
                              indexDir: String, shDir: String): Unit = {
    import graft.sources.SnapshotCatalog
    val ids = admittedIds.select("doc_id").localCheckpoint()
    val idSig = ids.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).head()
    val batch = s"b${idSig.getLong(0)}x${java.lang.Long.toHexString(
      if (idSig.isNullAt(1)) 0L else idSig.getLong(1))}"
    // independent roots, no ordering contract — overlap (guide §2.6)
    graft.core.Par.both(
      SnapshotCatalog.append(
        gateBands.join(broadcast(ids), Seq("doc_id"), "left_semi"),
        indexDir, batch),
      SnapshotCatalog.append(
        gateSh.join(broadcast(ids), Seq("doc_id"), "left_semi"),
        shDir, batch))
    ()
  }

  /** src09's compaction recipe applied to the index artifacts: each
    * append leaves a litter of small files, and the gate's probe join
    * pays per-file open cost on every micro-batch. Rewrites each table
    * range-clustered by its join keys into ≤ `targetFiles` files,
    * committed as a new catalog snapshot ([[rewriteSnapshot]]) — a
    * gate probing mid-compaction reads the pre- or post-compaction
    * version, never a partial or missing table. Content-neutral —
    * spec-pinned by DedupIndexSpec. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, shDir: String,
                       targetFiles: Int = 4): Unit = {
    def compactDir(dir: String, keys: Seq[String]): Unit =
      rewriteSnapshot(spark, dir) { df =>
        df.repartitionByRange(targetFiles, keys.map(col): _*)
          .sortWithinPartitions(keys.map(col): _*)
      }
    // independent roots, no ordering contract — overlap (guide §2.6)
    graft.core.Par.both(
      compactDir(indexDir, Seq("band_id", "band_hash", "doc_id")),
      compactDir(shDir, Seq("doc_id", "sh")))
    ()
  }

  /** Rewrite a catalog table's LIVE content through `f` — the new
    * generation lands as an immutable batch and a manifest referencing
    * ONLY it commits ([[graft.sources.SnapshotCatalog.replace]]); the
    * superseded generation keeps serving in-flight readers and is
    * GC'd by the trailing [[graft.sources.SnapshotCatalog.expire]] —
    * bounded BOTH ways: keepLast = 2 (the new version plus its
    * predecessor) and the catalog's vacuum-retention window
    * ([[graft.sources.SnapshotCatalog.maintenanceRetentionMs]]), so
    * back-to-back maintenance ops (d17 runs compact then retract in
    * milliseconds) can never GC a version a concurrent reader resolved
    * within the window. The directory swap this replaced had a window
    * with NO table between its renames. */
  private def rewriteSnapshot(spark: org.apache.spark.sql.SparkSession,
                              dir: String)(
                              f: DataFrame => DataFrame): Unit = {
    import graft.sources.SnapshotCatalog
    val rewritten = f(SnapshotCatalog.readTableOrDir(spark, dir))
    SnapshotCatalog.replace(rewritten, dir,
      "rw" + java.util.UUID.randomUUID().toString.take(8))
    SnapshotCatalog.expire(dir, keepLast = 2,
      minAgeMs = SnapshotCatalog.maintenanceRetentionMs)
    ()
  }

  /** d17: RETRACTION — the DELETE edge of the index lifecycle (s21's
    * discipline on the LSH side): remove a deleted doc set's band and
    * shingle rows so the gate stops flagging new docs against ghosts —
    * a near-dup of a deleted doc must be ADMITTED (its cluster
    * representative is gone; the corpus would otherwise silently lose
    * the content forever). Anti-join rewrite through the same
    * tmp-dir + swap as compaction. The deleted id set broadcasts
    * (takedown batches are small); at 100 TB the rewrite prunes to the
    * buckets holding deleted ids under the src05 bucketed layout, the
    * same way compaction batches per partition dir. */
  def retractBandIndex(spark: org.apache.spark.sql.SparkSession,
                       deleted: DataFrame,
                       indexDir: String, shDir: String): Unit = {
    val del = deleted.select(col("doc_id")).localCheckpoint()
    def retract(dir: String): Unit =
      rewriteSnapshot(spark, dir) { df =>
        df.join(broadcast(del), Seq("doc_id"), "left_anti")
      }
    // independent roots, no ordering contract — overlap (guide §2.6)
    graft.core.Par.both(retract(indexDir), retract(shDir))
    ()
  }

  /** Gates a new batch against the PERSISTED artifacts — d12's probe
    * shape reading the index from parquet instead of rebuilding it:
    * only the batch is shingled/signed; its band rows probe the stored
    * index (plus themselves, for within-batch dups); the verify stage
    * fetches stored shingles for CANDIDATE ids only (semi-join pushes
    * the id set into the shingle-table scan). Returns keep-first
    * verdicts (doc_id, dropped), MATERIALIZED before returning so a
    * caller may mutate the index afterwards without corrupting them. */
  def gateBatch(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                indexDir: String, shDir: String,
                minJaccardE4: Long = 2000): DataFrame =
    gateBatchWithArtifacts(spark, batch, indexDir, shDir, minJaccardE4)._1

  /** [[gateBatch]] that ALSO returns the batch's materialized gate
    * artifacts — (verdicts, band rows, exploded shingle rows), the
    * latter two checkpointed — so a following index-update step
    * ([[appendBandIndexFromGate]]) filters them to the survivors
    * instead of re-shingling and re-signing the admitted docs. */
  def gateBatchWithArtifacts(spark: org.apache.spark.sql.SparkSession,
                             batch: DataFrame,
                             indexDir: String, shDir: String,
                             minJaccardE4: Long = 2000)
      : (DataFrame, DataFrame, DataFrame) = {
    val shNew = shingleRelation(batch).localCheckpoint()
    locally {
      val newBands = bandRows(signaturesFromShingles(shNew))
        .localCheckpoint() // consumed twice: as probe AND probe-target
      val cand = graft.sources.SnapshotCatalog.readTableOrDir(spark, indexDir)
        .union(newBands).as("a")
        .join(newBands.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .localCheckpoint() // tiny; its ids gate the shingle fetch below
      val candStoredIds = cand.select(col("doc_a").as("doc_id")).distinct()
      val shStored = graft.sources.SnapshotCatalog.readTableOrDir(spark, shDir)
        .join(candStoredIds, Seq("doc_id"), "left_semi")
      val sh = shStored.union(shNew).persist()
      try {
        val scnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val ver = cand
          .join(sh.toDF("doc_a", "sh"), "doc_a")
          .join(sh.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_inter"))
          .join(scnt.toDF("doc_a", "n_a"), "doc_a")
          .join(scnt.toDF("doc_b", "n_b"), "doc_b")
          .filter(floor(col("n_inter") * 10000.0 /
              (col("n_a") + col("n_b") - col("n_inter")) + 0.5)
            .cast(LongType) >= minJaccardE4)
        val dropped = ver.select(col("doc_b").as("doc_id")).distinct()
        val verdicts = batch
          .join(dropped.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("is_dup"), lit(false)).as("dropped"))
          .localCheckpoint()
        (verdicts, newBands, shNew)
      } finally sh.unpersist(blocking = false)
    }
  }

  /** 16-bit SimHash signatures (doc_id, simhash16 bit-string): per
    * distinct token, md5 nibble j votes ±1 on bit j; signature bit =
    * sign of the vote sum. Near-dups differ in few bits (Hamming). */
  def simhash(docs: DataFrame): DataFrame = {
    val oddNibbles = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h", md5(col("w")))
    val votes = (0 until 16).map { j =>
      sum(when(substring(col("h"), j + 1, 1).isin(oddNibbles: _*), 1)
        .otherwise(-1)).as(s"v$j")
    }
    tok.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((0 until 16).map(j =>
          when(col(s"v$j") > 0, "1").otherwise("0")): _*).as("simhash16"))
  }

  /** Oracle twin of [[simhash]]: CTEs ending in `sim(doc_id, simhash16)`. */
  private val simhashCte =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |h AS (SELECT doc_id, md5(w) AS h FROM tok),
      |v AS (
      |  SELECT doc_id,
      |""".stripMargin +
      (0 until 16).map(j =>
        s"    sum(CASE WHEN substring(h, ${j + 1}, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS v$j")
        .mkString(",\n") +
      """
        |  FROM h GROUP BY doc_id),
        |sim AS (
        |  SELECT doc_id,
        |""".stripMargin +
      (0 until 16).map(j => s"  (CASE WHEN v$j > 0 THEN '1' ELSE '0' END)")
        .mkString(" ||\n") +
      " AS simhash16\nFROM v)\n"

  /** Shared oracle CTE prefix: shingles + signatures in DuckDB SQL. */
  private val sigCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(len(tk) - 2),
      |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sh
      |  FROM toks WHERE len(tk) >= 3),
      |sig AS (
      |  SELECT doc_id,
      |    min(substring(md5('0:' || sh), 1, 8))  AS sig0,
      |    min(substring(md5('0:' || sh), 9, 8))  AS sig1,
      |    min(substring(md5('0:' || sh), 17, 8)) AS sig2,
      |    min(substring(md5('0:' || sh), 25, 8)) AS sig3,
      |    min(substring(md5('1:' || sh), 1, 8))  AS sig4,
      |    min(substring(md5('1:' || sh), 9, 8))  AS sig5,
      |    min(substring(md5('1:' || sh), 17, 8)) AS sig6,
      |    min(substring(md5('1:' || sh), 25, 8)) AS sig7
      |  FROM sh GROUP BY doc_id)
      |""".stripMargin

  /** band + cand CTEs (banding and candidate mining) over `sig`/`sh`. */
  private val bandCandCte =
    """, band AS (
      |  SELECT doc_id, sig0 || '|' || sig1 AS bh, 0 AS band_id FROM sig
      |  UNION ALL SELECT doc_id, sig2 || '|' || sig3, 1 FROM sig
      |  UNION ALL SELECT doc_id, sig4 || '|' || sig5, 2 FROM sig
      |  UNION ALL SELECT doc_id, sig6 || '|' || sig7, 3 FROM sig),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM band a JOIN band b
      |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id)
      |""".stripMargin

  /** ver CTE: candidates verified by exact shingle Jaccard ≥ 0.2. */
  private val verifiedPairsCte = sigCte + bandCandCte +
    """, scnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.doc_a
      |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      |  GROUP BY c.doc_a, c.doc_b),
      |ver AS (
      |  SELECT i.doc_a, i.doc_b, i.n_inter,
      |    (ca.n + cb.n - i.n_inter) AS n_union,
      |    CAST(floor(i.n_inter * 10000.0 / (ca.n + cb.n - i.n_inter) + 0.5) AS BIGINT) AS jaccard_e4
      |  FROM inter i
      |  JOIN scnt ca ON ca.doc_id = i.doc_a
      |  JOIN scnt cb ON cb.doc_id = i.doc_b
      |  WHERE CAST(floor(i.n_inter * 10000.0 / (ca.n + cb.n - i.n_inter) + 0.5) AS BIGINT) >= 2000)
      |""".stripMargin

  /** st21's oracle: the FULL batch near-dup pipeline, restricted to
    * cross-split pairs (existing doc_a < split ≤ incoming doc_b) —
    * exactly the set the streaming ingest gate must flag. */
  val streamGateOracle: String = verifiedPairsCte +
    """, split AS (
      |  SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS v FROM documents)
      |SELECT DISTINCT doc_b AS doc_id FROM ver
      |WHERE doc_b >= (SELECT v FROM split)
      |  AND doc_a < (SELECT v FROM split)""".stripMargin

  /** st21b's oracle: the streaming gate -> index-update -> gate cycle.
    * Differs from d16's batch oracle in one clause: the stream gate
    * probes the STORED index only, so ingest-1 verdicts (drop1) admit
    * by cross-split pairs alone (no within-ingest doc_a), and ingest-2
    * flags (flag2) have no `doc_a >= v2` arm — within-ingest pairs are
    * the batch job's concern, not the gate's. */
  val gateUpdateCycleOracle: String = verifiedPairsCte +
    """, s AS (
      |  SELECT CAST(floor(max(doc_id) * 0.6) AS BIGINT) AS v1,
      |         CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS v2
      |  FROM documents),
      |drop1 AS (
      |  SELECT DISTINCT v.doc_b AS doc_id FROM ver v, s
      |  WHERE v.doc_b >= s.v1 AND v.doc_b < s.v2 AND v.doc_a < s.v1),
      |flag2 AS (
      |  SELECT DISTINCT v.doc_b AS doc_id FROM ver v, s
      |  WHERE v.doc_b >= s.v2
      |    AND (v.doc_a < s.v1
      |         OR (v.doc_a >= s.v1 AND v.doc_a < s.v2
      |             AND v.doc_a NOT IN (SELECT doc_id FROM drop1))))
      |SELECT d.doc_id, (f.doc_id IS NOT NULL) AS dropped
      |FROM documents d
      |LEFT JOIN flag2 f ON f.doc_id = d.doc_id
      |WHERE d.doc_id >= (SELECT v2 FROM s)""".stripMargin

  /** Shared decontamination CTE prefix (d08 + streaming st16): 4-gram
    * shingles split into eval (`ev`) and train (`tr`) slices. */
  val decontamCte: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh4 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(len(tk) - 3),
      |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
      |  FROM toks WHERE len(tk) >= 4),
      |ev AS (SELECT DISTINCT sh FROM sh4 WHERE doc_id % 50 = 0),
      |tr AS (SELECT doc_id, sh FROM sh4 WHERE doc_id % 50 <> 0),
      |""".stripMargin

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "d01_dedup_exact",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Exact dedup, keep-first: group by content hash, keep min doc_id.
        // Shuffles (md5, doc_id) only — never the 100 TB of text.
        val kept = t.documents
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("kept_doc_id"),
               count(lit(1)).as("n_copies"))
        kept.agg(count(lit(1)).as("n_distinct_docs"),
                 sum(col("n_copies")).as("n_total_docs"),
                 sum(when(col("n_copies") > 1, 1).otherwise(0)).as("n_dup_groups"),
                 sum(col("kept_doc_id")).as("kept_id_sum"))
      },
      Some("""SELECT count(*) AS n_distinct_docs,
             |  CAST(sum(n_copies) AS BIGINT) AS n_total_docs,
             |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
             |  CAST(sum(kept_doc_id) AS BIGINT) AS kept_id_sum
             |FROM (SELECT md5(text) AS h, min(doc_id) AS kept_doc_id, count(*) AS n_copies
             |      FROM documents GROUP BY md5(text))""".stripMargin),
      "A12/north star: exact dedup via content-hash groupBy, keep-first"),

    GraftQuery(
      "d02_minhash_sig",
      (spark, dir) => {
        val t = Tables(spark, dir)
        signatures(t.documents)
      },
      Some(sigCte + "SELECT * FROM sig"),
      "North star: MinHash signatures (k=8) over 3-word shingles"),

    GraftQuery(
      "d03_minhash_lsh_pairs",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // LSH banding: 4 bands × 2 rows. A pair collides if ANY band
        // matches. Distributed shape: explode each doc into 4 (band_id,
        // band_hash) rows, self-join per bucket — shuffle is O(docs×bands),
        // never O(docs²).
        val sig = signatures(t.documents)
        val cand = candidatePairs(bandRows(sig))
        // Re-rank candidates by estimated Jaccard = fraction of equal sigs.
        // sig feeds three subplans (bands + both re-rank sides): persist
        // it — Catalyst does not share common subplans, and at scale the
        // signature table is the thing you materialize once anyway.
        sig.persist()
        try {
          val a = sig.toDF(sig.columns.toIndexedSeq.map(c => s"a_$c"): _*)
          val b = sig.toDF(sig.columns.toIndexedSeq.map(c => s"b_$c"): _*)
          cand
            .join(a, col("doc_a") === col("a_doc_id"))
            .join(b, col("doc_b") === col("b_doc_id"))
            .select(col("doc_a"), col("doc_b"),
              (0 until numHashes)
                .map(j => when(col(s"a_sig$j") === col(s"b_sig$j"), 1).otherwise(0))
                .reduce(_ + _).as("n_equal_sigs"))
            // materialize the (small) re-ranked pair list so the persist
            // can be released here, not by the harness's cache clear
            .localCheckpoint()
        } finally sig.unpersist(blocking = false)
      },
      Some(sigCte + bandCandCte +
        """SELECT c.doc_a, c.doc_b,
          |  (CASE WHEN sa.sig0 = sb.sig0 THEN 1 ELSE 0 END +
          |   CASE WHEN sa.sig1 = sb.sig1 THEN 1 ELSE 0 END +
          |   CASE WHEN sa.sig2 = sb.sig2 THEN 1 ELSE 0 END +
          |   CASE WHEN sa.sig3 = sb.sig3 THEN 1 ELSE 0 END +
          |   CASE WHEN sa.sig4 = sb.sig4 THEN 1 ELSE 0 END +
          |   CASE WHEN sa.sig5 = sb.sig5 THEN 1 ELSE 0 END +
          |   CASE WHEN sa.sig6 = sb.sig6 THEN 1 ELSE 0 END +
          |   CASE WHEN sa.sig7 = sb.sig7 THEN 1 ELSE 0 END) AS n_equal_sigs
          |FROM cand c
          |JOIN sig sa ON sa.doc_id = c.doc_a
          |JOIN sig sb ON sb.doc_id = c.doc_b""".stripMargin),
      "North star: MinHash-LSH banded candidate pairs + sig-overlap re-rank"),

    GraftQuery(
      "d04_simhash",
      (spark, dir) => simhash(Tables(spark, dir).documents),
      Some(simhashCte + "SELECT doc_id, simhash16 FROM sim"),
      "North star: 16-bit SimHash signatures from token-hash parity votes"),

    GraftQuery(
      "d05_ngram_jaccard_pairs",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Full near-dup pipeline: LSH banding proposes candidates, exact
        // 3-shingle Jaccard verifies them (the expensive set comparison
        // runs only on candidate pairs — never n²). See verifiedPairs
        // for the exploded-shingle verification shape.
        verifiedPairs(t.documents)
          .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"), col("jaccard_e4"))
      },
      Some(verifiedPairsCte +
        "SELECT doc_a, doc_b, n_inter, n_union, jaccard_e4 FROM ver"),
      "North star: LSH candidates verified by exact shingle Jaccard (full near-dup pipeline)"),

    GraftQuery(
      "d06_neardup_keepfirst",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // The dedup DECISION layer: verified near-dup pairs → keep-first
        // removal verdicts per document. A doc is dropped when it is the
        // doc_b (higher id) of any verified pair — the one-pass
        // approximation of transitive clustering that corpus dedup ships
        // at scale (a drop-list anti-join over 100 TB, not union-find).
        // The drop list is tiny relative to the corpus → broadcast.
        val dropped = verifiedPairs(t.documents)
          .select(col("doc_b").as("doc_id")).distinct()
        t.documents
          .join(dropped.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("is_dup"), lit(false)).as("dropped"))
      },
      Some(verifiedPairsCte +
        """, drop AS (SELECT DISTINCT doc_b AS doc_id FROM ver)
          |SELECT d.doc_id, (dr.doc_id IS NOT NULL) AS dropped
          |FROM documents d
          |LEFT JOIN drop dr ON dr.doc_id = d.doc_id""".stripMargin),
      "North star: keep-first removal verdicts from verified near-dup pairs"),

    GraftQuery(
      "d07_neardup_clusters",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // The EXACT dedup decision layer: connected components over the
        // verified-pair graph (d06 ships the one-pass keep-first
        // approximation; this is the transitive-closure truth it
        // approximates). Iterative min-label propagation — each round a
        // (edges ⋈ labels) + min-agg, labels localCheckpoint'ed so the
        // plan stays O(1) deep; converges in O(diameter) ≤ O(log n)
        // rounds for near-dup graphs, whose components are tiny and
        // star-like. This is the GraphX-free CC shape that runs on any
        // DataFrame cluster; the label table is (id, id) longs — orders
        // of magnitude smaller than the corpus.
        clusterLabels(verifiedPairs(t.documents).select(col("doc_a"), col("doc_b")))
          .withColumnRenamed("label", "cluster_id")
      },
      Some(verifiedPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
        """, edges AS (
          |  SELECT doc_a AS s, doc_b AS d FROM ver
          |  UNION SELECT doc_b, doc_a FROM ver),
          |reach(doc_id, r) AS (
          |  SELECT s, s FROM edges
          |  UNION
          |  SELECT e.s, r.r FROM edges e JOIN reach r ON r.doc_id = e.d)
          |SELECT doc_id, min(r) AS cluster_id
          |FROM reach GROUP BY doc_id""".stripMargin),
      "North star: transitive near-dup clusters (connected components over verified pairs)"),

    GraftQuery(
      "d08_decontaminate",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Benchmark decontamination (the published train/eval n-gram
        // overlap check, e.g. GPT-3 appx C's 13-gram rule; width 4 here —
        // the synthetic corpus's tiny vocab kills longer overlaps):
        // eval membership = doc_id % 50 == 0 (stand-in benchmark slice);
        // a train doc is contaminated where it shares a 4-token shingle
        // with any eval doc. Scale shape: eval benchmarks are thousands
        // of docs vs a 100 TB train corpus — the distinct eval-shingle
        // set BROADCASTS, and the train side streams through one explode
        // + hash-agg; the train corpus is never shuffled pairwise.
        val docs = t.documents
        val evalSh = docs.filter(col("doc_id") % 50 === 0)
          .select(shingleRows(col("text"), 4).as("sh")).distinct()
        val trainSh = docs.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), shingleRows(col("text"), 4).as("sh"))
        val nSh = trainSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        trainSh.join(broadcast(evalSh), "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
          .join(nSh, "doc_id")
          .select(col("doc_id"), col("n_contaminated"), col("n_shingles"),
            floor(col("n_contaminated") * 10000.0 / col("n_shingles") + 0.5)
              .cast(LongType).as("contam_frac_e4"))
      },
      Some(decontamCte +
        """cnt AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY 1),
             |hit AS (
             |  SELECT t.doc_id, count(*) AS n_contaminated
             |  FROM tr t JOIN ev USING (sh) GROUP BY 1)
             |SELECT h.doc_id, CAST(h.n_contaminated AS BIGINT) AS n_contaminated,
             |  CAST(c.n_shingles AS BIGINT) AS n_shingles,
             |  CAST(floor(h.n_contaminated * 10000.0 / c.n_shingles + 0.5) AS BIGINT) AS contam_frac_e4
             |FROM hit h JOIN cnt c USING (doc_id)""".stripMargin),
      "North star: benchmark decontamination — train/eval 4-gram overlap, broadcast eval set"),

    GraftQuery(
      "d18_leakage_report",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // d08's REVERSE direction — the eval-side leakage report an LM
        // eval team publishes: for each BENCHMARK doc, what fraction of
        // its 4-gram shingles appears anywhere in the train corpus
        // ("this eval item is compromised"), not which train docs to
        // scrub. Scale shape differs from d08 in the decisive way: here
        // the TRAIN side is the 100 TB corpus and must never shuffle —
        // the eval shingle set broadcasts INTO the train stream
        // (left-semi) to surface the hit shingles, the hit set (≤ eval
        // size by construction) broadcasts BACK onto the per-doc eval
        // rows, and the train corpus streams through exactly one
        // explode + semi-join. The compromised flag trips at ≥20 % of
        // a doc's shingles leaked (integer-form threshold).
        val docs = t.documents
        // no .distinct() on (doc_id, sh): the NGrams generator emits each
        // doc's shingles ALREADY distinct, so the dedup was a no-op whose
        // full shuffle got frozen into the cache at the session's raw
        // shuffle-partition count (cached plans skip AQE coalescing —
        // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning),
        // which made every downstream read of the persisted relation pay
        // 32 near-empty tasks; measured 32-core 1.31 s vs 8-core 0.80 s
        // at sf0.1 from exactly this, the PERF_r18 d18 scaling outlier.
        val evSh = docs.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id"), shingleRows(col("text"), 4).as("sh"))
          .persist()
        val hitSh = docs.filter(col("doc_id") % 50 =!= 0)
          .select(shingleRows(col("text"), 4).as("sh"))
          .join(broadcast(evSh.select("sh").distinct()), Seq("sh"), "left_semi")
          .distinct()
        val nSh = evSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        evSh.join(broadcast(hitSh), Seq("sh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_leaked"))
          .join(nSh, Seq("doc_id"), "right")
          .select(col("doc_id"),
            coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
            col("n_shingles"),
            floor(coalesce(col("n_leaked"), lit(0L)) * 10000.0
              / col("n_shingles") + 0.5).cast(LongType).as("leak_frac_e4"))
          .withColumn("compromised",
            col("n_leaked") * 5 >= col("n_shingles"))
      },
      Some(decontamCte +
        """evd AS (SELECT DISTINCT doc_id, sh FROM sh4 WHERE doc_id % 50 = 0),
          |trs AS (SELECT DISTINCT sh FROM tr),
          |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM evd GROUP BY 1),
          |hit AS (
          |  SELECT e.doc_id, count(*) AS n_leaked
          |  FROM evd e JOIN trs USING (sh) GROUP BY 1)
          |SELECT c.doc_id,
          |  CAST(coalesce(h.n_leaked, 0) AS BIGINT) AS n_leaked,
          |  CAST(c.n_shingles AS BIGINT) AS n_shingles,
          |  CAST(floor(coalesce(h.n_leaked, 0) * 10000.0 / c.n_shingles + 0.5) AS BIGINT) AS leak_frac_e4,
          |  coalesce(h.n_leaked, 0) * 5 >= c.n_shingles AS compromised
          |FROM cnt c LEFT JOIN hit h USING (doc_id)""".stripMargin),
      "North star: eval-side leakage report — which benchmark items are compromised; train corpus never shuffles"),

    GraftQuery(
      "d19_cluster_safe_split",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // The FIX for what d18 measures: a train/val split drawn at
        // NEAR-DUP-CLUSTER granularity, so two near-duplicate documents
        // can never land on opposite sides of the boundary (ml04's
        // per-doc modulo split leaks exactly that way — a val doc's
        // near-twin trains, and the eval is compromised before any
        // n-gram check runs). Assignment unit = the d07 connected
        // component: every doc takes its cluster representative (the
        // component's min doc_id; singletons represent themselves via
        // one left join + coalesce), and ml04's deterministic 80/20
        // modulo rule is applied to the REP, not the doc. Scale shape:
        // the cluster-label table is O(near-dup docs) — usually orders
        // of magnitude smaller than the corpus — so the label join is
        // EXPLICITLY size-gated on the materialized label count (the
        // st21/st26 discipline): broadcast while provably small, MERGE
        // join past the gate. The gate must be explicit, not left to
        // the optimizer's estimate: a ×100 stress corpus's dense
        // near-dup graph produced a label table whose plan ESTIMATE
        // sat under the session's auto-broadcast threshold while the
        // actual hashed-relation build blew the driver — the exact
        // estimate-vs-actual trap artifact-size gates exist to close.
        // At 100 TB the merge path runs exchange-free on a
        // doc_id-bucketed corpus (src05). Everything else is one
        // narrow row-local pass. By construction every cluster is
        // monochromatic (spec-pinned); the oracle replays d07's
        // recursive CC + the same rule.
        val docs = t.documents
        val labels = clusterLabels(
          verifiedPairs(docs).select(col("doc_a"), col("doc_b")))
        val labelJoin =
          if (labels.count() <= 500000L) broadcast(labels)
          else labels.hint("merge")
        docs.select(col("doc_id"))
          .join(labelJoin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_rep"))
          .withColumn("split",
            when(col("cluster_rep") % 5 < 4, "train").otherwise("val"))
      },
      Some(verifiedPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
        """, edges AS (
          |  SELECT doc_a AS s, doc_b AS d FROM ver
          |  UNION SELECT doc_b, doc_a FROM ver),
          |reach(doc_id, r) AS (
          |  SELECT s, s FROM edges
          |  UNION
          |  SELECT e.s, r.r FROM edges e JOIN reach r ON r.doc_id = e.d),
          |cl AS (SELECT doc_id, min(r) AS rep FROM reach GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(cl.rep, d.doc_id) AS cluster_rep,
          |  CASE WHEN coalesce(cl.rep, d.doc_id) % 5 < 4
          |       THEN 'train' ELSE 'val' END AS split
          |FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id""".stripMargin),
      "North star: leakage-safe train/val split — ml04's rule at near-dup-cluster granularity"),

    GraftQuery(
      "d08b_decontaminate_bloom",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // The 100 TB upgrade path of d08: the exact distinct eval-shingle
        // set can outgrow the broadcast limit, but a Bloom filter of it
        // is a FIXED-SIZE bit array (size = f(n_items, fpp), not of
        // string payload) — built by one distributed aggregate, shipped
        // to every executor, membership-tested per train shingle with
        // ZERO join and zero shuffle of the train side. Bloom filters
        // never produce false negatives, so contamination RECALL is
        // exact; false positives only over-flag (safe direction for
        // decontamination) at the configured fpp. This query is the
        // AUDIT form: it runs the bloom pass AND the exact join side by
        // side and emits fn_count (must be 0) + superset check per doc —
        // production runs the bloom pass alone. fpp/size dial: SCALE.md.
        val docs = t.documents
        val evalSh = docs.filter(col("doc_id") % 50 === 0)
          .select(shingleRows(col("text"), 4).as("sh")).distinct()
        val nEval = evalSh.count()
        val bloom = evalSh.stat.bloomFilter("sh", math.max(nEval, 1L), 0.001)
        val bloomBc = spark.sparkContext.broadcast(bloom)
        val bloomHit = udf((s: String) => bloomBc.value.mightContainString(s))
        val trainSh = docs.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), shingleRows(col("text"), 4).as("sh"))
        trainSh
          .withColumn("bloom_hit", bloomHit(col("sh")))
          .join(broadcast(evalSh.withColumn("exact_hit", lit(true))), Seq("sh"), "left")
          .groupBy("doc_id")
          .agg(
            sum(when(col("exact_hit").isNotNull, 1).otherwise(0)).as("n_contaminated"),
            count(lit(1)).as("n_shingles"),
            sum(when(col("exact_hit").isNotNull && !col("bloom_hit"), 1)
              .otherwise(0)).as("fn_count"),
            (sum(when(col("bloom_hit"), 1).otherwise(0)) >=
              sum(when(col("exact_hit").isNotNull, 1).otherwise(0)))
              .as("bloom_superset_ok"))
          .filter(col("n_contaminated") > 0)
      },
      Some(decontamCte +
        """cnt AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY 1),
          |hit AS (
          |  SELECT t.doc_id, count(*) AS n_contaminated
          |  FROM tr t JOIN ev USING (sh) GROUP BY 1)
          |SELECT h.doc_id, CAST(h.n_contaminated AS BIGINT) AS n_contaminated,
          |  CAST(c.n_shingles AS BIGINT) AS n_shingles,
          |  CAST(0 AS BIGINT) AS fn_count,
          |  TRUE AS bloom_superset_ok
          |FROM hit h JOIN cnt c USING (doc_id)""".stripMargin),
      "North star: Bloom-filter decontamination — fixed-size bit-array membership, zero false negatives audited"),

    GraftQuery(
      "d09_simhash_neardup",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // SimHash near-dup mining, sorted-neighborhood form (Manku et
        // al. WWW'07): band on each 8-bit half of the signature, SORT
        // within each bucket by (signature, doc_id), and compare each
        // doc only to its next W=4 neighbors — candidates are O(n·W)
        // even when buckets are hot (a naive bucket self-join is
        // quadratic in bucket occupancy: 22 s vs 3 s on this corpus,
        // and unbounded at 100 TB where boilerplate signatures
        // concentrate). Pairs are verified by exact Hamming ≤ 2.
        val sim = simhash(t.documents)
        val bands = sim.select(col("doc_id"), col("simhash16"),
          posexplode(array(substring(col("simhash16"), 1, 8),
                           substring(col("simhash16"), 9, 8))))
          .toDF("doc_id", "simhash16", "band_id", "bv")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band_id", "bv").orderBy("simhash16", "doc_id")
        val leads = (1 to 4).flatMap { k =>
          Seq(lead(col("doc_id"), k).over(w).as(s"nd$k"),
              lead(col("simhash16"), k).over(w).as(s"ns$k"))
        }
        val led = bands.select(
          (Seq(col("doc_id"), col("simhash16")) ++ leads): _*)
        val pairs = (1 to 4).map { k =>
          led.select(col("doc_id").as("id_a"), col("simhash16").as("sh_a"),
                     col(s"nd$k").as("id_b"), col(s"ns$k").as("sh_b"))
            .filter(col(s"id_b").isNotNull)
        }.reduce(_ union _)
        // Native codegen byte-loop Hamming (one fused kernel) instead of
        // 16 substring-compare terms; ≡-pinned by ExpressionsSpec.
        val hamming =
          graft.functions.HammingDistance.hammingDist(col("sh_a"), col("sh_b"))
        pairs
          .select(least(col("id_a"), col("id_b")).as("doc_a"),
                  greatest(col("id_a"), col("id_b")).as("doc_b"),
                  hamming.as("hamming"))
          .filter(col("hamming") <= 2)
          .distinct()
      },
      Some(simhashCte +
        """, band AS (
          |  SELECT doc_id, simhash16, substring(simhash16, 1, 8) AS bv, 0 AS band_id FROM sim
          |  UNION ALL SELECT doc_id, simhash16, substring(simhash16, 9, 8), 1 FROM sim),
          |led AS (
          |  SELECT doc_id, simhash16,
          |    lead(doc_id, 1) OVER w AS nd1, lead(simhash16, 1) OVER w AS ns1,
          |    lead(doc_id, 2) OVER w AS nd2, lead(simhash16, 2) OVER w AS ns2,
          |    lead(doc_id, 3) OVER w AS nd3, lead(simhash16, 3) OVER w AS ns3,
          |    lead(doc_id, 4) OVER w AS nd4, lead(simhash16, 4) OVER w AS ns4
          |  FROM band
          |  WINDOW w AS (PARTITION BY band_id, bv ORDER BY simhash16, doc_id)),
          |pr AS (
          |  SELECT doc_id AS id_a, simhash16 AS sh_a, nd1 AS id_b, ns1 AS sh_b FROM led WHERE nd1 IS NOT NULL
          |  UNION ALL SELECT doc_id, simhash16, nd2, ns2 FROM led WHERE nd2 IS NOT NULL
          |  UNION ALL SELECT doc_id, simhash16, nd3, ns3 FROM led WHERE nd3 IS NOT NULL
          |  UNION ALL SELECT doc_id, simhash16, nd4, ns4 FROM led WHERE nd4 IS NOT NULL),
          |ham AS (
          |  SELECT least(id_a, id_b) AS doc_a, greatest(id_a, id_b) AS doc_b,
          |""".stripMargin +
        (0 until 16).map(j =>
          s"    (CASE WHEN substring(sh_a, ${j + 1}, 1) <> substring(sh_b, ${j + 1}, 1) THEN 1 ELSE 0 END)")
          .mkString(" +\n") +
        """ AS hamming
          |  FROM pr)
          |SELECT DISTINCT doc_a, doc_b, hamming FROM ham WHERE hamming <= 2""".stripMargin),
      "North star: SimHash sorted-neighborhood near-dup pairs, exact Hamming verify"),

    GraftQuery(
      "d11_triangle_count",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Graph diagnostics over the verified near-dup pair graph:
        // edge/wedge/triangle counts — triangle density distinguishes
        // tight boilerplate CLIQUES (template spam: every pair verifies)
        // from chain-shaped drift (each doc similar only to neighbors),
        // which decides whether keep-first (d06) or full CC (d07) is the
        // right removal policy. Scale shape: the canonical ordered
        // wedge-close — edges kept as (a < b), wedges from ONE self-join
        // on the middle vertex, triangles by closing (a, c) against the
        // edge list. All joins are equi-joins on ids; counts are
        // integer-exact. Near-dup pair graphs are ≪ corpus by
        // construction (the d07 hybrid already banks on that).
        val e = verifiedPairs(t.documents)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
          .localCheckpoint() // three consumers; pair list is tiny
        // The checkpointed pair list is a LogicalRDD with no size stats,
        // so the planner defaulted all three equi-joins to SortMergeJoin
        // (shuffle + sort on both sides). Broadcast the EDGE side of
        // each join instead, size-gated on the MATERIALIZED pair count
        // (the gr01/verifiedPairs discipline — never on estimates): the
        // wedge stream then never shuffles, and past the gate the hints
        // drop away and the SMJ fallback returns.
        val mb: DataFrame => DataFrame =
          if (e.count() <= 10000000L) broadcast else identity
        val wedges = e.toDF("a", "b")
          .join(mb(e.toDF("b", "c")), "b")
        val triangles = wedges.join(mb(e.toDF("a", "c")), Seq("a", "c"))
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
          .crossJoin(broadcast(triangles.agg(count(lit(1)).as("n_triangles"))))
      },
      Some(verifiedPairsCte +
        """, e AS (SELECT doc_a AS a, doc_b AS b FROM ver),
          |w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e2.a = e1.b),
          |tr AS (SELECT w.a FROM w JOIN e e3 ON e3.a = w.a AND e3.b = w.c)
          |SELECT (SELECT count(*) FROM e) AS n_edges,
          |       (SELECT count(*) FROM w) AS n_wedges,
          |       (SELECT count(*) FROM tr) AS n_triangles""".stripMargin),
      "North star: near-dup graph diagnostics — ordered wedge-close triangle count"),

    GraftQuery(
      "d10_repeated_ngrams",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Exact-substring repetition mining (the Lee et al. 2022
        // "Deduplicating Training Data" signal at fixed width): which
        // 6-token spans recur across documents, how widely, and where
        // first. One explode + hash-agg (linear shuffle of (shingle,
        // doc_id)), then a top-K under a TOTAL order (n_docs DESC,
        // shingle ASC) via TakeOrderedAndProject — no global sort. The
        // top spans are the boilerplate a substring-dedup pass would
        // cut from the corpus.
        t.documents
          .select(col("doc_id"), shingleRows(col("text"), 6).as("sh"))
          .groupBy("sh")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("sh").asc)
          .limit(50)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh6 AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(len(tk) - 5),
             |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]
             |        || ' ' || tk[i+5] || ' ' || tk[i+6])) AS sh
             |  FROM toks WHERE len(tk) >= 6),
             |rep AS (
             |  SELECT sh, count(*) AS n_docs, min(doc_id) AS first_doc
             |  FROM sh6 GROUP BY 1 HAVING count(*) >= 2)
             |SELECT sh, CAST(n_docs AS BIGINT) AS n_docs, first_doc
             |FROM rep ORDER BY n_docs DESC, sh ASC LIMIT 50""".stripMargin),
      "North star: repeated exact 6-gram spans across the corpus (substring-dedup signal)"),

    GraftQuery(
      "d10b_multiwidth_ngrams",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // d10 at widths {6, 8, 12} approximating Lee et al.'s
        // variable-width suffix-array signal: the text column is read
        // once; widths fan out as an exploded (width, shingles) array of
        // NATIVE ShingleArray expressions (each width re-splits the text
        // inside its own tight loop — measured faster than sharing one
        // split through the interpreted five-HOF stack this replaced,
        // which allocated four intermediate arrays per width per row),
        // then one hash-agg on (width, shingle) and a per-width top-20
        // under a TOTAL order via a window PARTITIONED BY width — never
        // a global sort, and the rank window runs on the already-
        // aggregated (small) repetition table, not the corpus.
        val widths = Seq(6, 8, 12)
        val sh = t.documents
          .select(col("doc_id"), explode(array(widths.map(w =>
            struct(lit(w).as("w"), shingles(col("text"), w).as("shs"))): _*)).as("x"))
          .select(col("doc_id"), col("x.w").as("w"), explode(col("x.shs")).as("sh"))
        val rk = org.apache.spark.sql.expressions.Window
          .partitionBy("w").orderBy(col("n_docs").desc, col("sh").asc)
        sh.groupBy("w", "sh")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") >= 2)
          .withColumn("rnk", row_number().over(rk))
          .filter(col("rnk") <= 20)
      },
      Some {
        def joinW(w: Int): String =
          (1 to w).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
        val arms = Seq(6, 8, 12).map { w =>
          s"""SELECT DISTINCT doc_id, $w AS w,
             |    unnest(list_transform(range(len(tk) - ${w - 1}), i -> ${joinW(w)})) AS sh
             |  FROM toks WHERE len(tk) >= $w""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |sh AS (
           |  $arms),
           |rep AS (
           |  SELECT w, sh, count(*) AS n_docs, min(doc_id) AS first_doc
           |  FROM sh GROUP BY 1, 2 HAVING count(*) >= 2),
           |rk AS (
           |  SELECT w, sh, CAST(n_docs AS BIGINT) AS n_docs, first_doc,
           |    CAST(row_number() OVER (PARTITION BY w ORDER BY n_docs DESC, sh) AS INTEGER) AS rnk
           |  FROM rep)
           |SELECT w, sh, n_docs, first_doc, rnk FROM rk WHERE rnk <= 20""".stripMargin
      },
      "North star: multi-width {6,8,12} repeated-span mining in one corpus text pass"),

    GraftQuery(
      "d12_incremental_dedup",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Incremental ingest — the shape a production corpus actually
        // runs: the existing corpus is already deduped and its LSH
        // band index (doc_id, band_id, band_hash) is a PERSISTED table
        // maintained across ingests; a new batch arrives and must get
        // keep-first verdicts at O(batch + index-probe) cost, never
        // O(corpus). Only the batch is shingled/signed; its band rows
        // probe the stored index (plus themselves, for within-batch
        // dups); exact-Jaccard verification fetches existing docs'
        // shingles for CANDIDATE ids only (semi-join pushes the id set
        // into the corpus scan). Verdicts are provably identical to
        // re-running the full d06 pipeline restricted to batch docs —
        // a pair (a, b<batch doc>) shares a band bucket the same way in
        // both — which is exactly what the oracle replays.
        // The batch split is the top ~20 % of doc ids (a 1-row bounded
        // collect; production knows its ingest boundary a priori).
        val docs = t.documents
        val split = Tables.incrementalSplitId(docs, "doc_id")
        val existing = docs.filter(col("doc_id") < split)
        val batch = docs.filter(col("doc_id") >= split)
        // persists are released by the harness's per-query clearCache —
        // an unpersist in the BUILDER would fire before the returned
        // (lazy) DataFrame ever executes, silently recomputing the
        // batch shingling at every downstream consumer
        val shNew = shingleRelation(batch).persist()
        locally {
          val newBands = bandRows(signaturesFromShingles(shNew))
            .localCheckpoint() // consumed twice: as probe AND probe-target
          // "stored index": built here from the existing corpus; in
          // production this is the parquet table the last ingest wrote
          val indexBands = bandRows(signatures(existing))
          val cand = indexBands.union(newBands).as("a")
            .join(newBands.as("b"),
              col("a.band_id") === col("b.band_id") &&
              col("a.band_hash") === col("b.band_hash") &&
              col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
            .distinct()
            .localCheckpoint() // candidate list is tiny; its ids gate the
                               // existing-corpus shingle fetch below
          // shingles for verification: the batch's are in hand; the
          // existing side re-shingles ONLY candidate docs
          val candExistingIds = cand.filter(col("doc_a") < split)
            .select(col("doc_a").as("doc_id")).distinct()
          val shExCand = shingleRelation(
            existing.join(candExistingIds, Seq("doc_id"), "left_semi"))
          val sh = shExCand.union(shNew).persist()
          locally {
            val scnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
            val ver = cand
              .join(sh.toDF("doc_a", "sh"), "doc_a")
              .join(sh.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
              .groupBy("doc_a", "doc_b")
              .agg(count(lit(1)).as("n_inter"))
              .join(scnt.toDF("doc_a", "n_a"), "doc_a")
              .join(scnt.toDF("doc_b", "n_b"), "doc_b")
              .withColumn("jaccard_e4",
                floor(col("n_inter") * 10000.0 /
                  (col("n_a") + col("n_b") - col("n_inter")) + 0.5).cast(LongType))
              .filter(col("jaccard_e4") >= 2000)
            val dropped = ver.select(col("doc_b").as("doc_id")).distinct()
            batch.join(dropped.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
              .select(col("doc_id"),
                coalesce(col("is_dup"), lit(false)).as("dropped"))
          }
        }
      },
      Some(verifiedPairsCte +
        """, split AS (
          |  SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS v FROM documents),
          |drop AS (SELECT DISTINCT doc_b AS doc_id FROM ver)
          |SELECT d.doc_id, (dr.doc_id IS NOT NULL) AS dropped
          |FROM documents d
          |LEFT JOIN drop dr ON dr.doc_id = d.doc_id
          |WHERE d.doc_id >= (SELECT v FROM split)""".stripMargin),
      "North star: incremental-ingest dedup — new batch probes the stored LSH index, O(batch) not O(corpus)"),

    GraftQuery(
      "d13_neardup_keepbest",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // The dedup DECISION POLICY generalized: d06 keeps the FIRST doc
        // of each verified pair (ingest order); production corpora keep
        // the BEST — the longer/cleaner copy survives regardless of
        // arrival order. Same pair relation, same one-pass drop-list
        // shape (policy is a per-pair projection, NOT a new pipeline):
        // the loser of each pair is the lower word count, ties broken
        // toward the higher doc_id so keep-best degrades to keep-first
        // exactly when quality can't discriminate.
        val docs = t.documents
        val score = docs.select(col("doc_id"),
          size(split(col("text"), " ")).as("score"))
        val losers = verifiedPairs(docs)
          .join(score.toDF("doc_a", "score_a"), "doc_a")
          .join(score.toDF("doc_b", "score_b"), "doc_b")
          .select(
            when(col("score_a") < col("score_b"), col("doc_a"))
              .when(col("score_b") < col("score_a"), col("doc_b"))
              .otherwise(greatest(col("doc_a"), col("doc_b")))
              .as("doc_id"))
          .distinct()
        docs
          .join(losers.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("is_dup"), lit(false)).as("dropped"))
      },
      Some(verifiedPairsCte +
        """, score AS (
          |  SELECT doc_id, len(string_split(text, ' ')) AS score FROM documents),
          |losers AS (
          |  SELECT DISTINCT CASE
          |    WHEN sa.score < sb.score THEN v.doc_a
          |    WHEN sb.score < sa.score THEN v.doc_b
          |    ELSE greatest(v.doc_a, v.doc_b) END AS doc_id
          |  FROM ver v
          |  JOIN score sa ON sa.doc_id = v.doc_a
          |  JOIN score sb ON sb.doc_id = v.doc_b)
          |SELECT d.doc_id, (l.doc_id IS NOT NULL) AS dropped
          |FROM documents d
          |LEFT JOIN losers l ON l.doc_id = d.doc_id""".stripMargin),
      "North star: keep-BEST removal verdicts — quality-priority policy over the same verified pairs"),

    GraftQuery(
      "d14_chunk_dedup",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // EXACT-SUBSTRING dedup at chunk granularity — the scalable form
        // of RefinedWeb/C4's duplicated-span removal: d01 drops whole
        // duplicate documents; this removes duplicated PASSAGES from
        // otherwise-unique documents. Split each doc into consecutive
        // 8-word chunks, keep only the corpus-wide FIRST occurrence of
        // each distinct chunk (order: doc_id, then position), and
        // reconstruct every doc from its surviving chunks. A true
        // suffix-array ESD matches arbitrary offsets; aligned chunking
        // is the linear approximation. Shuffle accounting at 100 TB:
        // chunking is MAP-SIDE (transform + slice over the doc's own
        // word array — no explode/groupBy), the corpus-wide first-keep
        // window runs over (md5, doc_id, chunk_pos) — 16-byte hashes
        // and ids, never chunk text (plan-pinned) — and the text moves
        // only in the verdict join-back + per-doc reconstruction.
        // localCheckpoint: consumed three times (verdicts, kept
        // join-back, totals) — without it each subtree re-splits and
        // re-explodes the corpus text, tripling the dominant pass.
        val chunks = chunkRelation(t.documents).localCheckpoint()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("h"))
          .orderBy(col("doc_id").asc, col("chunk_pos").asc)
        val verdicts = chunks
          .select(col("doc_id"), col("chunk_pos"), md5(col("chunk")).as("h"))
          .withColumn("rn", row_number().over(w))
          .select(col("doc_id"), col("chunk_pos"), (col("rn") === 1).as("keep"))
        val kept = chunks
          .join(verdicts, Seq("doc_id", "chunk_pos"))
          .filter(col("keep"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
               md5(array_join(
                 transform(array_sort(collect_list(struct(col("chunk_pos"), col("chunk")))),
                           s => s.getField("chunk")), " ")).as("kept_md5"))
        val totals = chunks.groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"))
        totals.join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chunks"),
                  coalesce(col("n_kept"), lit(0L)).as("n_kept"),
                  coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             |         generate_subscripts(string_split(text, ' '), 1) AS i
             |  FROM documents),
             |ch AS (
             |  SELECT doc_id, CAST(floor((i - 1) / 8) AS BIGINT) AS chunk_pos,
             |         string_agg(word, ' ' ORDER BY i) AS chunk
             |  FROM w GROUP BY doc_id, floor((i - 1) / 8)),
             |keep AS (
             |  SELECT doc_id, chunk_pos, chunk,
             |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_pos) AS rn
             |  FROM ch),
             |rec AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         md5(string_agg(chunk, ' ' ORDER BY chunk_pos)) AS kept_md5
             |  FROM keep WHERE rn = 1 GROUP BY doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
             |SELECT t.doc_id, t.n_chunks,
             |  coalesce(r.n_kept, 0) AS n_kept,
             |  coalesce(r.kept_md5, md5('')) AS kept_md5
             |FROM tot t LEFT JOIN rec r USING (doc_id)""".stripMargin),
      "North star: exact-substring (chunk) dedup — corpus-wide first-occurrence keep + doc reconstruction"),

    GraftQuery(
      "d15_incremental_chunk_dedup",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // d14's INCREMENTAL twin, completing the round-7 invariant that
        // every index the engine builds updates at O(batch), never
        // O(corpus): the existing corpus's chunk-hash index (in
        // production a persisted table keyed by h) is probed by the new
        // batch's chunk hashes — a hash-only anti-join — and the
        // within-batch first-keep window then runs over the SURVIVORS'
        // (h, ids). Because every existing doc_id precedes every batch
        // doc_id, "not in the index, and first within the batch" is
        // exactly the full-rerun first-occurrence rule restricted to
        // batch docs — which is what the oracle replays. Only batch
        // text is ever chunked or moved; the existing corpus
        // contributes hashes alone.
        val docs = t.documents
        val splitId = Tables.incrementalSplitId(docs, "doc_id")
        val index = chunkRelation(docs.filter(col("doc_id") < splitId))
          .select(md5(col("chunk")).as("h")).distinct()
        val batchChunks = chunkRelation(docs.filter(col("doc_id") >= splitId))
          .localCheckpoint() // consumed twice: verdicts + totals/join-back
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("h"))
          .orderBy(col("doc_id").asc, col("chunk_pos").asc)
        val verdicts = batchChunks
          .select(col("doc_id"), col("chunk_pos"), md5(col("chunk")).as("h"))
          .join(index, Seq("h"), "left_anti")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("chunk_pos"))
        val kept = batchChunks
          .join(verdicts, Seq("doc_id", "chunk_pos"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
               md5(array_join(
                 transform(array_sort(collect_list(struct(col("chunk_pos"), col("chunk")))),
                           s => s.getField("chunk")), " ")).as("kept_md5"))
        batchChunks.groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"))
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chunks"),
                  coalesce(col("n_kept"), lit(0L)).as("n_kept"),
                  coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             |         generate_subscripts(string_split(text, ' '), 1) AS i
             |  FROM documents),
             |ch AS (
             |  SELECT doc_id, CAST(floor((i - 1) / 8) AS BIGINT) AS chunk_pos,
             |         string_agg(word, ' ' ORDER BY i) AS chunk
             |  FROM w GROUP BY doc_id, floor((i - 1) / 8)),
             |keep AS (
             |  SELECT doc_id, chunk_pos, chunk,
             |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_pos) AS rn
             |  FROM ch),
             |split AS (
             |  SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS sv FROM documents),
             |rec AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         md5(string_agg(chunk, ' ' ORDER BY chunk_pos)) AS kept_md5
             |  FROM keep WHERE rn = 1 GROUP BY doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
             |SELECT t.doc_id, t.n_chunks,
             |  coalesce(r.n_kept, 0) AS n_kept,
             |  coalesce(r.kept_md5, md5('')) AS kept_md5
             |FROM tot t LEFT JOIN rec r USING (doc_id)
             |WHERE t.doc_id >= (SELECT sv FROM split)""".stripMargin),
      "North star: incremental chunk dedup — batch probes the stored chunk-hash index at O(batch), verdicts ≡ full rerun"),

    GraftQuery(
      "d16_index_maintenance",
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        // TWO ingest boundaries: existing corpus < v1, batch1 in
        // [v1, v2), batch2 ≥ v2 — the full maintenance lifecycle runs
        // end-to-end: build(existing) → gate(batch1) → append the
        // ADMITTED survivors → compact → gate(batch2). The stage-2
        // verdicts are the observable: a batch2 doc is dropped iff it
        // verifies against existing ∪ admitted(batch1) ∪ batch2 — NOT
        // against batch1 docs the stage-1 gate dropped, whose bands
        // never entered the index. The oracle replays exactly that
        // surviving-set keep-first rule from the full-corpus verified
        // pair list (candidate generation is per-doc-pair band
        // collision, identical whether bands are read from the stored
        // index or recomputed — d12's equivalence argument, twice).
        val v1 = Tables.incrementalSplitId(docs, "doc_id", 0.6)
        val v2 = Tables.incrementalSplitId(docs, "doc_id", 0.8)
        val indexDir = graft.streaming.Streams.dataDir("graft_d16_bands_")
        val shDir = graft.streaming.Streams.dataDir("graft_d16_shs_")
        buildBandIndex(docs.filter(col("doc_id") < v1), indexDir, shDir)
        val batch1 = docs.filter(col("doc_id") >= v1 && col("doc_id") < v2)
        // The stage-1 gate already shingled/signed/banded batch1 to probe
        // the index; the admitted survivors' index update filters THOSE
        // materialized artifacts to the surviving ids instead of running
        // the signing kernel a second time over the admitted texts
        // (one kernel pass per lifecycle stage).
        val (verdict1, bands1, sh1) =
          gateBatchWithArtifacts(spark, batch1, indexDir, shDir)
        appendBandIndexFromGate(spark, bands1, sh1,
          verdict1.filter(!col("dropped")), indexDir, shDir)
        compactBandIndex(spark, indexDir, shDir)
        gateBatch(spark, docs.filter(col("doc_id") >= v2), indexDir, shDir)
      },
      Some(verifiedPairsCte +
        """, s AS (
          |  SELECT CAST(floor(max(doc_id) * 0.6) AS BIGINT) AS v1,
          |         CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS v2
          |  FROM documents),
          |drop1 AS (
          |  SELECT DISTINCT v.doc_b AS doc_id FROM ver v, s
          |  WHERE v.doc_b >= s.v1 AND v.doc_b < s.v2 AND v.doc_a < s.v2),
          |drop2 AS (
          |  SELECT DISTINCT v.doc_b AS doc_id FROM ver v, s
          |  WHERE v.doc_b >= s.v2
          |    AND (v.doc_a < s.v1 OR v.doc_a >= s.v2
          |         OR v.doc_a NOT IN (SELECT doc_id FROM drop1)))
          |SELECT d.doc_id, (dr.doc_id IS NOT NULL) AS dropped
          |FROM documents d
          |LEFT JOIN drop2 dr ON dr.doc_id = d.doc_id
          |WHERE d.doc_id >= (SELECT v2 FROM s)""".stripMargin),
      "North star: LSH index maintenance — gate → admit → append+compact → gate; stage-2 verdicts ≡ surviving-set keep-first"),

    GraftQuery(
      "d17_index_retraction",
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        // One ingest boundary: stored corpus < v1, ingest ≥ v1. A
        // takedown batch (stored ids ≡ 2 mod 7) is RETRACTED from the
        // persisted artifacts before the gate runs
        // ([[retractBandIndex]] — s21's delete discipline on the LSH
        // side); verdicts must then equal keep-first against
        // (stored \ deleted) ∪ the batch itself: a near-dup of a
        // DELETED doc is admitted (its cluster representative is gone —
        // flagging it against a ghost would silently lose the content
        // forever), a near-dup of a surviving doc still drops. The
        // oracle replays that rule over the full-corpus verified-pair
        // list; the ghost-admit direction is ALSO forced with a
        // synthetic corpus in DedupIndexSpec (the sf fixture need not
        // contain a deleted-partner pair at every scale).
        val v1 = Tables.incrementalSplitId(docs, "doc_id")
        val indexDir = graft.streaming.Streams.dataDir("graft_d17_bands_")
        val shDir = graft.streaming.Streams.dataDir("graft_d17_shs_")
        val stored = docs.filter(col("doc_id") < v1)
        buildBandIndex(stored, indexDir, shDir)
        retractBandIndex(spark, stored.filter(col("doc_id") % 7 === 2),
          indexDir, shDir)
        gateBatch(spark, docs.filter(col("doc_id") >= v1), indexDir, shDir)
      },
      Some(verifiedPairsCte +
        """, s AS (
          |  SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS v1 FROM documents),
          |drop1 AS (
          |  SELECT DISTINCT v.doc_b AS doc_id FROM ver v, s
          |  WHERE v.doc_b >= s.v1
          |    AND (v.doc_a >= s.v1 OR v.doc_a % 7 <> 2))
          |SELECT d.doc_id, (dr.doc_id IS NOT NULL) AS dropped
          |FROM documents d
          |LEFT JOIN drop1 dr ON dr.doc_id = d.doc_id
          |WHERE d.doc_id >= (SELECT v1 FROM s)""".stripMargin),
      "North star: LSH index retraction — takedown rows anti-joined out; the gate goes ghost-free"))

  /** Connected-component labels for an undirected pair graph:
    * (doc_id, label = min doc_id reachable).
    *
    * Hybrid by size — the shape production CC ships: near-dup pair
    * lists are orders of magnitude smaller than the corpus (1M pairs ≈
    * 16 MB), so below `driverMaxPairs` the graph collects to the driver
    * and resolves by union-find in ONE job (the iterative loop's ~10
    * small jobs were the suite's dominant wall-clock variance under
    * load: 6→34 s on unchanged code). Above the threshold it falls back
    * to the distributed min-label propagation loop, whose per-round
    * lineage is truncated so round k never replays rounds 1..k-1. Both
    * paths produce identical labels (spec-pinned). */
  def clusterLabels(pairs: DataFrame, maxIters: Int = 25,
                    driverMaxPairs: Long = 1000000L): DataFrame = {
    // Materialize the pair list ONCE before branching: the size probe and
    // (on the distributed path) propagateLabels then both read the same
    // materialized table instead of re-evaluating the upstream plan —
    // without this, an over-threshold graph would pay for the expensive
    // verified-pairs pipeline twice. Numeric ids are read through
    // java.lang.Number so int/short pair columns work, not just longs.
    val p0 = pairs.toDF("s", "d").localCheckpoint()
    val probeLimit =
      if (driverMaxPairs >= Int.MaxValue - 1L) Int.MaxValue
      else (driverMaxPairs + 1).toInt
    val collected = p0.limit(probeLimit).collect()
    if (collected.length <= driverMaxPairs) {
      val spark = pairs.sparkSession
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      def id(row: org.apache.spark.sql.Row, i: Int): Long =
        row.getAs[Number](i).longValue()
      collected.foreach { row =>
        val (a, b) = (id(row, 0), id(row, 1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = collected.iterator
        .flatMap(r => Iterator(id(r, 0), id(r, 1))).toSet
      val labels = nodes.toSeq.sorted.map(x => (x, find(x)))
      import spark.implicits._
      labels.toDF("doc_id", "label")
    } else propagateLabels(p0, maxIters)
  }

  /** The distributed fixpoint path of [[clusterLabels]]. */
  private[graft] def propagateLabels(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val p = pairs.toDF("s", "d") // positional: (a, b) of any column names
    val edges = p.union(p.select(col("d"), col("s")))
      .localCheckpoint()
    var labels = edges.select(col("s").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    var changed = true
    var iter = 0
    while (changed && iter < maxIters) {
      val nbrLabels = edges
        .join(labels.withColumnRenamed("doc_id", "d_id"), col("d") === col("d_id"))
        .select(col("s").as("doc_id"), col("label"))
      val next = labels.select(col("doc_id"), col("label"))
        .union(nbrLabels)
        .groupBy("doc_id")
        .agg(min(col("label")).as("label"))
        .localCheckpoint()
      changed = next
        .join(labels.withColumnRenamed("label", "prev"), "doc_id")
        .filter(col("label") < col("prev"))
        .limit(1).count() > 0
      labels = next
      iter += 1
    }
    labels
  }
}
