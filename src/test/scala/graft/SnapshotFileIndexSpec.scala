package graft

import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Planning-time file skipping through [[SnapshotFileIndex]]: the
  * catalog's typed stats consulted INSIDE Catalyst's file listing, so
  * any DataFrame/SQL predicate prunes files with zero API opt-in. */
class SnapshotFileIndexSpec extends SparkTestBase {

  private def stage(prefix: String): String = {
    val root = graft.streaming.Streams.dataDir(prefix)
    val spark2 = spark
    import spark2.implicits._
    (0 until 6).foreach { b =>
      val lo = b * 10L + 1L
      SnapshotCatalog.append(
        (lo to lo + 9L).map(i => (i, f"k$i%03d")).toDF("id", "k").coalesce(1),
        root, s"b$b") // append auto-records long + string stats
    }
    root
  }

  test("a pushed long-range predicate prunes the scan's file listing; results exact") {
    val root = stage("graft_fidx_")
    val df = SnapshotFileIndex.snapshotDF(spark, root)
      .filter(col("id").between(25L, 34L))
    val got = df.collect().map(_.getLong(0)).toSet
    assert(got == (25L to 34L).toSet, "pruned scan lost or invented rows")
    val scanned = SnapshotFileIndex.scannedFiles(df)
    assert(scanned == 2L,
      s"expected the 2 intersecting files of 6 in the scan, got $scanned")
  }

  test("unprunedDF, the skipping audits' reference, skips no file by its stats and serves the snapshot's columns, partition values too") {
    val root = graft.streaming.Streams.dataDir("graft_fidxfull_")
    val spark2 = spark
    import spark2.implicits._
    (0 until 3).foreach { b =>
      SnapshotCatalog.append((b * 10L + 1L to b * 10L + 10L)
        .map(i => (i, if (i % 2 == 0) "even" else "odd")).toDF("id", "p")
        .coalesce(1), root, s"b$b", partitionBy = Seq("p"))
    }
    val pred = col("id").between(12L, 14L) && col("p") === "even"
    val (pruned, nRead, nTotal) = SnapshotFileIndex.collectScanned(
      SnapshotCatalog.readSnapshot(spark, root).where(pred).orderBy("id"), root)
    assert(nTotal == 6 && nRead == 1L, s"pruned read opened $nRead of $nTotal")
    val unpruned = SnapshotFileIndex.unprunedDF(spark, root)
    assert(unpruned.schema == SnapshotCatalog.readSnapshot(spark, root).schema)
    assert(unpruned.where(pred).orderBy("id").collect().toSeq == pruned.toSeq &&
      pruned.map(_.getLong(0)).toSeq == Seq(12L, 14L))
    // no stats cut the reference: a range inside one batch opens all six
    val range = unpruned.where(col("id").between(12L, 14L))
    assert(range.collect().length == 3 && SnapshotFileIndex.scannedFiles(range) == 6L,
      "the reference skipped files by their stats")
  }

  test("string and equality predicates prune; unsupported shapes read everything (never unsound)") {
    val root = stage("graft_fidxs_")
    val v = SnapshotCatalog.latestVersion(root)
    val idx = new SnapshotFileIndex(spark, root, v)
    def filesFor(preds: org.apache.spark.sql.catalyst.expressions.Expression*): Int =
      idx.listFiles(Nil, preds).head.files.size
    val id = AttributeReference("id", LongType)()
    val k = AttributeReference("k", StringType)()
    // long range across two batches
    assert(filesFor(GreaterThanOrEqual(id, Literal(25L)),
      LessThanOrEqual(id, Literal(34L))) == 2)
    // long equality: one file
    assert(filesFor(EqualTo(id, Literal(42L))) == 1)
    // string range: parquet UTF8 stats order matches the zero-padded keys
    assert(filesFor(GreaterThanOrEqual(k, Literal(UTF8String.fromString("k051"), StringType)),
      LessThanOrEqual(k, Literal(UTF8String.fromString("k055"), StringType))) == 1)
    // disjoint range: nothing read
    assert(filesFor(GreaterThanOrEqual(id, Literal(1000L))) == 0)
    // IN-list: the literal envelope prunes (both files of 25..34 kept)
    assert(filesFor(org.apache.spark.sql.catalyst.expressions.In(id,
      Seq(Literal(27L), Literal(33L)))) == 2, "IN-list envelope did not prune")
    // string IN-list
    assert(filesFor(org.apache.spark.sql.catalyst.expressions.In(k,
      Seq(Literal(UTF8String.fromString("k052"), StringType),
        Literal(UTF8String.fromString("k054"), StringType)))) == 1)
    // StartsWith: prefix range [k05, k06) spans k050 (batch 4) and
    // k051-k059 (batch 5) — exactly 2 of 6 files kept
    assert(filesFor(org.apache.spark.sql.catalyst.expressions.StartsWith(k,
      Literal(UTF8String.fromString("k05"), StringType))) == 2,
      "prefix predicate did not prune")
    // a shape the extractor doesn't understand → conservative full read
    val weird = org.apache.spark.sql.catalyst.expressions.Or(
      EqualTo(id, Literal(1L)), EqualTo(id, Literal(60L)))
    assert(filesFor(weird) == 6, "an OR must not prune (no bound derivable)")
    // no predicate → full read
    assert(idx.listFiles(Nil, Nil).head.files.size == 6)
  }

  test("deletion vectors compose: the DV-wrapped relation still prunes underneath and serves post-delete content") {
    val root = stage("graft_fidxdv_")
    val (_, nDel) = SnapshotCatalog.deleteWhere(spark, root, col("id") % 2 === 0)
    assert(nDel == 30L)
    def served() = SnapshotFileIndex.snapshotDF(spark, root)
      .filter(col("id").between(25L, 34L))
    val df = served()
    val got = df.collect().map(_.getLong(0)).toSet
    assert(got == (25L to 34L).filter(_ % 2 == 1).toSet,
      "DV-wrapped pruned read served deleted rows")
    // total files touched = the pruned data side (2 of 6) — far under
    // the 6 an unpruned data side would read; the scan task reads its
    // file's DV positions itself, so the DV batch is not scanned
    val scanned = SnapshotFileIndex.scannedFiles(df)
    assert(scanned <= 3L && scanned >= 2L,
      s"expected 2-of-6 data files and no DV scan, got $scanned total")
    // past the broadcast gate the plan and the files scanned stay the same
    val past = pastTheGate(served())
    assert(past.collect().map(_.getLong(0)).toSet == got)
    assert(SnapshotFileIndex.scannedFiles(past) == scanned,
      s"expected the same pruned data side and no DV scan past the gate")
  }

  test("schema evolution composes: mergeSchema surfaces the accreted column; pruning still applies") {
    val root = stage("graft_fidxevo_")
    val spark2 = spark
    import spark2.implicits._
    // a 7th batch lands WITH an accreted column
    SnapshotCatalog.append(
      (61L to 70L).map(i => (i, f"k$i%03d", i * 100L)).toDF("id", "k", "extra")
        .coalesce(1), root, "b6")
    val df = SnapshotFileIndex.snapshotDF(spark, root, mergeSchema = true)
      .filter(col("id") >= 61L)
    val rows = df.collect()
    assert(rows.length == 10 && rows.forall(!_.isNullAt(2)),
      "accreted column missing on the evolved rows")
    assert(SnapshotFileIndex.scannedFiles(df) == 1L,
      "evolved read did not prune to the new batch's file")
    // pre-evolution rows null-fill through the same relation
    val older = SnapshotFileIndex.snapshotDF(spark, root, mergeSchema = true)
      .filter(col("id") <= 10L).collect()
    assert(older.length == 10 && older.forall(_.isNullAt(2)),
      "pre-evolution rows did not null-fill the accreted column")
  }

  test("SQL over a registered view prunes the same way — no API opt-in") {
    val root = stage("graft_fidxsql_")
    SnapshotFileIndex.snapshotDF(spark, root).createOrReplaceTempView("fidx_t")
    val df = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM fidx_t WHERE id >= 51")
    // collect() (not head()) so THIS queryExecution runs and carries
    // the scan metrics — head() executes a cloned limited plan
    val r = df.collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == (51L to 60L).sum)
    val scanned = SnapshotFileIndex.scannedFiles(df)
    assert(scanned == 1L, s"SQL predicate did not prune: numFiles=$scanned")
  }

  test("partition columns through the catalog: spec rides the log, values serve from dirs, partition filters cut files") {
    val root = graft.streaming.Streams.dataDir("graft_fidxp_")
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 30L).map(i =>
      (i, Seq("a", "b", "c")((i % 3).toInt), (i % 4).toInt))
      .toDF("id", "p", "bucket4")
    SnapshotCatalog.append(df.filter(col("id") <= 15).coalesce(1),
      root, "b0", partitionBy = Seq("p"))
    SnapshotCatalog.append(df.filter(col("id") > 15).coalesce(1),
      root, "b1", partitionBy = Seq("p"))
    val snap = SnapshotFileIndex.snapshotDF(spark, root)
    // the partition column is NOT in the data files — it round-trips
    // from the log-recorded spec + the directory values
    assert(snap.columns.toSet == Set("id", "p", "bucket4"))
    val aRows = snap.filter(col("p") === "a").collect()
    assert(aRows.map(r => r.getLong(r.fieldIndex("id"))).toSet ==
      (1L to 30L).filter(_ % 3 == 0).toSet,
      "partition values did not round-trip")
    // the static partition filter cuts FILES: 2 of 6 (one per batch)
    val q = snap.filter(col("p") === "a")
      .agg(count(lit(1)).as("n"), sum("id").as("s"))
    q.collect()
    assert(SnapshotFileIndex.scannedFiles(q) == 2L,
      "partition filter did not cut the file listing")
    // a mixed predicate: partition filter × data-stats filter compose
    val q2 = snap.filter(col("p") === "a" && col("id") <= 15)
    q2.collect()
    assert(SnapshotFileIndex.scannedFiles(q2) == 1L,
      "partition cut and stats cut did not compose")
    // spec consistency is enforced: an unpartitioned append on a
    // partitioned table refuses
    intercept[RuntimeException] {
      SnapshotCatalog.append(df.coalesce(1), root, "b2")
    }
    // readSnapshot — THE catalog read path — serves the same content
    val viaRead = graft.sources.SnapshotCatalog.readSnapshot(spark, root)
    assert(viaRead.count() == 30L &&
      viaRead.filter(col("p") === "b").count() == 10L)
    // the partition spec is VERSIONED: a flattening replace serves p as
    // an ordinary data column at the new version, while time travel to
    // the partitioned version still serves ITS hive layout
    val vPart = SnapshotCatalog.latestVersion(root)
    SnapshotCatalog.replace(viaRead.coalesce(1), root, "flat0")
    val vFlat = SnapshotCatalog.latestVersion(root)
    assert(SnapshotCatalog.partitionSpecAt(root, vFlat).isEmpty &&
      SnapshotCatalog.partitionSpecAt(root, vPart).isDefined,
      "spec change did not version")
    val flatRead = SnapshotFileIndex.snapshotDF(spark, root, Some(vFlat))
    assert(flatRead.filter(col("p") === "c").count() == 10L,
      "flattened layout lost the former partition column's values")
    val oldRead = SnapshotFileIndex.snapshotDF(spark, root, Some(vPart))
      .filter(col("p") === "a")
    oldRead.collect()
    assert(SnapshotFileIndex.scannedFiles(oldRead) == 2L,
      "time travel to the partitioned version lost its partition cut")
  }

  test("a dim-filtered join over a partitioned snapshot gets dynamic partition pruning") {
    val root = graft.streaming.Streams.dataDir("graft_fidxdpp_")
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 300L).map(i => (i, s"p${i % 5}")).toDF("id", "p")
    SnapshotCatalog.append(df.coalesce(1), root, "b0", partitionBy = Seq("p"))
    SnapshotCatalog.append(df.withColumn("id", col("id") + 300L).coalesce(1),
      root, "b1", partitionBy = Seq("p"))
    val snap = SnapshotFileIndex.snapshotDF(spark, root)
    // the dim must be a SCANNED table with a surviving Filter node —
    // a LocalRelation constant-folds its filter away and the pruning
    // rule then sees no selective predicate (same reason q83 stages
    // its dim); and it must be the broadcast build side for DPP's
    // reuse-broadcast path
    val dimPath = graft.streaming.Streams.dataDir("graft_fidxdpp_dim_")
    (0 until 5).map(i => (s"p$i", if (i < 1) "hot" else "cold"))
      .toDF("p", "tier")
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val j = snap.join(broadcast(dim.filter(col("tier") === "hot")), Seq("p"))
      .agg(count(lit(1)).as("n"), sum("id").as("s"))
    val r = j.collect().head
    val expect = (1L to 600L).filter(_ % 5 == 0)
    assert(r.getLong(0) == expect.size.toLong && r.getLong(1) == expect.sum)
    // the executed scan listed only the dim-selected partition's files
    // (2 of 10) — DPP through the catalog's FileIndex. BOTH observables
    // are asserted unconditionally: the planned DynamicPruningExpression
    // (the rule genuinely fired — static pruning alone could produce
    // the file cut) AND the executed 2-of-10 listing (the subquery's
    // IN-set actually reached listFiles and cut the files)
    val plan = j.queryExecution.executedPlan.toString
    val scanned = SnapshotFileIndex.scannedFiles(j)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamicpruningexpression planned over the catalog FileIndex:\n$plan")
    // scannedFiles sums EVERY scan in the plan: the dim's 1 parquet
    // file + the fact side, so 3 total means the catalog scan listed
    // only the dim-selected partition's 2 files (of 10)
    assert(scanned == 3L,
      s"DPP planned but the plan read $scanned files, want 2-of-10 fact + 1 dim")
  }
}
