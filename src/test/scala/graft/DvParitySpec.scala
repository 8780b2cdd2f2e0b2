package graft.sources

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deletion vectors (DVs) are applied one way: a `dv_listed` filter
  * whose scan task reads only its data file's positions. Over seeded
  * DV sets on a three-file table, each served frame is checked against
  * a reference built here — an anti (or semi) join of the raw scan's
  * positions against the DV files read as a Spark scan in
  * [[SnapshotCatalog.dvSchema]] — and against the rows the deletes
  * leave. Each frame is served at the default broadcast ceiling, at 1
  * byte (every DV set past any size gate) and at -1 (broadcasting
  * disabled), and must keep the same rows and the `dv_listed` plan at
  * each. */
class DvParitySpec extends SparkTestBase {

  private val ids = 1L to 90L

  /** Ids 1..90 (`v` = 10 × id) in three files, then three DV commits,
    * each deleting 12 seeded ids (some already deleted). Returns the
    * root and the ids each DV commit deleted, by version. */
  private def seeded(prefix: String, seed: Int): (String, Seq[(Int, Set[Long])]) = {
    val root = graft.streaming.Streams.dataDir(prefix)
    val s2 = spark; import s2.implicits._
    ids.grouped(30).zipWithIndex.foreach { case (part, b) =>
      SnapshotCatalog.append(part.map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), root, s"b$b")
    }
    val rng = new scala.util.Random(seed)
    var gone = Set.empty[Long]
    val commits = (1 to 3).map { _ =>
      val pick = rng.shuffle(ids.toList).take(12)
      val (v, n) = SnapshotCatalog.deleteWhere(spark, root, col("id").isin(pick: _*))
      val deleted = pick.toSet -- gone
      assert(n == deleted.size.toLong)
      gone ++= deleted
      (v, deleted)
    }
    (root, commits)
  }

  /** The reference: `scan`'s rows with their positions, anti-joined
    * (`left_anti`) or semi-joined (`left_semi`) against the DV files
    * `dvs`; the position columns are dropped unless `keepPositions`. */
  private def reference(scan: DataFrame, dvs: Seq[SnapshotCatalog.FileEntry], how: String,
                        keepPositions: Boolean = false): Seq[Row] = {
    val dv = spark.read.schema(SnapshotCatalog.dvSchema).parquet(dvs.map(_.path): _*)
    val joined = scan.withColumn("__dv_file", col("_metadata.file_path"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
      .join(dv, Seq("__dv_file", "__dv_pos"), how)
    val positions = if (keepPositions) Seq("__dv_file", "__dv_pos") else Nil
    sorted(joined.select((scan.columns.toSeq ++ positions).map(col): _*))
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The broadcast ceilings every frame is served at. */
  private val ceilings = Seq("default" -> None, "1 byte" -> Some("1"), "-1" -> Some("-1"))

  private def atCeiling[A](ceiling: Option[String])(body: => A): A =
    ceiling.fold(body)(c => graft.core.GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> c)(body))

  private def checkPlan(plan: String, ceiling: String): Unit =
    assert(plan.contains("dv_listed") && !plan.contains("Join"),
      s"at the $ceiling ceiling the DVs must be a dv_listed filter, not a join:\n$plan")

  /** `frame`'s rows (sorted), served at every ceiling: the same at each,
    * each through a `dv_listed` filter. */
  private def served(frame: => DataFrame): Seq[Row] =
    ceilings.map { case (name, c) =>
      atCeiling(c) {
        val df = frame
        val rows = sorted(df)
        checkPlan(df.queryExecution.executedPlan.toString, name)
        rows
      }
    }.reduce { (a, b) => assert(a == b, "rows differ between ceilings"); a }

  private def idsOf(rows: Seq[Row]): Set[Long] = rows.map(_.getAs[Long]("id")).toSet

  for (seed <- Seq(1, 2, 3))
    test(s"readSnapshotWithDeletes serves the same rows through the filter and the join (seed $seed)") {
      val (root, commits) = seeded("graft_dvparity_read_", seed)
      val v = SnapshotCatalog.latestVersion(root)
      val got = served(SnapshotCatalog.readSnapshotWithDeletes(spark, root))
      assert(got == reference(SnapshotFileIndex.snapshotDF(spark, root, subtractDeletes = false),
        SnapshotCatalog.dvEntries(root, v), "left_anti"))
      assert(idsOf(got) == ids.toSet -- commits.flatMap(_._2))
    }

  test("deletedRows keeps the same deleted rows through the filter and the semi join") {
    val (root, commits) = seeded("graft_dvparity_deleted_", 4)
    for ((v, deleted) <- commits) {
      val dvAdds = SnapshotCatalog.changeCommits(root, v - 1, v).flatMap(_._3)
      val got = served(SnapshotCatalog.deletedRows(spark, dvAdds)(
        files => spark.read.parquet(files: _*)))
      val ref = reference(spark.read.parquet(SnapshotCatalog.manifestFiles(root, v - 1): _*),
        dvAdds, "left_semi").map(r => Row.fromSeq(r.toSeq :+ "delete"))
      assert(got == ref, s"version $v")
      assert(idsOf(got) == deleted, s"version $v")
      assert(got.forall(_.getAs[String]("_change_type") == "delete"))
    }
  }

  test("liveWithPositions keeps the same rows and positions through the filter and the join") {
    val (root, commits) = seeded("graft_dvparity_live_", 5)
    val v = SnapshotCatalog.latestVersion(root)
    val got = served(SnapshotCatalog.liveWithPositions(spark, root, v)
      .select("id", "v", "__dv_file", "__dv_pos"))
    assert(got == reference(SnapshotFileIndex.snapshotDF(spark, root, subtractDeletes = false),
      SnapshotCatalog.dvEntries(root, v), "left_anti", keepPositions = true))
    assert(idsOf(got) == ids.toSet -- commits.flatMap(_._2))
    // one row per (file, position)
    assert(got.map(r => (r.getString(2), r.getLong(3))).distinct.size == got.size)
  }

  test("a change-feed drain serves the same inserts and deletes through the filter and the join") {
    val (root, commits) = seeded("graft_dvparity_feed_", 6)
    /** The feed's (id, change type, version) rows — from version 1 (each
      * DV commit's deleted rows) or, with no start, the bootstrap
      * snapshot as inserts (its DVs applied) — and the plan of its last
      * micro-batch, which serves them all. */
    def drain(startingVersion: Option[String]): (Set[(Long, String, Long)], String) = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
      val r0 = spark.readStream.format(classOf[GraftFeedSourceProvider].getName)
        .option("root", root).option("readChangeFeed", "true")
      val q = startingVersion.fold(r0)(r0.option("startingVersion", _)).load()
        .writeStream
        .option("checkpointLocation", graft.streaming.Streams.scratchDir("graft_dvparity_cp_"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("id", "_change_type", "_commit_version").collect()
            .foreach(r => got.add((r.getLong(0), r.getString(1), r.getLong(2))))
          ()
        }
        .start()
      val plan =
        try {
          q.processAllAvailable()
          q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan.toString
        } finally q.stop()
      import scala.jdk.CollectionConverters._
      (got.asScala.toSet, plan)
    }
    // the reference: the rows each DV commit's positions hold, and the
    // bootstrap snapshot with every DV position anti-joined away
    val latest = SnapshotCatalog.latestVersion(root)
    val deletes = commits.flatMap { case (v, _) =>
      val dvAdds = SnapshotCatalog.changeCommits(root, v - 1, v).flatMap(_._3)
      reference(spark.read.parquet(SnapshotCatalog.manifestFiles(root, v - 1): _*),
        dvAdds, "left_semi").map(r => (r.getAs[Long]("id"), "delete", v.toLong))
    }.toSet
    val bootstrap = reference(SnapshotFileIndex.snapshotDF(spark, root, subtractDeletes = false),
      SnapshotCatalog.dvEntries(root, latest), "left_anti")
      .map(r => (r.getAs[Long]("id"), "insert", latest.toLong)).toSet
    assert(deletes.map(_._1) == commits.flatMap(_._2).toSet)
    assert(bootstrap.map(_._1) == ids.toSet -- commits.flatMap(_._2))
    for ((sv, expected) <- Seq(Some("1") -> deletes, None -> bootstrap);
         (name, c) <- ceilings) {
      val (got, plan) = atCeiling(c)(drain(sv))
      checkPlan(plan, name)
      assert(got.filter(_._2 == expected.head._2) == expected, s"startingVersion $sv at $name")
    }
  }

  test("a table dropped and recreated at its root is never served the old table's DV positions") {
    val (root, commits) = seeded("graft_dvparity_recreate_", 7)
    // the old table's DV positions are now in the process-wide cache
    assert(idsOf(served(SnapshotCatalog.readSnapshotWithDeletes(spark, root))) ==
      ids.toSet -- commits.flatMap(_._2))
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    // the same batch names, versions and DV counts, other deleted ids
    val s2 = spark; import s2.implicits._
    ids.grouped(30).zipWithIndex.foreach { case (part, b) =>
      SnapshotCatalog.append(part.map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), root, s"b$b")
    }
    val oldGone = commits.flatMap(_._2).toSet
    val newGone = ids.filterNot(oldGone).take(12).toSet
    SnapshotCatalog.deleteWhere(spark, root, col("id").isin(newGone.toSeq: _*))
    val got = served(SnapshotCatalog.readSnapshotWithDeletes(spark, root))
    assert(got == reference(SnapshotFileIndex.snapshotDF(spark, root, subtractDeletes = false),
      SnapshotCatalog.dvEntries(root, SnapshotCatalog.latestVersion(root)), "left_anti"))
    assert(idsOf(got) == ids.toSet -- newGone)
  }

  test("a V line logged without its coverage still reads, feeds and maintains the same rows") {
    val (root, commits) = seeded("graft_dvparity_legacy_", 8)
    val v = SnapshotCatalog.latestVersion(root)
    def read() = sorted(SnapshotCatalog.readSnapshotWithDeletes(spark, root))
    def feeds() = commits.map { case (cv, _) =>
      sorted(SnapshotCatalog.deletedRows(spark,
        SnapshotCatalog.changeCommits(root, cv - 1, cv).flatMap(_._3))(
        files => spark.read.parquet(files: _*)))
    }
    val (readBefore, feedsBefore) = (read(), feeds())
    // the middle DV commit's V line in its pre-coverage form: path,
    // size, rows — no stats or coverage field
    val (mid, _) = commits(1)
    val commit = new java.io.File(new Path(s"$root/manifests/commit-v$mid.txt").toUri.getPath)
    val lines = scala.io.Source.fromFile(commit).getLines().toList
    assert(lines.exists(l => l.startsWith("V\t") && l.split("\t", -1).length == 6))
    java.nio.file.Files.writeString(commit.toPath, lines.map { l =>
      if (l.startsWith("V\t")) l.split("\t", -1).take(4).mkString("\t") else l
    }.mkString("\n") + "\n")
    SnapshotCatalog.dropCaches() // a fresh reader process sees the old line
    assert(SnapshotCatalog.dvEntries(root, v).exists(_.covers.isEmpty))
    assert(read() == readBefore)
    assert(feeds() == feedsBefore)
    // maintenance rewrites every file the DVs cover, the old line's too
    assert(SnapshotCatalog.maintainIfNeeded(spark, root, "m0", maxDvBytes = Some(0L)).isDefined)
    val after = SnapshotCatalog.latestVersion(root)
    assert(SnapshotCatalog.dvEntries(root, after).isEmpty)
    assert(sorted(SnapshotCatalog.readSnapshot(spark, root)) == readBefore)
    assert(read() == readBefore)
  }
}
