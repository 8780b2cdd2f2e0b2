package graft.sources

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deletion vectors (DVs) are applied two ways, chosen by
  * `BroadcastGate` on the DV set's logged bytes: under the gate as a
  * `dv_listed` filter over positions read on the driver and broadcast,
  * past it as a merge-hinted anti (or semi) join that shuffles. Over
  * seeded DV sets on a three-file table both must serve the same rows —
  * and the rows the deletes leave. Each comparison also pins which path
  * each side took. */
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

  /** `frame`'s rows (sorted) built under the gate and built past it,
    * after checking that each took its path. */
  private def bothPaths(frame: => DataFrame): (Seq[Row], Seq[Row]) = {
    def run(): (Seq[Row], String) = {
      val df = frame
      val rows = df.collect().toSeq.sortBy(_.toString)
      (rows, df.queryExecution.executedPlan.toString)
    }
    val (under, underPlan) = run()
    val (past, pastPlan) = pastTheGate(run())
    checkPaths(underPlan, pastPlan)
    (under, past)
  }

  private def checkPaths(underPlan: String, pastPlan: String): Unit = {
    assert(underPlan.contains("dv_listed") && !underPlan.contains("Join"),
      s"under the gate the DVs must be a position filter:\n$underPlan")
    assert(pastPlan.contains("SortMergeJoin") && !pastPlan.contains("dv_listed"),
      s"past the gate the DVs must join with a shuffle:\n$pastPlan")
  }

  private def idsOf(rows: Seq[Row]): Set[Long] = rows.map(_.getAs[Long]("id")).toSet

  for (seed <- Seq(1, 2, 3))
    test(s"readSnapshotWithDeletes serves the same rows through the filter and the join (seed $seed)") {
      val (root, commits) = seeded("graft_dvparity_read_", seed)
      val (under, past) = bothPaths(SnapshotCatalog.readSnapshotWithDeletes(spark, root))
      assert(under == past)
      assert(idsOf(under) == ids.toSet -- commits.flatMap(_._2))
    }

  test("deletedRows keeps the same deleted rows through the filter and the semi join") {
    val (root, commits) = seeded("graft_dvparity_deleted_", 4)
    for ((v, deleted) <- commits) {
      val dvAdds = SnapshotCatalog.changeCommits(root, v - 1, v).flatMap(_._3)
      val (under, past) = bothPaths(SnapshotCatalog.deletedRows(spark, dvAdds)(
        files => spark.read.parquet(files: _*)))
      assert(under == past, s"version $v")
      assert(idsOf(under) == deleted, s"version $v")
      assert(under.forall(_.getAs[String]("_change_type") == "delete"))
    }
  }

  test("liveWithPositions keeps the same rows and positions through the filter and the join") {
    val (root, commits) = seeded("graft_dvparity_live_", 5)
    val v = SnapshotCatalog.latestVersion(root)
    val (under, past) = bothPaths(SnapshotCatalog.liveWithPositions(spark, root, v)
      .select("id", "v", "__dv_file", "__dv_pos"))
    assert(under == past)
    assert(idsOf(under) == ids.toSet -- commits.flatMap(_._2))
    // one row per (file, position)
    assert(under.map(r => (r.getString(2), r.getLong(3))).distinct.size == under.size)
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
    val deletes = commits.flatMap { case (v, d) => d.map(i => (i, "delete", v.toLong)) }.toSet
    val latest = SnapshotCatalog.latestVersion(root).toLong
    val bootstrap = (ids.toSet -- commits.flatMap(_._2)).map(i => (i, "insert", latest))
    for ((sv, expected) <- Seq(Some("1") -> deletes, None -> bootstrap)) {
      val (under, underPlan) = drain(sv)
      val (past, pastPlan) = pastTheGate(drain(sv))
      checkPaths(underPlan, pastPlan)
      assert(under == past, s"startingVersion $sv")
      assert(under.filter(_._2 == expected.head._2) == expected, s"startingVersion $sv")
    }
  }

  test("a table dropped and recreated at its root is never served the old table's DV positions") {
    val (root, commits) = seeded("graft_dvparity_recreate_", 7)
    // the old table's DV files are now in the driver's cache
    assert(idsOf(bothPaths(SnapshotCatalog.readSnapshotWithDeletes(spark, root))._1) ==
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
    val (under, past) = bothPaths(SnapshotCatalog.readSnapshotWithDeletes(spark, root))
    assert(under == past)
    assert(idsOf(under) == ids.toSet -- newGone)
  }
}
