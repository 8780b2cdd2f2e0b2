package graft

import graft.sources.SnapshotCatalog
import graft.sources.SnapshotCatalog.{MergeInsertClause, MergeUpdateClause}
import org.apache.spark.sql.functions._

/** Spark jobs per catalog op on a tiny table with deletion vectors (DVs)
  * in effect. The catalog's ops are driver-bound, so each job is fixed
  * overhead: these upper bounds pin that no DV read infers its fixed
  * schema (a job per read), that no DV batch is read back to be
  * counted (its footer holds the count) or to list the data files it
  * covers (the log holds them), and that DVs are applied as a filter
  * whose scan tasks read their own file's positions, with no join job
  * at any DV set size. Jobs are counted by job group through the
  * status tracker. */
class CatalogJobsSpec extends SparkTestBase {

  /** The number of Spark jobs `body` runs. */
  private def jobs(body: => Any): Int = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val group = s"catalog-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "catalog jobs per op")
    try body finally sc.clearJobGroup()
    // the status store hears of jobs asynchronously: wait until every
    // job of the group it knows has ended and no further one arrives
    var last = -1
    eventually(timeout(20.seconds), interval(200.millis)) {
      val ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
      assert(ids.forall(id => sc.statusTracker.getJobInfo(id).exists(
        _.status != org.apache.spark.JobExecutionStatus.RUNNING)))
      val settled = ids.size == last
      last = ids.size
      assert(settled)
    }
    last
  }

  /** A two-file table (ids 1..40, `v` = id) with ids 1..3 deleted, so
    * every op below runs with DVs in effect. */
  private def tinyTable(prefix: String): String = {
    val root = graft.streaming.Streams.dataDir(prefix)
    val s2 = spark; import s2.implicits._
    Seq(1L to 20L, 21L to 40L).zipWithIndex.foreach { case (ids, b) =>
      SnapshotCatalog.append(ids.map(i => (i, i)).toDF("id", "v").coalesce(1), root, s"b$b")
    }
    SnapshotCatalog.deleteWhere(spark, root, col("id") <= 3L)
    root
  }

  private def src = { val s2 = spark; import s2.implicits._
    Seq((5L, 50L), (41L, 410L)).toDF("id", "v") }

  private val ops: Seq[(String, Int, String => Any)] = Seq(
    ("a snapshot read", 2, root =>
      SnapshotCatalog.readSnapshotWithDeletes(spark, root).agg(sum("v")).collect()),
    ("deleteWhere", 1, root =>
      SnapshotCatalog.deleteWhere(spark, root, col("id").between(5L, 6L))),
    ("mergeOnRead", 4, root =>
      SnapshotCatalog.mergeOnRead(spark, root, src, Seq("id"), "u0")),
    ("mergeInto", 5, root =>
      SnapshotCatalog.mergeInto(spark, root, src, Seq("id"),
        Seq(MergeUpdateClause(None, Seq("v" -> col("__src_v")))),
        Seq(MergeInsertClause(None, Seq("id" -> col("__src_id"), "v" -> col("__src_v")))),
        "g0")),
    ("updateWhere", 2, root =>
      SnapshotCatalog.updateWhere(spark, root, col("id").between(5L, 6L),
        Seq("v" -> (col("v") + 1L)), "up0")),
    ("maintainIfNeeded", 3, root =>
      SnapshotCatalog.maintainIfNeeded(spark, root, "m0", maxDvBytes = Some(0L))))

  private def checkBound(op: String, bound: Int, n: Int): Unit =
    assert(n <= bound, s"$op ran $n Spark jobs (bound $bound)")

  for ((op, bound, run) <- ops)
    test(s"$op with DVs in effect runs at most $bound Spark jobs") {
      val root = tinyTable("graft_jobs_")
      checkBound(op, bound, jobs(run(root)))
    }

  test("past the broadcast gate a read, a delete and maintenance keep their bounds; dvBearingFiles runs no job at any size") {
    def bearing(root: String) = SnapshotCatalog.dvBearingFiles(spark,
      SnapshotCatalog.dvEntries(root, SnapshotCatalog.latestVersion(root)))
    val under = tinyTable("graft_jobs_bearing_")
    assert(jobs(bearing(under)) == 0)
    pastTheGate {
      for ((op, bound, run) <- ops
           if Set("a snapshot read", "deleteWhere", "maintainIfNeeded")(op)) {
        val root = tinyTable("graft_jobs_past_")
        assert(jobs(bearing(root)) == 0)
        checkBound(op, bound, jobs(run(root)))
      }
    }
  }
}
