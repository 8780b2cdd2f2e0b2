package graft

import graft.sources.SnapshotCatalog
import graft.sources.SnapshotCatalog.{MergeDeleteClause, MergeInsertClause, MergeUpdateClause}
import org.apache.spark.sql.functions._

/** Every deletion-vector (DV) read trusts `SnapshotCatalog.dvSchema`
  * instead of inferring the schema from the files. A writer whose batch
  * drifted from it (a renamed column, an int position) would read back
  * as nulls, and the anti-join would silently serve deleted rows again.
  * So each DV writer's staged batch must carry exactly that schema in its
  * parquet footer: the same column names, in order, of the same types. */
class DvSchemaSpec extends SparkTestBase {

  /** A table partitioned by `p` (even ids "a", odd "b"): ids 1..40 in two
    * batches, `v` = id. */
  private def table(prefix: String): String = {
    val root = graft.streaming.Streams.dataDir(prefix)
    val s2 = spark; import s2.implicits._
    Seq(1L to 20L, 21L to 40L).zipWithIndex.foreach { case (ids, b) =>
      SnapshotCatalog.append(ids.map(i => (i, i, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "v", "p").coalesce(1), root, s"b$b", partitionBy = Seq("p"))
    }
    root
  }

  private def src = { val s2 = spark; import s2.implicits._
    Seq((5L, 50L, "b"), (41L, 410L, "b")).toDF("id", "v", "p") }

  /** Each writer, the tag its batch directory starts with, and a run of it. */
  private val writers: Seq[(String, String, String => Any)] = Seq(
    ("deleteWhere", "d", root =>
      SnapshotCatalog.deleteWhere(spark, root, col("id").between(5L, 6L))),
    ("mergeOnRead", "m", root =>
      SnapshotCatalog.mergeOnRead(spark, root, src, Seq("id"), "u0")),
    ("mergeInto with a by-source clause", "g", root =>
      SnapshotCatalog.mergeInto(spark, root, src, Seq("id"),
        Seq(MergeUpdateClause(None, Seq("v" -> col("__src_v")))),
        Seq(MergeInsertClause(None, Seq("id" -> col("__src_id"), "v" -> col("__src_v"),
          "p" -> col("__src_p")))),
        "g0", bySource = Seq(MergeDeleteClause(Some(col("id") > 38L))))),
    ("updateWhere", "u", root =>
      SnapshotCatalog.updateWhere(spark, root, col("id").between(5L, 6L),
        Seq("v" -> (col("v") + 1L)), "up0")),
    // the positions into partition b survive a pass scoped to a: re-landed
    ("a scoped maintainIfNeeded", "w", { root =>
      SnapshotCatalog.deleteWhere(spark, root, col("id") <= 4L)
      assert(SnapshotCatalog.maintainIfNeeded(spark, root, "c0", maxLiveFiles = 0,
        minMergeFanout = 2, partitionScope = Map("p" -> "a")).isDefined)
    }))

  for ((writer, tag, write) <- writers)
    test(s"$writer stages its DV batch in exactly dvSchema") {
      val root = table("graft_dvschema_")
      val before = SnapshotCatalog.dvFiles(root, SnapshotCatalog.latestVersion(root)).toSet
      write(root)
      val staged = SnapshotCatalog.dvFiles(root, SnapshotCatalog.latestVersion(root))
        .filterNot(before)
      assert(staged.nonEmpty, s"$writer staged no DV batch")
      def shape(s: org.apache.spark.sql.types.StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
      staged.foreach { f =>
        assert(new org.apache.hadoop.fs.Path(f).getParent.getName.startsWith(tag),
          s"$f is not a batch $writer stages")
        assert(shape(spark.read.parquet(f).schema) == shape(SnapshotCatalog.dvSchema),
          s"$writer staged $f off dvSchema")
      }
    }
}
