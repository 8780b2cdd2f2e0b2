package graft

import graft.sources.SnapshotCatalog
import org.apache.spark.sql.functions._

/** Model-based fuzz of the WHOLE snapshot-catalog seam: random
  * interleavings of append / replace / DV-delete / merge-on-read /
  * generalized mergeInto / restore / expire / DV-update / forced
  * OPTIMIZE are replayed against an in-memory reference model, and after
  * EVERY operation the catalog's resolved content — at every surviving
  * version, through the full read path (delta-log resolution +
  * checkpoints + deletion vectors) — must equal the model's snapshot
  * of that version. Each per-op spec pins one edge; this pins their
  * COMPOSITION: any bug in how the pieces interact (a reset that
  * leaks across versions, a checkpoint that bakes stale DVs, an
  * expire that breaks a floor resolution, a merge that resurrects a
  * deleted row) surfaces as a version whose content diverges from the
  * model. Fixed seed — failures replay deterministically. */
class CatalogModelSpec extends SparkTestBase {

  test("fuzz: random op sequences — every surviving version's content equals the reference model after every op") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(1414)

    (1 to 2).foreach { trial =>
      val root = graft.streaming.Streams.dataDir(s"graft_model${trial}_")
      var live = Map.empty[Long, Long] // id -> value, the table's truth
      val versions = scala.collection.mutable.SortedMap.empty[Int, Map[Long, Long]]
      var nextId = 0L
      def df(m: Map[Long, Long]) =
        m.toSeq.sortBy(_._1).toDF("id", "v").coalesce(1)

      (0 until 16).foreach { op =>
        val kind =
          if (versions.isEmpty) 0 // first op must create the table
          else rnd.nextInt(9)
        kind match {
          case 0 => // append fresh rows
            val fresh = (0 until 1 + rnd.nextInt(4))
              .map { _ => nextId += 1; nextId -> nextId * 7L }.toMap
            live = live ++ fresh
            val v = SnapshotCatalog.append(df(fresh), root, s"b$op")
            versions(v) = live
          case 1 => // compacting replace (content-neutral, applies DVs)
            val v = SnapshotCatalog.replace(df(live), root, s"r$op")
            versions(v) = live
          case 2 => // DV delete by modulus
            val m = Seq(2L, 3L, 5L)(rnd.nextInt(3))
            val r = rnd.nextInt(m.toInt).toLong
            val matched = live.keySet.filter(_ % m == r)
            val (v, nDel) = SnapshotCatalog.deleteWhere(spark, root,
              col("id") % m === r)
            assert(nDel == matched.size.toLong,
              s"trial $trial op $op: delete matched $nDel, model says ${matched.size}")
            if (nDel > 0) { live = live -- matched; versions(v) = live }
          case 3 => // merge-on-read: update a random subset + one insert
            val upd = live.keySet.filter(_ => rnd.nextBoolean())
              .map(k => k -> (live(k) * 2L + 1L)).toMap
            nextId += 1
            val ins = Map(nextId -> nextId * 7L)
            val (v, nM) = SnapshotCatalog.mergeOnRead(spark, root,
              df(upd ++ ins), Seq("id"), s"u$op")
            assert(nM == upd.size.toLong,
              s"trial $trial op $op: merge matched $nM, model says ${upd.size}")
            live = live ++ upd ++ ins
            versions(v) = live
          case 4 => // expire to a random horizon
            val keep = 1 + rnd.nextInt(3)
            SnapshotCatalog.expire(root, keepLast = keep)
            versions.keys.toSeq.dropRight(keep).foreach(versions.remove)
          case 5 => // generalized mergeInto: delete-clause-first +
            // unconditioned update + conditioned insert, one commit
            import graft.sources.SnapshotCatalog.{MergeDeleteClause, MergeInsertClause, MergeUpdateClause}
            val updKeys = live.keySet.filter(_ => rnd.nextBoolean())
            val delKeys = (live.keySet -- updKeys).filter(_ => rnd.nextInt(3) == 0)
            nextId += 1
            val insId = nextId
            val src = (updKeys.toSeq.map(k => (k, live(k) * 2L + 1L, "upd")) ++
              delKeys.toSeq.map(k => (k, 0L, "del")) :+ ((insId, insId * 7L, "new")))
              .sortBy(_._1).toDF("id", "nv", "op").coalesce(1)
            val (v, nA) = SnapshotCatalog.mergeInto(spark, root, src, Seq("id"),
              matched = Seq(
                MergeDeleteClause(Some(col("__src_op") === "del")),
                MergeUpdateClause(None, Seq("v" -> col("__src_nv")))),
              notMatched = Seq(MergeInsertClause(
                Some(col("__src_op") === "new"),
                Seq("id" -> col("__src_id"), "v" -> col("__src_nv")))),
              batch = s"gi$op")
            assert(nA == (updKeys.size + delKeys.size).toLong,
              s"trial $trial op $op: mergeInto actioned $nA, model says " +
                s"${updKeys.size + delKeys.size}")
            live = (live -- delKeys) ++
              updKeys.map(k => k -> (live(k) * 2L + 1L)) + (insId -> insId * 7L)
            versions(v) = live
          case 6 => // restore to a random surviving version
            val vs = versions.keys.toVector
            val target = vs(rnd.nextInt(vs.size))
            val nv = SnapshotCatalog.restore(root, target)
            live = versions(target)
            versions(nv) = live
          case 7 => // DV update by modulus: matched rows re-land transformed
            val m = Seq(2L, 3L, 5L)(rnd.nextInt(3))
            val r = rnd.nextInt(m.toInt).toLong
            val matched = live.keySet.filter(_ % m == r)
            val (v, nUpd) = SnapshotCatalog.updateWhere(spark, root,
              col("id") % m === r, Seq("v" -> (col("v") * 3L + 1L)), s"up$op")
            assert(nUpd == matched.size.toLong,
              s"trial $trial op $op: update matched $nUpd, model says ${matched.size}")
            if (nUpd > 0) {
              live = live ++ matched.map(k => k -> (live(k) * 3L + 1L))
              versions(v) = live
            }
          case 8 => // OPTIMIZE forced past its file-count threshold:
            // content-neutral, applies and resets the DVs
            SnapshotCatalog.maintainIfNeeded(spark, root, s"c$op",
              maxLiveFiles = 0, minMergeFanout = 2)
              .foreach(v => versions(v) = live)
        }
        // THE INVARIANT: every surviving version reads back as the
        // model snapshotted it, through the full path (log resolution,
        // checkpoints, deletion vectors)
        versions.foreach { case (v, expect) =>
          val got = SnapshotCatalog
            .readSnapshotWithDeletes(spark, root, Some(v))
            .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
          assert(got == expect,
            s"trial $trial op $op (kind $kind): version $v diverged\n" +
              s"missing=${(expect.keySet -- got.keySet).toSeq.sorted}\n" +
              s"extra=${(got.keySet -- expect.keySet).toSeq.sorted}\n" +
              s"changed=${expect.keySet.intersect(got.keySet)
                .filter(k => expect(k) != got(k)).toSeq.sorted}")
        }
      }
      // final hygiene: history covers exactly the surviving versions
      assert(SnapshotCatalog.history(root).map(_._1) ==
        versions.keys.toSeq.sorted)
    }
  }

  test("fuzz (partitioned): append/overwrite/delete/merge sequences with a hive spec in the log match the model at every version") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(2718)
    val parts = Vector("a", "b", "c")
    val root = graft.streaming.Streams.dataDir("graft_modelp_")
    // id -> (partition, value): the table's truth
    var live = Map.empty[Long, (String, Long)]
    val versions = scala.collection.mutable.SortedMap.empty[Int, Map[Long, (String, Long)]]
    var nextId = 0L
    def df(m: Map[Long, (String, Long)]) =
      m.toSeq.sortBy(_._1).map { case (id, (p, v)) => (id, p, v) }
        .toDF("id", "p", "v").coalesce(1)

    (0 until 12).foreach { op =>
      val kind = if (versions.isEmpty) 0 else rnd.nextInt(5)
      kind match {
        case 0 => // partitioned append of fresh rows
          val fresh = (0 until 1 + rnd.nextInt(4)).map { _ =>
            nextId += 1
            nextId -> (parts(rnd.nextInt(3)), nextId * 7L)
          }.toMap
          live = live ++ fresh
          val v = SnapshotCatalog.append(df(fresh), root, s"b$op",
            partitionBy = Seq("p"))
          versions(v) = live
        case 1 => // partition overwrite: restate ONE populated partition
          val populated = live.values.map(_._1).toSet.toVector.sorted
          if (populated.nonEmpty) {
            val q = populated(rnd.nextInt(populated.size))
            val restated = live.collect {
              case (id, (`q`, v)) => id -> (q, v * 3L + 1L) }
            live = live.filterNot(_._2._1 == q) ++ restated
            val (v, nT) = SnapshotCatalog.replacePartitions(spark, root,
              df(restated.toMap), s"o$op")
            assert(nT == 1, s"op $op: overwrite touched $nT partitions")
            versions(v) = live
          }
        case 2 => // DV delete by modulus (cuts across partitions)
          val m = Seq(2L, 3L, 5L)(rnd.nextInt(3))
          val r = rnd.nextInt(m.toInt).toLong
          val matched = live.keySet.filter(_ % m == r)
          val (v, nDel) = SnapshotCatalog.deleteWhere(spark, root,
            col("id") % m === r)
          assert(nDel == matched.size.toLong,
            s"op $op: delete matched $nDel, model says ${matched.size}")
          if (nDel > 0) { live = live -- matched; versions(v) = live }
        case 3 => // merge-on-read: updates may MOVE a row across partitions
          val upd = live.keySet.filter(_ => rnd.nextBoolean())
            .map { k =>
              val (_, v) = live(k)
              k -> (parts(rnd.nextInt(3)), v * 2L + 1L)
            }.toMap
          nextId += 1
          val ins = Map(nextId -> (parts(rnd.nextInt(3)), nextId * 7L))
          val (v, nM) = SnapshotCatalog.mergeOnRead(spark, root,
            df(upd ++ ins), Seq("id"), s"u$op")
          assert(nM == upd.size.toLong,
            s"op $op: merge matched $nM, model says ${upd.size}")
          live = live ++ upd ++ ins
          versions(v) = live
        case 4 =>
          val keep = 1 + rnd.nextInt(3)
          SnapshotCatalog.expire(root, keepLast = keep)
          versions.keys.toSeq.dropRight(keep).foreach(versions.remove)
      }
      versions.foreach { case (v, expect) =>
        val got = SnapshotCatalog
          .readSnapshotWithDeletes(spark, root, Some(v))
          .select("id", "p", "v").collect()
          .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
        assert(got == expect,
          s"op $op (kind $kind): version $v diverged\n" +
            s"missing=${(expect.keySet -- got.keySet).toSeq.sorted}\n" +
            s"extra=${(got.keySet -- expect.keySet).toSeq.sorted}\n" +
            s"changed=${expect.keySet.intersect(got.keySet)
              .filter(k => expect(k) != got(k)).toSeq.sorted}")
      }
    }
    // the spec survived every op in the log
    assert(SnapshotCatalog.partitionSpecAt(root,
      SnapshotCatalog.latestVersion(root)).exists(_.fieldNames.sameElements(Array("p"))))
  }
}
