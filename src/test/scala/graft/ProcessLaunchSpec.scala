package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.spark.sql.functions.col

import graft.core.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import graft.sources.SnapshotCatalog
import graft.streaming.Streams

/** The engine's file writes start no processes. Hadoop's stock local
  * filesystem shells out a `chmod` per created file or directory and a
  * `readlink` per `FileContext` rename (~3 ms a launch); the session's
  * `file:` filesystem does both in-process. A JFR `jdk.ProcessStart`
  * recording around the write paths of a pipeline op — a stateful
  * RocksDB drain (offset/commit logs, state uploads), a parquet write
  * and a catalog append — names every launch. */
class ProcessLaunchSpec extends SparkTestBase {

  /** The command lines of every process the JVM started while `body` ran. */
  private def launches(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_launches", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("the session's file: FileSystem and FileContext are the fork-free local filesystem") {
    val conf = spark.sessionState.newHadoopConf()
    // Hadoop caches FileSystems by scheme, not conf: the cached instance
    // is the one every write path gets
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs],
      fc.getDefaultFileSystem.getClass.getName)
  }

  test("a stateful drain, a parquet write and a catalog append launch no chmod/readlink/ls/stat") {
    import spark.implicits._
    val root = Streams.dataDir("graft_launch_cat_") + "/t"
    val cmds = launches {
      val counts = Streams.drainToMemory(
        Streams.eventsStream(spark, sfDir).groupBy(col("event_type")).count(),
        "launch_audit_counts", outputMode = "complete")
      assert(counts.count() > 0)
      spark.range(100).write.parquet(Streams.dataDir("graft_launch_pq_") + "/p")
      SnapshotCatalog.append((1L to 20L).toDF("id").coalesce(1), root, "b0")
    }
    val tools = Set("chmod", "readlink", "ls", "stat")
    val offending = cmds.filter { c =>
      tools.contains(new java.io.File(c.trim.split("\\s+").head).getName)
    }
    // allowed: Spark's JavaUtils.deleteRecursively removes scratch dirs
    // with `rm -rf`, which no filesystem conf reaches, and one-time
    // native-library probes (`getconf`, RocksDB's `ldd`)
    assert(offending.isEmpty, s"${offending.size} launches: ${offending.take(5).mkString("; ")}")
    assert(new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      .exists(new Path(root, "manifests")))
  }
}
