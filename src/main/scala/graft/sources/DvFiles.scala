package graft.sources

import graft.sources.SnapshotCatalog.FileEntry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat

/** Deletion-vector (DV) files read with the parquet-hadoop reader — no
  * Spark job — in [[SnapshotCatalog.dvSchema]]. A scan task reads one
  * data file's positions at a time ([[Index.positions]]), filtered on
  * `__dv_file`, so the sorted batch's row-group stats and page indexes
  * skip the other files' positions. They stay in a process-wide cache
  * keyed by DV path, logged size and data file: a DV file is immutable
  * once staged under a fresh `<root>/dv/<tag><uuid>` name, so a table
  * recreated at the same root never resolves an old key. Least recently
  * used keys go first once past [[MaxPositions]]. */
private[graft] object DvFiles {

  /** 4 Mi positions (32 MB of longs) stay cached across reads; a file's
    * positions read past the bound are still served, just not kept. */
  val MaxPositions: Long = 4L << 20

  /** What a [[graft.functions.DvListed]] predicate broadcasts: each
    * covered data file's DV entries (path, logged size), and the
    * session's Hadoop conf to read them with inside the task. */
  final class Index(byFile: Map[String, Seq[(String, Long)]],
                    conf: org.apache.spark.SerializableWritable[Configuration])
      extends Serializable {
    /** The data file `file`'s deleted positions, sorted; empty when no
      * DV entry covers it. */
    def positions(file: String): Array[Long] =
      byFile.getOrElse(file, Nil).map { case (dv, size) =>
        DvFiles.positions(conf.value, dv, size, file) } match {
        case Seq(one) => one
        case many => val a = many.flatten.toArray; java.util.Arrays.sort(a); a
      }
  }

  private val cache =
    new java.util.LinkedHashMap[(String, Long, String), Array[Long]](64, 0.75f, true)
  private var held = 0L

  private def positions(conf: Configuration, dv: String, size: Long,
                        file: String): Array[Long] = {
    val key = (dv, size, file)
    cache.synchronized(Option(cache.get(key))).getOrElse {
      import org.apache.parquet.filter2.predicate.FilterApi
      val ps = new collection.mutable.ArrayBuilder.ofLong
      read(conf, dv, FilterCompat.get(FilterApi.eq(FilterApi.binaryColumn("__dv_file"),
        org.apache.parquet.io.api.Binary.fromString(file)))) { g =>
        if (g.getFieldRepetitionCount("__dv_pos") > 0) ps.addOne(g.getLong("__dv_pos", 0))
      }
      val got = ps.result()
      java.util.Arrays.sort(got)
      cache.synchronized {
        val old = cache.put(key, got)
        held += got.length - (if (old == null) 0 else old.length)
        val it = cache.values.iterator
        while (held > MaxPositions && it.hasNext) { held -= it.next().length; it.remove() }
      }
      got
    }
  }

  /** The data files the DV entry `e` covers: its logged coverage, or
    * for a `V` line logged without one, its file's `__dv_file` column
    * read on the driver (`conf` is built only then). */
  def covered(conf: => Configuration, e: FileEntry): Seq[String] = e.covers.getOrElse {
    val files = collection.mutable.LinkedHashSet.empty[String]
    read(conf, e.path, FilterCompat.NOOP) { g =>
      if (g.getFieldRepetitionCount("__dv_file") > 0) files += g.getString("__dv_file", 0)
    }
    files.toSeq
  }

  /** Forget every position read (a fresh process). */
  def clear(): Unit = cache.synchronized { cache.clear(); held = 0L }

  /** Each row of the DV file `path` that passes `filter`. */
  private def read(conf: Configuration, path: String, filter: FilterCompat.Filter)(
      row: Group => Unit): Unit = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val reader = ParquetReader.builder(new GroupReadSupport(), new Path(path))
      .withConf(conf).withFilter(filter).build()
    try {
      var g: Group = reader.read()
      while (g != null) { row(g); g = reader.read() }
    } finally reader.close()
  }
}
