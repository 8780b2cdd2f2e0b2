package graft.sources

import graft.sources.SnapshotCatalog.FileEntry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The driver's deletion-vector (DV) files: each one read once, on the
  * driver, with the parquet-hadoop reader — no Spark job — into the
  * positions it deletes, grouped by data file (the recorded `__dv_file`)
  * and sorted.
  *
  * Keyed by path plus logged size. A DV file is immutable once staged,
  * and every batch lands under a fresh `<root>/dv/<tag><uuid>` name, so
  * a table dropped and recreated at the same root never resolves an old
  * file's key. Bounded by the positions it holds: least recently used
  * files go first once past [[MaxPositions]]. Callers read only DV sets
  * that fit [[graft.core.BroadcastGate]], so one set never outgrows what
  * the gate lets the driver hold. */
private[sources] object DvFiles {

  /** 4 Mi positions (32 MB of longs) stay cached across reads; a file
    * read past the bound is still served, just not kept. */
  val MaxPositions: Long = 4L << 20

  private val cache =
    new java.util.LinkedHashMap[(String, Long), Map[String, Array[Long]]](64, 0.75f, true)
  private var held = 0L

  /** The positions of every DV file in `dvs`, merged per data file;
    * `conf` is built only for a file not cached yet. */
  def positions(conf: => Configuration, dvs: Seq[FileEntry]): Map[String, Array[Long]] =
    dvs.map(of(conf, _)) match {
      case Seq(one) => one
      case many => many.flatMap(_.toSeq).groupBy(_._1).map {
        case (f, Seq((_, ps))) => f -> ps
        case (f, parts) => f -> { val a = parts.flatMap(_._2).toArray; java.util.Arrays.sort(a); a }
      }
    }

  /** The data files the DV set `dvs` points at, sorted. */
  def bearing(conf: => Configuration, dvs: Seq[FileEntry]): Seq[String] =
    dvs.flatMap(of(conf, _).keys).distinct.sorted

  private def of(conf: => Configuration, e: FileEntry): Map[String, Array[Long]] = {
    val key = (e.path, SnapshotCatalog.entryBytes(e))
    val hit = cache.synchronized(Option(cache.get(key)))
    hit.getOrElse {
      val read = readFile(conf, e.path)
      cache.synchronized {
        if (cache.put(key, read) == null) held += weight(read)
        val it = cache.values.iterator
        while (held > MaxPositions && it.hasNext) { held -= weight(it.next()); it.remove() }
      }
      read
    }
  }

  /** Forget every file read (a fresh driver). */
  def clear(): Unit = cache.synchronized { cache.clear(); held = 0L }

  private def weight(m: Map[String, Array[Long]]): Long = m.valuesIterator.map(_.length.toLong).sum

  /** One DV file's positions in [[SnapshotCatalog.dvSchema]]: a row
    * without a file or a position lists nothing. */
  private def readFile(conf: Configuration, path: String): Map[String, Array[Long]] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val byFile = collection.mutable.HashMap.empty[String, collection.mutable.ArrayBuilder.ofLong]
    val reader = ParquetReader.builder(new GroupReadSupport(), new Path(path)).withConf(conf).build()
    try {
      var g: Group = reader.read()
      while (g != null) {
        if (g.getFieldRepetitionCount("__dv_file") > 0 && g.getFieldRepetitionCount("__dv_pos") > 0)
          byFile.getOrElseUpdate(g.getString("__dv_file", 0), new collection.mutable.ArrayBuilder.ofLong)
            .addOne(g.getLong("__dv_pos", 0))
        g = reader.read()
      }
    } finally reader.close()
    byFile.map { case (f, b) => val a = b.result(); java.util.Arrays.sort(a); f -> a }.toMap
  }
}
