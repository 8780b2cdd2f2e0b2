package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Command-line settings of one benchmark JVM. */
final case class Config(workload: String, dataDir: String, outDir: String,
                        rounds: Int, trace: Boolean, seed: Long, cores: Int,
                        injectFailure: Boolean)

/** One timed (or warm-up) op. Times are milliseconds; `startMs`/`endMs`
  * are epoch milliseconds, the clock Spark's listener events carry. */
final case class OpRec(idx: Int, name: String, kind: String, round: Int,
                       warm: Boolean, traced: Boolean, startMs: Long, endMs: Long,
                       buildMs: Double, planMs: Double, execMs: Double,
                       teardownMs: Double, gcMs: Long, var records: Long,
                       error: Option[String], var info: Map[String, Any]) {
  /** False once the op's output failed a check. */
  var ok: Option[Boolean] = None
  def wallMs: Double = buildMs + planMs + execMs + teardownMs
}

/** The closed-loop op runner: one client thread, each op built, planned,
  * executed and torn down in turn, the way `graft.Bench.once` runs a
  * query, with the four phases timed separately. */
final class Harness(val spark: SparkSession, val cfg: Config, val tracer: Tracer) {
  val ops = ArrayBuffer[OpRec]()
  var warm = true
  var round = 0
  private var injected = false

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  private def gcTotalMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Bench's per-query teardown: cached relations, persisted RDDs
    * (blocking, so `localCheckpoint` residue is billed here) and the
    * memory sinks streaming drains registered. */
  def teardown(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.streaming.Streams.drainRegisteredMemorySinks().foreach(spark.catalog.dropTempView)
  }

  /** Run one op. `build` does the op's eager work and returns the frame
    * whose rows are its output (None for a pure commit); the frame is
    * planned, then collected. Returns the record and the collected rows
    * (None when the op threw). */
  def op(name: String, kind: String, records: Long = 0L,
         info: Map[String, Any] = Map.empty)(build: => Option[DataFrame])
      : (OpRec, Option[Array[Row]]) = {
    // Bench's quiescing step before a timed op, outside every timer: the
    // gc takes the previous op's collection debt, and the settle gap lets
    // the ContextCleaner run the removals that gc queued
    if (!warm) { System.gc(); Thread.sleep(300) }
    val idx = ops.size
    tracer.beginOp(idx)
    val startMs = System.currentTimeMillis()
    val gc0 = gcTotalMs()
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    var error: Option[String] = None
    var rows: Option[Array[Row]] = None
    var df: Option[DataFrame] = None
    try {
      df = tracer.span("op.build")(build)
      t1 = System.nanoTime()
      df.foreach(d => tracer.span("op.plan")(d.queryExecution.executedPlan))
      t2 = System.nanoTime()
      rows = Some(df.map(d => tracer.span("op.exec")(d.collect())).getOrElse(Array.empty[Row]))
      t3 = System.nanoTime()
    } catch {
      case e: Throwable =>
        val now = System.nanoTime()
        if (t1 == t0) t1 = now
        if (t2 == t0) t2 = now
        t3 = now
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    tracer.span("op.teardown")(teardown())
    val t4 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val rec = OpRec(idx, name, kind, round, warm, tracer.on, startMs, endMs,
      ms(t0, t1), ms(t1, t2), ms(t2, t3), ms(t3, t4), gcTotalMs() - gc0,
      records, error, info)
    tracer.endOp(rec)
    ops += rec
    error.foreach(e => System.err.println(s"[perfbench] op $idx $name failed: $e"))
    if (cfg.injectFailure && !warm && !injected && rows.exists(_.nonEmpty)) {
      injected = true
      System.err.println(s"[perfbench] injecting a wrong output into op $idx $name")
      rows = rows.map(_.tail)
    }
    (rec, rows)
  }

  /** Record an output check's verdict for `rec`. */
  def verdict(rec: OpRec, ok: Boolean, why: => String): Unit = {
    rec.ok = Some(ok)
    if (!ok) System.err.println(s"[perfbench] op ${rec.idx} ${rec.name}: $why")
  }

  def timed: Seq[OpRec] = ops.toSeq.filterNot(_.warm)
}

/** Output comparison between two runs of one query: rows as a multiset,
  * doubles equal to 1e-9 relative (summation order may differ between
  * executions). */
object Canon {
  private def value(v: Any): Any = v match {
    case f: Float                      => f.toDouble
    case b: java.math.BigDecimal       => b.doubleValue
    case r: Row                        => r.toSeq.map(value)
    case a: Array[Byte]                => a.toSeq
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(value(k), value(x)) }.sortBy(key)
    case s: scala.collection.Seq[_]    => s.toSeq.map(value)
    case other                         => other
  }

  private def key(v: Any): String = v match {
    case null      => "\u0000"
    case d: Double => String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
    case s: Seq[_] => s.map(key).mkString("[", ",", "]")
    case other     => other.toString
  }

  def rows(rs: Array[Row]): IndexedSeq[(String, Any)] =
    rs.toIndexedSeq.map { r => val v = value(r); (key(v), v) }.sortBy(_._1)

  private def close(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Double, b: Double) =>
      a == b || (a.isNaN && b.isNaN) ||
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    case (a: Seq[_], b: Seq[_]) => a.length == b.length && a.zip(b).forall { case (p, q) => close(p, q) }
    case _ => x == y
  }

  def same(a: IndexedSeq[(String, Any)], b: IndexedSeq[(String, Any)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((_, x), (_, y)) => close(x, y) }
}
