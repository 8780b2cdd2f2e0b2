package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A span on the epoch-millisecond clock Spark's listener events use. */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int) {
  def dur: Double = end - start
}

/** Outside-in tracing: spans around the benchmark's own calls into the
  * engine, plus Spark's job/task, query-execution and streaming-progress
  * listeners, registered only while `on`. Events are kept in memory and
  * attributed to ops by time after the run; nothing is written until
  * [[writeSpans]]. */
final class Tracer(spark: SparkSession, cores: Int) {
  @volatile var on = false

  private val nsToEpochMs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now: Double = (System.nanoTime() + nsToEpochMs) / 1e6

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = -1
  private var opStart = 0.0
  private var opSpanId = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val t0 = now
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, now, parent, opId)
      }
    }

  def beginOp(idx: Int): Unit = {
    opId = idx
    if (on) {
      opStart = now
      opSpanId = nextId; nextId += 1
      stack = opSpanId :: Nil
    }
  }

  def endOp(rec: OpRec): Unit = {
    if (rec.traced) {
      spans += Span(opSpanId, "op", opStart, now, -1, rec.idx)
      stack = Nil
    }
    opId = -1
  }

  // --- listener events -------------------------------------------------
  private final class Job(val startMs: Long) { @volatile var endMs: Long = -1L }
  private final case class TaskEv(finishMs: Long, runMs: Long, cpuMs: Double, gcMs: Long,
                                  shuffleRead: Long, shuffleWrite: Long, spill: Long)
  private final case class Phase(startMs: Long, name: String, ms: Long)
  private final case class Progress(startMs: Long, dur: Map[String, Long], inputRows: Long,
                                    stateRows: Long, stateBytes: Long, stateCommitMs: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(e.jobId, new Job(e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(Long.box(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks.add(TaskEv(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime / 1e6,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (n, p) => phases.add(Phase(p.startTimeMs, n, p.durationMs)) }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.toSeq
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum, st.map(_.commitTimeMs).sum))
    }
  }

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def disable(): Unit = if (on) {
    org.apache.spark.BenchBridge.awaitListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  // --- attribution -------------------------------------------------------

  /** Union length of `ivs` clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    c.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) { if (!curE.isNaN) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  private def level(name: String): Int = name match {
    case "op"                            => 0
    case n if n.startsWith("op.")        => 1
    case n if n.startsWith("catalog.")   => 2
    case "stream.batch"                  => 3
    case "spark.job"                     => 4
    case _                               => 2
  }

  private def group(name: String): String = level(name) match {
    case 0 | 1 => "harness"
    case 2     => "catalog"
    case 3     => "stream"
    case _     => "spark_jobs"
  }

  /** Every span of the traced ops: the harness's own plus one per Spark
    * job and per streaming micro-batch, each parented on the innermost
    * enclosing span of a higher layer. */
  lazy val allSpans: Seq[Span] = {
    val own = spans.toSeq
    val ops = own.filter(_.name == "op")
    def opAt(t: Double): Option[Span] = ops.find(o => t >= o.start && t <= o.end)
    var id = nextId
    val derived = ArrayBuffer[Span]()
    jobs.asScala.values.foreach { j =>
      opAt(j.startMs.toDouble).foreach { o =>
        val end = if (j.endMs >= 0) j.endMs.toDouble else o.end
        derived += Span(id, "spark.job", j.startMs.toDouble, end, -1, o.op); id += 1
      }
    }
    progress.asScala.foreach { p =>
      opAt(p.startMs.toDouble).foreach { o =>
        derived += Span(id, "stream.batch", p.startMs.toDouble,
          p.startMs + p.dur.getOrElse("triggerExecution", 0L).toDouble, -1, o.op); id += 1
      }
    }
    val byOp = own.groupBy(_.op)
    derived.toSeq.map { s =>
      val lv = level(s.name)
      val parent = (byOp.getOrElse(s.op, Nil) ++ derived.filter(d => d.op == s.op && level(d.name) < lv))
        .filter(p => level(p.name) < lv && s.start >= p.start && s.start <= p.end)
        .sortBy(p => (level(p.name), p.start)).lastOption.map(_.id).getOrElse(-1)
      s.copy(parent = parent)
    } ++ own
  }

  def writeSpans(path: String): Unit =
    Main.writeJsonLines(path, allSpans.sortBy(_.start).map { s =>
      Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "parent" -> s.parent, "op" -> s.op)
    })

  /** Per-layer metrics over the traced ops: per-op means unless the name
    * says otherwise. */
  def layers(traced: Seq[OpRec]): Map[String, Double] = {
    val n = math.max(traced.size, 1).toDouble
    def mean(f: OpRec => Double): Double = traced.map(f).sum / n
    def within(o: OpRec, t: Long): Boolean = t >= o.startMs && t <= o.endMs
    val taskList = tasks.asScala.toSeq
    val phaseList = phases.asScala.toSeq
    val progList = progress.asScala.toSeq
    val jobList = jobs.asScala.values.toSeq
    val stageList = stages.asScala.toSeq.map(_.longValue)
    def tasksOf(o: OpRec) = taskList.filter(t => within(o, t.finishMs))
    def progOf(o: OpRec) = progList.filter(p => within(o, p.startMs))
    def jobsOf(o: OpRec) = jobList.filter(j => within(o, j.startMs))
    def phaseMs(o: OpRec, name: String) =
      phaseList.filter(p => p.name == name && within(o, p.startMs)).map(_.ms).sum.toDouble
    def dur(o: OpRec, k: String) = progOf(o).map(_.dur.getOrElse(k, 0L)).sum.toDouble
    val gap = traced.map { o =>
      val ivs = jobsOf(o).map(j => (j.startMs.toDouble, if (j.endMs >= 0) j.endMs.toDouble else o.endMs.toDouble))
      (o.endMs - o.startMs) - covered(ivs, o.startMs.toDouble, o.endMs.toDouble)
    }
    val streamOps = traced.filter(o => progOf(o).nonEmpty)
    val wallSum = traced.map(_.wallMs).sum
    // self time: a span's duration minus what its child spans cover
    val children = allSpans.groupBy(_.parent)
    val selfByGroup = allSpans.groupBy(s => group(s.name)).map { case (g, ss) =>
      g -> ss.map(s => s.dur - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)).sum
    }
    val selfMs = Seq("harness", "catalog", "stream", "spark_jobs")
      .map(g => s"self.${g}_ms" -> selfByGroup.getOrElse(g, 0.0) / n).toMap
    Map(
      "op.build_ms" -> mean(_.buildMs),
      "op.plan_ms" -> mean(_.planMs),
      "op.exec_ms" -> mean(_.execMs),
      "op.teardown_ms" -> mean(_.teardownMs),
      "plan.analysis_ms" -> mean(phaseMs(_, "analysis")),
      "plan.optimization_ms" -> mean(phaseMs(_, "optimization")),
      "plan.planning_ms" -> mean(phaseMs(_, "planning")),
      "spark.jobs" -> mean(jobsOf(_).size.toDouble),
      "spark.stages" -> mean(o => stageList.count(t => within(o, t)).toDouble),
      "spark.tasks" -> mean(tasksOf(_).size.toDouble),
      "spark.task_run_ms" -> mean(tasksOf(_).map(_.runMs).sum.toDouble),
      "spark.task_cpu_ms" -> mean(tasksOf(_).map(_.cpuMs).sum),
      "spark.gc_ms" -> mean(tasksOf(_).map(_.gcMs).sum.toDouble),
      "spark.shuffle_read_bytes" -> mean(tasksOf(_).map(_.shuffleRead).sum.toDouble),
      "spark.shuffle_write_bytes" -> mean(tasksOf(_).map(_.shuffleWrite).sum.toDouble),
      "spark.spill_bytes" -> mean(tasksOf(_).map(_.spill).sum.toDouble),
      "spark.driver_gap_ms" -> gap.sum / n,
      "spark.core_busy_ratio" ->
        (if (wallSum > 0) traced.map(tasksOf(_).map(_.runMs).sum).sum / (wallSum * cores) else 0.0),
      "stream.batches" -> mean(progOf(_).size.toDouble),
      "stream.input_rows" -> mean(progOf(_).map(_.inputRows).sum.toDouble),
      "stream.trigger_ms" -> mean(dur(_, "triggerExecution")),
      "stream.latest_offset_ms" -> mean(dur(_, "latestOffset")),
      "stream.get_batch_ms" -> mean(dur(_, "getBatch")),
      "stream.query_planning_ms" -> mean(dur(_, "queryPlanning")),
      "stream.add_batch_ms" -> mean(dur(_, "addBatch")),
      "stream.wal_commit_ms" -> mean(dur(_, "walCommit")),
      "stream.commit_offsets_ms" -> mean(dur(_, "commitOffsets")),
      "stream.outside_batches_ms" ->
        (if (streamOps.isEmpty) 0.0
         else streamOps.map(o => o.wallMs - dur(o, "triggerExecution")).sum / streamOps.size),
      "state.rows_total" -> mean(progOf(_).map(_.stateRows).sum.toDouble),
      "state.memory_bytes" -> mean(progOf(_).map(_.stateBytes).sum.toDouble),
      "state.commit_ms" -> mean(progOf(_).map(_.stateCommitMs).sum.toDouble),
      "jvm.gc_ms" -> mean(_.gcMs.toDouble)
    ) ++ selfMs
  }
}
