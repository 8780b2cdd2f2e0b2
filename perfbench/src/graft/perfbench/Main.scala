package graft.perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.GraftSession

import scala.jdk.CollectionConverters._

/** Benchmark JVM: set one workload up once, cold (session, inputs,
  * warm-up), run `--rounds` rounds of its ops in a closed loop, then write
  * `run.json` (every op with its phase times, the set-up's end time,
  * workload figures, per-layer metrics when traced) and the artifacts the
  * output checks read. With `--trace 1`, the rounds run in four half-length
  * passes, the middle two traced; the per-layer metrics come from the
  * traced passes, and traced against untraced gives the tracing overhead. */
object Main {
  private def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(m("workload"), m("data"), m("out"), m("rounds").toInt, m("trace") == "1",
      m("seed").toLong, m("cores").toInt, m("inject-failure") == "1")
  }

  /** Serialises the harness's output files: Scala maps, sequences and
    * options as JSON objects, arrays and null. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def writeJsonLines(path: String, values: Iterable[Any]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      values.map(json.writeValueAsString).toSeq.asJava)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val workload = Workloads(cfg.workload, cfg)
    val spark = GraftSession.builder(s"local[${cfg.cores}]", cfg.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, cfg, new Tracer(spark, cfg.cores))
    workload.setup(h)
    // epoch ms: the launcher times the set-up from the moment it started
    // this process, so JVM start and the cold first pass are both in it
    val setupEndMs = System.currentTimeMillis()
    def loop(rounds: Int): Unit = (0 until rounds).foreach { r => h.round = r; workload.round(h, r) }
    h.warm = false
    val t0 = System.nanoTime()
    if (!cfg.trace) loop(cfg.rounds)
    else {
      // untraced, traced, traced, untraced passes of half the rounds, each
      // from the same starting state: the JVM is still warming, and the
      // symmetric order cancels a steady trend out of the overhead
      Seq(false, true, true, false).zipWithIndex.foreach { case (traced, i) =>
        if (i > 0) workload.reset(h)
        if (traced) h.tracer.enable()
        loop(math.max(1, cfg.rounds / 2))
        h.tracer.disable()
      }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val figures = workload.finish(h)
    val layers: Map[String, Any] =
      if (!cfg.trace) Map.empty
      else {
        val (traced, untraced) = h.timed.partition(_.traced)
        val p50t = median(traced.map(_.wallMs))
        val p50u = median(untraced.map(_.wallMs))
        h.tracer.writeSpans(s"${cfg.outDir}/spans.jsonl")
        val kernels = Kernels.measure(h.spark, cfg.dataDir, cfg.cores)
        System.gc()
        val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
          .getHeapMemoryUsage.getUsed / 1048576.0
        h.tracer.layers(traced) ++
          kernels.map { case (k, (_, v)) => s"kernel.$k.rows_per_s_core" -> v } ++
          kernels.map { case (k, (n, _)) => s"kernel.$k.rows" -> n.toDouble } ++
          Map("jvm.heap_after_gc_mb" -> heapMb,
            "trace.traced_op_p50_ms" -> p50t, "trace.untraced_op_p50_ms" -> p50u,
            "trace.overhead_ratio" -> (if (p50u > 0) p50t / p50u else 0.0),
            "trace.traced_ops" -> traced.size.toDouble)
      }
    val opsJson = h.ops.map { o =>
      Map("idx" -> o.idx, "name" -> o.name, "kind" -> o.kind, "round" -> o.round,
        "warm" -> o.warm, "traced" -> o.traced, "build_ms" -> o.buildMs, "plan_ms" -> o.planMs,
        "exec_ms" -> o.execMs, "teardown_ms" -> o.teardownMs, "wall_ms" -> o.wallMs, "gc_ms" -> o.gcMs,
        "records" -> o.records, "error" -> o.error, "ok" -> o.ok, "info" -> o.info)
    }
    val run = Map("workload" -> cfg.workload, "setup_end_epoch_ms" -> setupEndMs,
      "jvm_start_epoch_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "measured_s" -> measuredS, "rounds" -> cfg.rounds, "cores" -> cfg.cores,
      "peak_rss_mb" -> vmHwmMb(), "figures" -> figures, "layers" -> layers, "ops" -> opsJson)
    writeJsonLines(s"${cfg.outDir}/run.json", Seq(run))
    h.spark.stop()
  }
}
