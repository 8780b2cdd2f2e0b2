package graft.tools

/** Ad-hoc query prober: time one registered query N times and print the
  * executed plan — the `.explain`-and-iterate loop from the build notes. */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.core.GraftSession.getOrCreate()
    // comma-separated names run in sequence within one JVM (for
    // cross-query interference hunting)
    val names = name.split(",")
    (1 to reps).foreach { i =>
      names.foreach { n =>
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally graft.core.GraftSession.teardown(spark)
        println(f"[probe] run $i $n: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    if (sys.env.get("PROBE_EXPLAIN").contains("1"))
      names.foreach { n =>
        println(s"=== $n ===")
        graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
