package graft.tools

/** Startup schema audit CLI — prints `Tables.audit()`'s named diffs for a
  * scale-factor directory (empty output + exit 0 = clean). Run this first
  * when a testdata regeneration lands: the round-7 drift (events.ts
  * nanos→micros) surfaced as 46 cryptic per-query analysis errors; this
  * prints the one-line root cause instead.
  *
  * Usage: runMain graft.tools.SchemaAudit [sfDir]
  */
object SchemaAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.core.GraftSession.getOrCreate(4)
    val diffs = graft.core.Tables(spark, sfDir).audit()
    if (diffs.isEmpty) println(s"[schema-audit] $sfDir: clean")
    else {
      diffs.foreach(d => println(s"[schema-audit] DRIFT $d"))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
