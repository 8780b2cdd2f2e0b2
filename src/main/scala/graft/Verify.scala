package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for tools/check_oracle.py's DuckDB compare.
  * Every query that succeeds is dumped; if any failed, their names go to
  * stderr and the run exits non-zero. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        GraftSession.attempt(spark) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }.map { e => System.err.println(s"[verify] $name failed: ${e.getMessage}"); name }
      }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(sql.asJava))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.sorted.mkString(",")}")
      sys.exit(1)
    }
  }
}
