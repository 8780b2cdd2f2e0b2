package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (getOrCreate reuses the
  * first one built in the forked test JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = graft.core.GraftSession.getOrCreate(8)
}
