package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (getOrCreate reuses the
  * first one built in the forked test JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** `body` run past every [[graft.core.BroadcastGate]]: the broadcast
    * ceiling at 1 byte, while AQE's runtime broadcast threshold stays
    * at the session's 64 MB — so only a merge hint keeps a small side
    * from being broadcast once its shuffle stage has run. */
  def pastTheGate[A](body: => A): A =
    graft.core.GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> (64L << 20).toString)(body)

  /** `body`'s result and the query executions of the batch queries it
    * ran — on this session, or on a streaming query's session cloned
    * inside it (foreachBatch writes) — once `ready` holds for them
    * (listener events arrive asynchronously). */
  def capturePlans[A](body: => A)(ready: Seq[QueryExecution] => Boolean)
      : (A, Seq[QueryExecution]) = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      eventually(timeout(20.seconds)) { assert(ready(qes.asScala.toSeq)) }
      (out, qes.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** For each leaf of `plan` matching `leaf`, its ancestors, nearest
    * first — AQE stages and reused exchanges unwrapped, so the chain
    * holds the exchanges the leaf's rows actually cross. */
  def ancestors(plan: SparkPlan)(leaf: SparkPlan => Boolean): Seq[List[SparkPlan]] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, above)
      case q: QueryStageExec => walk(q.plan, above)
      case r: ReusedExchangeExec => walk(r.child, above)
      case l if leaf(l) => Seq(above)
      case other => other.children.flatMap(walk(_, other :: above))
    }
    walk(plan, Nil)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = graft.core.GraftSession.getOrCreate(8)
}
