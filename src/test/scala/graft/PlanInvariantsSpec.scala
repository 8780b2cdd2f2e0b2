package graft

/** Blanket physical-plan invariant over the WHOLE batch board.
  *
  * PlanShapeSpec pins ~30 flagship plans in detail; this sweeps every
  * other batch query so a scale-killer can't slip into an unpinned
  * entry. The invariant: no `CartesianProduct` node anywhere.
  * `BroadcastNestedLoopJoin` is allowed — every crossJoin in the tree
  * is a broadcast single-row scalar/count join by design — but a
  * CartesianProduct means BOTH sides were non-broadcast, which never
  * survives a 100 TB fact table.
  *
  * Physical planning only (`executedPlan` forces planning, not
  * execution): AQE may replace a planned join with a broadcast at
  * runtime but never introduces a cartesian that wasn't planned, so
  * the pre-execution plan is the conservative side of this check.
  * Streaming queries (st*) are excluded: invoking their fn runs the
  * drain (their plans are covered by the streaming specs and oracle
  * rows), and the memory-sink readback the fn returns has no join tree
  * left to inspect.
  */
class PlanInvariantsSpec extends SparkTestBase {

  test("no CartesianProduct in any batch query's physical plan") {
    // autoBroadcastJoinThreshold=-1 makes the check FALSIFIABLE: at
    // sf0.001 everything fits the default 10MB threshold, so an
    // unintended fact×fact cross join would auto-broadcast here and
    // plan CartesianProduct only in production. With auto-broadcast
    // off, only joins that carry an EXPLICIT broadcast() hint — the
    // deliberate scalar/dim sides — stay BroadcastNestedLoopJoin; an
    // unhinted cross join plans CartesianProduct and trips the sweep
    // exactly as it would at scale.
    val names = SparkEntry.all.map(_.name).filterNot(_.startsWith("st")).sorted
    val bad = graft.core.GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      names.flatMap { n =>
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(n) else None
      }
    }
    // Some builders persist/localCheckpoint eagerly at construction;
    // release their blocks so this sweep doesn't pressure later suites.
    graft.core.GraftSession.teardown(spark)
    assert(bad.isEmpty,
      s"CartesianProduct planned in: ${bad.mkString(", ")} — a non-broadcast " +
        "cross join cannot run at fact scale; broadcast the small side or " +
        "restructure the join")
  }
}
