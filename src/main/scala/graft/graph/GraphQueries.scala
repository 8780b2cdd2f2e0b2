package graft.graph

import graft.{GraftQuery, QueryPack}
import graft.core.{BroadcastGate, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-analytics tier beyond the dedup diagnostics (d07 connected
  * components, d11 triangle counting): iterative whole-graph algorithms
  * as DataFrame jobs — the GraphX-free shape that runs on any Spark
  * cluster and scales by partitioning the edge list.
  *
  * Scale notes: each PageRank iteration is ONE equi-join (edges ⋈ ranks
  * on src) + ONE hash-agg (sum by dst) — the join keys are the natural
  * hash-partitioning, so successive iterations reuse the same shuffle
  * layout; the rank table is (id, long) — orders of magnitude smaller
  * than any corpus. Iterations are a driver-side loop of fixed depth
  * (3 here, so the DuckDB oracle can replay them as unrolled CTEs);
  * production depth ~20 adds `localCheckpoint` every few rounds to
  * truncate lineage (the d07/t19 pattern).
  *
  * Determinism: ranks are integer e6 fixed-point with floor division at
  * every step — identical arithmetic in Spark and DuckDB, no float
  * drift. (Float PageRank would hash-mismatch across engines.)
  */
object GraphQueries extends QueryPack {

  val damping = 85 // ×1e-2
  val baseE6 = 150000L // (1 - 0.85) × 1e6

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "gr01_pagerank",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // PageRank over the customer↔supplier trade graph (an edge per
        // distinct customer–supplier pair that traded, both directions
        // so every node has in- and out-edges; supplier ids offset into
        // their own key space). 3 integer-exact iterations, then the
        // top-20 nodes under a total order.
        val traded = t.orders
          .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"),
                  (col("l_suppkey") + 10000000L).as("s"))
          .distinct()
        // The edge list is materialized ONCE: 3 iterations + outdeg all
        // scan it; without the checkpoint the union+distinct would re-run
        // per iteration.
        val edges = traded.select(col("c").as("src"), col("s").as("dst"))
          .union(traded.select(col("s"), col("c")))
          .localCheckpoint()
        // (src, od) is one row per node — and since every node has
        // out-edges by construction (both directions are inserted), its
        // key set IS the node set: `nodes` derives from it with no
        // separate distinct pass.
        val outdeg = edges.groupBy("src").agg(count(lit(1)).as("od"))
          .localCheckpoint()
        val nodes = outdeg.select(col("src").as("id"))
        // Per-iteration join strategy, gated by BroadcastGate on the
        // materialized node table: the rank/weight/contribution tables
        // are all node-sized, orders of magnitude smaller than the edge
        // list, so under the gate they BROADCAST and the EDGE LIST NEVER
        // SHUFFLES — each iteration is one map-side broadcast join over
        // the checkpointed edges plus a partially-aggregated narrow
        // (dst, w-sum) exchange. Each src's contribution weight
        // `r div od` is computed ONCE per node (the wsrc pre-aggregation)
        // before meeting the edges — the r18 form joined the edge-sized
        // srcDeg table against a shuffled rank table and divided per
        // EDGE row. Past the gate the node-sized sides are merge-hinted.
        val bcNodes = BroadcastGate.fits(spark, BroadcastGate.rowBytes(outdeg))
        def gated(df: DataFrame): DataFrame = BroadcastGate.shape(df, bcNodes)
        var ranks = nodes.withColumn("r", lit(1000000L))
        for (_ <- 1 to 3) {
          val wsrc = ranks
            .join(gated(outdeg), col("id") === col("src"))
            .select(col("src"), expr("r div od").as("w"))
          val contrib = edges.join(gated(wsrc), "src")
            .groupBy("dst").agg(sum(col("w")).as("in_w"))
            .withColumnRenamed("dst", "id")
          ranks = nodes
            .join(gated(contrib), Seq("id"), "left")
            .select(col("id"),
              (lit(baseE6) +
                expr(s"(${damping} * coalesce(in_w, 0L)) div 100")).as("r"))
        }
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("r").desc, col("id").asc)
        // rank table is tiny (|nodes| rows) — the window's single
        // partition is fine HERE; corpus-scale top-k uses q44's
        // TakeOrderedAndProject instead
        ranks
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 20)
          .select(col("rnk"), col("id").as("node_id"), col("r").as("rank_e6"))
      },
      Some {
        val iter = (prev: String, cur: String) =>
          s"""$cur AS (
             |  SELECT n.id,
             |    CAST($baseE6 + ($damping * COALESCE(sum($prev.r // od.od), 0)) // 100 AS BIGINT) AS r
             |  FROM nodes n
             |  LEFT JOIN edges e ON e.dst = n.id
             |  LEFT JOIN outdeg od ON od.src = e.src
             |  LEFT JOIN $prev ON $prev.id = e.src
             |  GROUP BY n.id)""".stripMargin
        s"""WITH traded AS (
           |  SELECT DISTINCT o_custkey AS c, l_suppkey + 10000000 AS s
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |edges AS (
           |  SELECT c AS src, s AS dst FROM traded
           |  UNION SELECT s, c FROM traded),
           |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
           |${iter("r0", "r1")},
           |${iter("r1", "r2")},
           |${iter("r2", "r3")},
           |rk AS (
           |  SELECT id, r,
           |    CAST(row_number() OVER (ORDER BY r DESC, id) AS INTEGER) AS rnk
           |  FROM r3)
           |SELECT rnk, id AS node_id, r AS rank_e6 FROM rk WHERE rnk <= 20""".stripMargin
      },
      "Graph: integer-exact PageRank over the customer↔supplier trade graph (3 unrolled iterations)"))
}
