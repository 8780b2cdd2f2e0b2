package graft

/** Physical-plan guardrails — the 100 TB design assertions. A query can
  * be value-correct and still be wrong at scale; these pin the plan
  * shapes that make the queries survive a 1000-executor cluster:
  * pushdown reaching parquet, dims broadcast (never shuffling the fact),
  * top-K without a global sort, no accidental cartesian products, and
  * map-side partial aggregation. */
class PlanShapeSpec extends SparkTestBase {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    // execute THIS df's own queryExecution (a write/count would build a
    // separate one) so AQE finalizes stages — codegen spans and runtime
    // join selections only appear in the final adaptive plan
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q20: predicate pushdown + column pruning reach the parquet scan") {
    val p = plan("q20_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
    // pruned read schema: none of the untouched wide columns
    assert(!p.contains("l_returnflag"), "scan reads columns the query never uses")
  }

  test("q08: exact percentiles carry no unbounded single-buffer aggregate") {
    // the r19 scale guard: Spark's `percentile` buffers every distinct
    // value in ONE unspillable map merged onto one reducer; the grouped
    // two-pass form must keep it out of the plan — and still produce
    // the IDENTICAL result (the interpolation replays
    // Percentile.getPercentile bit-for-bit)
    val df = SparkEntry.queries("q08_quantiles")(spark, sfDir)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("percentile("), s"unbounded percentile buffer back in the plan:\n$p")
    val direct = graft.core.Tables(spark, sfDir).lineitem
      .selectExpr("percentile(l_extendedprice * 100, array(0.25, 0.5, 0.75)) AS p")
      .selectExpr("CAST(floor(p[0] + 0.5) AS LONG) p25",
        "CAST(floor(p[1] + 0.5) AS LONG) p50", "CAST(floor(p[2] + 0.5) AS LONG) p75")
      .collect().head
    val got = rows.head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
           (direct.getLong(0), direct.getLong(1), direct.getLong(2)),
      s"grouped two-pass percentiles diverge from the percentile aggregate: $got vs $direct")
  }

  test("q11: dimension tables broadcast — fact side never shuffles") {
    val p = plan("q11_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to sort-merge:\n$p")
  }

  test("q44: top-K plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q44_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("s03: LSH blocking avoids cartesian/BNL join") {
    val p = plan("s03_embedding_neardup")
    assert(!p.contains("CartesianProduct"), s"near-dup pair mining went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"near-dup pair mining went BNL:\n$p")
  }

  test("q01: hash aggregation is two-phase (map-side partial)") {
    val p = plan("q01_agg_sum")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("q01: whole-stage codegen covers the scan→partial-agg hot path") {
    val p = plan("q01_agg_sum")
    // the simple plan string marks WholeStageCodegen stages with "*(n)"
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), s"no codegen span:\n$p")
  }

  test("q15: literal tier table broadcasts (BNL only on the 3-row side)") {
    val p = plan("q15_join_range")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"range join must broadcast the tiny side:\n$p")
  }

  test("absa01: inference pass is join-free (scores attach in-place)") {
    val p = plan("absa01_pipeline")
    assert(!p.contains("Join"), s"ABSA scoring re-joined the corpus:\n$p")
  }

  test("d05: Jaccard verify never moves whole shingle arrays") {
    val p = plan("d05_ngram_jaccard_pairs")
    assert(!p.contains("CartesianProduct"), s"verify went cartesian:\n$p")
    assert(!p.contains("array_intersect") && !p.contains("array_union"),
      s"verify still computes set ops on whole arrays:\n$p")
  }

  test("d06: drop-list attaches by broadcast join, corpus never shuffles") {
    val p = plan("d06_neardup_keepfirst")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast drop-list join:\n$p")
    assert(!p.contains("CartesianProduct"), s"verdict join went cartesian:\n$p")
  }

  test("t07: top-terms plan is two-phase aggs + ranked window, no cartesian") {
    val p = plan("t07_top_terms")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), s"tf×df join went cartesian:\n$p")
  }

  test("t08: shard-local packing never collapses to one partition") {
    // the failure mode this query's design avoids: a GLOBAL running-sum
    // window plans Exchange SinglePartition — all 100 TB through one task
    val p = plan("t08_sequence_pack")
    assert(!p.contains("SinglePartition"), s"packing went single-partition:\n$p")
    assert(p.contains("Window"), s"expected running-sum window:\n$p")
  }

  test("s01: brute-force ANN keeps the query side broadcast") {
    val p = plan("s01_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query vector should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k should avoid global sort:\n$p")
  }

  test("q60: sessionization runs off one shuffle — windows and aggs share the user_id clustering") {
    val p = plan("q60_sessionize")
    // lag + running-sum Windows, then (user,session) agg, then user agg:
    // all satisfied by hashpartitioning(user_id) → exactly one hash
    // exchange. Count only the AQE final-plan section — toString repeats
    // the tree under "== Initial Plan ==".
    val finalSection = p.split("== Initial Plan ==")(0)
    val hashExchanges = "hashpartitioning".r.findAllIn(finalSection).length
    assert(hashExchanges <= 1, s"expected one user_id shuffle, plan:\n$p")
    assert(!p.contains("SinglePartition"), s"sessionization went single-partition:\n$p")
  }

  test("t21: per-domain budget tables broadcast — the corpus never shuffles for the join") {
    val p = plan("t21_mixture_pack")
    // budgets/weights are per-domain aggregates (tiny) joined back into
    // the corpus: must be BroadcastHashJoin. A SortMergeJoin here means
    // the whole corpus shuffled for a 20-row dim — the 100 TB killer.
    assert(p.contains("BroadcastHashJoin"), s"budget join should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the budget join:\n$p")
    // the quality-rank + running-sum window and the final per-source agg
    // share the source clustering (window feeds agg with no exchange
    // between — same property as q60)
    assert(p.contains("Window"), s"expected the per-source prefix window:\n$p")
  }

  test("q59: upsert anti-join broadcasts the delta keys, snapshot never shuffles pre-agg") {
    val p = plan("q59_upsert_merge")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast anti-join for the delta keys:\n$p")
  }

  test("s06: IVF search broadcasts centroids+probe, rerank avoids cartesian on the corpus") {
    val p = plan("s06_ivf_search")
    assert(p.contains("BroadcastExchange"), s"probe/centroids should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k should avoid global sort:\n$p")
  }

  test("q67: funnel stages share one user_id shuffle — no event-table join-backs") {
    val df = SparkEntry.queries("q67_funnel")(spark, sfDir)
    df.collect()
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val hashExchanges = "hashpartitioning".r.findAllIn(finalSection).length
    assert(hashExchanges <= 1, s"expected one user_id shuffle:\n$finalSection")
    assert(!finalSection.contains("Join"), s"funnel re-joined the event table:\n$finalSection")
  }

  test("t12: rarity table broadcasts back onto the token stream — corpus never sort-merges") {
    val p = plan("t12_rare_token_frac")
    assert(p.contains("BroadcastHashJoin"), s"df table should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream re-shuffled for the df join:\n$p")
  }

  test("d08: decontamination broadcasts the eval-shingle set over the train stream") {
    val p = plan("d08_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval shingles should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"contamination check went cartesian:\n$p")
  }

  test("t13: corpus pipeline runs in two shuffles + keep-list broadcast") {
    val df = SparkEntry.queries("t13_corpus_pipeline")(spark, sfDir)
    df.collect()
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).length
    assert(hashExchanges <= 2, s"pipeline grew extra shuffles:\n$finalSection")
    assert(finalSection.contains("BroadcastExchange"),
      s"kept-id list should broadcast into the semi join:\n$finalSection")
  }

  test("t09/t11: quality gates are zero-shuffle single-pass projections") {
    Seq("t09_gopher_rules", "t11_bigram_repetition").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val finalSection = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!finalSection.contains("Exchange"),
        s"$name shuffles a pure per-row gate:\n$finalSection")
    }
  }

  test("s11: PQ search joins codes to a broadcast LUT — no sort-merge anywhere") {
    val p = plan("s11_pq_search")
    assert(p.contains("BroadcastHashJoin"), s"LUT should broadcast-hash-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"PQ search re-shuffled a broadcast-sized relation:\n$p")
  }

  test("s12: IVF probe becomes a partition filter on the cid layout") {
    val p = plan("s12_ivf_partitioned")
    assert(p.contains("PartitionFilters: [cid"),
      s"probe ids did not prune the partitioned scan:\n$p")
  }

  test("s13: IVF-PQ serve — probe prunes partitions AND the rerank is codes-only broadcast lookups") {
    val p = plan("s13_ivfpq_search")
    assert(p.contains("PartitionFilters: [cid"),
      s"probe ids did not prune the partitioned codes layout:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"ADC LUT should broadcast-hash-join:\n$p")
    // the pruned scan must read PQ codes, never the float vectors
    val scan = p.linesIterator.find(l => l.contains("PartitionFilters: [cid")).getOrElse("")
    assert(!scan.contains("embedding") && !p.contains("ReadSchema: struct<vec_id:bigint,m:int,code:int,v:"),
      s"codes-only scan pulled float vectors:\n$p")
  }

  test("q17b shape: sketch-only agg plans without Expand; mixing with countDistinct does not") {
    // The q17 trap, pinned as a differential: mixing countDistinct with
    // a sketch aggregate in ONE agg triggers the multi-distinct Expand
    // rewrite, which allocates the ~16-21 KB sketch buffer once per
    // distinct-key group instead of once per partition (q17 measured
    // 141 s vs 2 s at sf0.1). q17b/st20 therefore keep exact-distinct
    // and sketch aggregates in separate passes — the sketch-only plan
    // must be a plain two-phase aggregation with no Expand anywhere.
    // (q17b's own final plan hides this subtree behind its
    // localCheckpoint, so pin the aggregation shape directly.)
    import org.apache.spark.sql.functions.{col, countDistinct, date_format, hll_sketch_agg}
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
    val good = li.groupBy("m").agg(hll_sketch_agg(col("l_partkey"), 14).as("sk"))
    good.collect()
    val gp = good.queryExecution.executedPlan.toString
    assert(gp.contains("hll_sketch_agg"), s"sketch agg missing:\n$gp")
    assert(!gp.contains("Expand"), s"sketch-only agg planned an Expand:\n$gp")
    val mixed = li.groupBy("m").agg(
      hll_sketch_agg(col("l_partkey"), 14).as("sk"),
      countDistinct(col("l_orderkey")).as("cd"))
    val mp = mixed.queryExecution.executedPlan.toString
    // one distinct agg rewrites to a first aggregate grouped by
    // (keys, distinct-col) — the sketch buffer lands per distinct value
    // (≥2 distincts rewrite via Expand instead, same per-key damage)
    assert(mp.linesIterator.exists(l =>
        l.contains("hll_sketch_agg") && l.contains("keys=[") && l.contains("l_orderkey"))
      || mp.contains("Expand"),
      s"negative control: distinct rewrite no longer groups the sketch per key — revisit q17/q17b comments:\n$mp")
  }

  test("d03 band join: AQE splits a hot LSH band (skew-join handling fires)") {
    // At 100 TB, boilerplate shingles concentrate signatures into hot
    // bands; SCALE.md claims AQE's skew-join split absorbs them. Prove
    // the claim on this engine: force one band_hash to hold ~half the
    // rows, lower the skew thresholds to match the test volume, pin the
    // SMJ path (broadcast would hide the skew machinery), and assert
    // the executed band self-join actually carries skew=true splits.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = spark.range(600).select(
        (col("id") + 1000000L).as("doc_id"),
        lit(0).as("band_id"),
        lit("HOTBAND").as("band_hash"))
      val cold = spark.range(2000).select(
        col("id").as("doc_id"),
        (col("id") % 4).cast("int").as("band_id"),
        concat(lit("b"), (col("id") % 500).cast("string")).as("band_hash"))
      val pairs = graft.dedup.DedupQueries.candidatePairs(hot.unionByName(cold))
      pairs.collect() // executes THIS queryExecution so AQE finalizes
      val p = pairs.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("skew=true"),
        s"AQE did not split the hot band partition:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("st25: frame pipeline is ONE shuffle — decode/detect/explode stay map-side") {
    // the 100 TB shape claim of the vehicle flagship: pixels are decoded,
    // detected, and exploded inside the scan stage; the only exchange in
    // the whole dataflow is the window×camera×type aggregation, and it
    // moves counts, never frames. Pinned on the batch twin (identical
    // functions; streaming adds only the StateStore wrapping).
    import graft.streaming.VehiclePipeline
    val staged = VehiclePipeline.stageFrames(spark, sfDir)
    val df = VehiclePipeline.windowedCounts(
      VehiclePipeline.detectFrames(spark.read.parquet(staged.dir)))
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 shuffle (the window agg), got $exchanges:\n$p")
    assert(p.contains("MapPartitions"), s"typed decode/detect kernel missing:\n$p")
    assert(p.contains("Generate"), s"explode missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"unexpected join in a join-free pipeline:\n$p")
    assert(p.contains("partial"), s"no map-side partial aggregation:\n$p")
  }

  test("q81: salted join shuffles on (key, salt) — hot key spread across reducers, no broadcast") {
    val p = plan("q81_salted_skew_join")
    assert(p.contains("ShuffledHashJoin"),
      s"salted join must be a shuffled hash join (broadcast would dissolve the skew demo):\n$p")
    assert(p.contains("__salt"), s"join keys do not carry the salt:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"the replicated small side must shuffle, not broadcast:\n$p")
  }

  test("q82: selective dim filter injects a runtime bloom filter into the fact scan") {
    // InjectRuntimeFilter fires when the join is shuffle-based and the
    // application side is big enough; at test volume, force the SMJ path
    // and drop the size gate so the 100 TB-default behavior is visible.
    // The conf triple is THE published PlanAudit set — referencing it
    // keeps the PLANS.md shape and the spec-pinned shape the same plan.
    val p = graft.core.GraftSession.withConf(spark,
        graft.tools.PlanAudit.confs("q82_runtime_filter_join"): _*) {
      val df = SparkEntry.queries("q82_runtime_filter_join")(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    assert(p.contains("bloom_filter_agg"),
      s"no bloom filter built from the filtered dim keys:\n$p")
    assert(p.contains("might_contain"),
      s"bloom filter not applied to the fact side pre-shuffle:\n$p")
  }

  test("q83: filtered dim prunes fact partitions at runtime (dynamicpruningexpression)") {
    val p = plan("q83_dpp_partitioned_join")
    assert(p.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning filter on the fact scan:\n$p")
    assert(p.contains("PartitionFilters"),
      s"fact scan has no partition filters at all:\n$p")
  }

  test("d14: first-keep window shuffles hashes + ids, never chunk text; chunking is map-side") {
    val p = plan("d14_chunk_dedup")
    assert(p.contains("windowspecdefinition(h#"),
      s"first-keep window is not over the md5 hash:\n$p")
    assert(!p.contains("windowspecdefinition(chunk#"),
      s"window partitions by chunk TEXT — the corpus would shuffle through it:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q84/q87: exact profile pays one Expand; approx profile is Expand-free") {
    // The q87 scale claim, pinned: k exact count(DISTINCT) aggregates
    // compile to an Expand (k× multiplication of pruned pairs in the
    // shuffle) — unavoidable for exactness — while the approx tier's
    // HLL++ sketches remove the Expand entirely, leaving a plain
    // two-phase aggregation over one scan.
    val o = graft.core.Tables(spark, sfDir).orders
    val exact = graft.operators.ProfilingQueries
      .profile(o, Set("o_totalprice"))
    exact.collect()
    val pe = exact.queryExecution.executedPlan.toString
    assert(pe.contains("Expand"), s"exact profile lost its Expand shape:\n$pe")
    val approx = graft.operators.ProfilingQueries
      .profile(o, Set("o_totalprice"), approx = true)
    approx.collect()
    val pa = approx.queryExecution.executedPlan.toString
    assert(!pa.contains("Expand"),
      s"approx profile still plans an Expand — the 100 TB claim is false:\n$pa")
    // the sketches still aggregate two-phase (map-side partials) — the
    // shape that scales; the operator is SortAggregate because the HLL
    // buffer is not a mutable-row type
    assert(pa.contains("partial_approx_count_distinct"),
      s"approx profile lost its map-side partial sketches:\n$pa")
  }

  test("mm10: fire-struct kernel plans as one deliberate spread + map-only stage") {
    // AQE plans print Final AND Initial sections — count nodes in the
    // final one only (same split as the skew test)
    val p = plan("mm10_fire_struct").split("== Initial Plan ==")(0)
    // one exchange: the explicit repartition that spreads the single-file
    // doc_id scan across cores before the CPU-bound codec kernel; after
    // it, decode/detect/overlay all happen in-place — no agg, no join
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the deliberate repartition, got $exchanges:\n$p")
    assert(p.contains("MapPartitions"), s"typed kernel missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("HashAggregate"), s"unexpected relational ops in a pure kernel:\n$p")
  }

  test("t26: passage chunking plans with ZERO exchanges — pure row-local map") {
    val p = plan("t26_chunk_overlap")
    assert(!p.contains("Exchange"), s"chunking introduced a shuffle:\n$p")
    assert(p.contains("Generate"), s"expected a Generate (explode) stage:\n$p")
  }

  test("t25: token packing runs off ONE shard exchange — the sequence explode stays row-local above it") {
    val p = plan("t25_token_pack")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(finalSection).length == 1,
      s"expected exactly one shard exchange:\n$p")
    assert(finalSection.contains("Generate explode(sequence"),
      s"expected the row-local sequence explode:\n$p")
    assert(!finalSection.contains("SinglePartition"),
      s"packing must not collapse to one partition:\n$p")
  }

  test("d19: cluster labels broadcast — the corpus never shuffles for the split") {
    val p = plan("d19_cluster_safe_split")
    assert(p.contains("BroadcastHashJoin"), s"label join did not broadcast:\n$p")
  }

  test("s22: both candidate sets cut by TakeOrdered before any ranking window") {
    val p = plan("s22_jl_projection")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"expected TakeOrdered on both the exact and projected candidate sets:\n$p")
    assert(!p.contains("CartesianProduct"), s"projection audit went cartesian:\n$p")
  }

  test("s23: both rank lists TakeOrdered-cut before the fusion join") {
    val p = plan("s23_hybrid_rrf")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"expected TakeOrdered on both the lexical and vector lists:\n$p")
    assert(!p.contains("CartesianProduct"), s"hybrid retrieval went cartesian:\n$p")
  }

  test("broadcast gate: gr01/d11/d19/d05 gated joins merge-join past the ceiling with unchanged rows; gr01/d11 broadcast under it") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def registry(name: String): () => org.apache.spark.sql.DataFrame =
      () => SparkEntry.queries(name)(spark, sfDir)
    // gr01: under the gate the checkpointed edge list meets each
    // iteration's broadcast join with no exchange in between
    def edgesNeverShuffle(p: SparkPlan): Unit = {
      val edgeScans = ancestors(p) {
        case r: RDDScanExec => r.output.map(_.name) == Seq("src", "dst")
        case _ => false
      }
      assert(edgeScans.size >= 3, s"expected the edge list in every iteration:\n$p")
      edgeScans.foreach { up =>
        val (below, join) = up.span(!_.isInstanceOf[BroadcastHashJoinExec])
        assert(join.nonEmpty && !below.exists(_.isInstanceOf[Exchange]),
          s"the edge list shuffled inside an iteration:\n$p")
      }
    }
    // d11: under the gate both edge-side joins broadcast
    def edgesBroadcast(p: SparkPlan): Unit =
      assert("BroadcastHashJoin".r.findAllIn(p.toString).length >= 2 &&
        !p.toString.contains("SortMergeJoin"), s"expected 2 gated broadcasts:\n$p")
    // (query, gated joins, its under-the-gate plan check). d19's label
    // broadcast has its own test above. d05 is the UN-checkpointed
    // verify stage — the registry query's executed plan is one
    // ExistingRDD scan of the materialized pair list — and its four
    // verify joins (cand⋈sh ×2, inter⋈scnt ×2) are left to the planner
    // under the gate
    val cases = Seq(
      ("gr01", registry("gr01_pagerank"), 9, Some(edgesNeverShuffle _)),
      ("d11", registry("d11_triangle_count"), 2, Some(edgesBroadcast _)),
      ("d19", registry("d19_cluster_safe_split"), 1, None),
      ("d05", () => graft.dedup.DedupQueries.verifiedPairs(
        graft.core.Tables(spark, sfDir).documents, checkpoint = false), 4, None))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for ((name, query, gated, underCheck) <- cases) {
      val under = query()
      val expect = rows(under)
      underCheck.foreach(_(under.queryExecution.executedPlan))
      // built past the gate, run at the default ceiling: only the
      // gate's merge hints keep these kilobyte sides from broadcasting
      val past = pastTheGate(query())
      assert(rows(past) == expect, s"$name: past-gate rows differ")
      val p = past.queryExecution.executedPlan.toString
      assert("SortMergeJoin".r.findAllIn(p).length >= gated,
        s"$name: expected all $gated gated joins shuffled:\n$p")
    }
  }

  test("q89: fence table broadcasts back over the stream; the rank window is the only group exchange") {
    val p = plan("q89_iqr_outliers")
    assert(p.contains("BroadcastHashJoin"), s"fence join did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"fence join went cartesian:\n$p")
  }

  test("st31/q88 evaluation kernel: one conditional agg, no Expand, no grouped shuffle") {
    // the per-micro-batch cost of the live constraint gate — the shape
    // PLANS.md's st31 batch-twin section documents: pre-materialized
    // rule bounds broadcast onto the batch scan, every row-local rule
    // folded into ONE ungrouped conditional aggregate. A hashpartitioning
    // exchange here would mean a per-batch grouped shuffle (the unique
    // rule's cost, excluded from the streaming tier by construction);
    // an Expand would mean q84's exact-profile row multiplication crept
    // into the hot path.
    import graft.operators.ProfilingQueries
    import org.apache.spark.sql.functions._
    val o = graft.core.Tables(spark, sfDir).orders
    val split = graft.core.Tables.incrementalSplitId(o, "o_orderkey")
    val sc = ProfilingQueries.suggestConstraints(
      o.filter(col("o_orderkey") < split),
      kinds = ProfilingQueries.rowLocalRuleKinds)
    val df = ProfilingQueries.evaluateConstraints(
      o.filter(col("o_orderkey") >= split), sc)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("Exchange SinglePartition"),
      s"expected the single global-fold exchange:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"row-local evaluation must not shuffle by group:\n$p")
    assert(!p.contains("Expand"), s"Expand leaked into the evaluation kernel:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bounds must broadcast, not sort-merge:\n$p")
  }
}
