package graft.operators

import graft.{GraftQuery, QueryPack}
import graft.core.Tables
import graft.functions.Canon
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data observability pack (north star; beyond the reference): the
  * gates every 100 TB training-data platform runs before a corpus is
  * allowed into a mixture — a one-pass per-column TABLE PROFILE (exact,
  * approximate, and incrementally-mergeable tiers) and a declarative
  * CONSTRAINT VALIDATION report (the Deequ/expectations shape,
  * engine-native).
  *
  * The reference has no profiling surface at all; its closest analog is
  * the ad-hoc dashboard COUNT(*) queries (vehicle_counting_app.py:38-47).
  * Here both gates are Spark-first: the profile builds its aggregate
  * list PROGRAMMATICALLY from `df.schema` (any table profiles without
  * code changes), and every metric is emitted with the Canon
  * cross-engine representation so the whole report diffs against the
  * DuckDB oracle exactly.
  */
object ProfilingQueries extends QueryPack {

  /** Canonical cross-engine string representation of a column's
    * min/max by dtype: timestamps at second precision, money-valued
    * doubles as integer cents ([[Canon.cents]] — opt-in per column),
    * everything else a plain string cast. Mirrors the SQL forms
    * documented in Canon's scaladoc. */
  private def repr(c: Column, dt: DataType, money: Boolean): Column = dt match {
    case DoubleType | FloatType if money      => Canon.cents(c).cast(StringType)
    case TimestampType | TimestampNTZType     => date_format(c, "yyyy-MM-dd HH:mm:ss")
    case DateType                             => date_format(c, "yyyy-MM-dd")
    case _                                    => c.cast(StringType)
  }

  /** Dtype contract: a column participates in min/max/distinct only if
    * its type is orderable AND groupable. Maps and variants are
    * profiled as (n_rows, n_null) with NULL stats — the documented
    * skip, not an analysis error. */
  private def statable(dt: DataType): Boolean = dt match {
    case _: MapType     => false
    case _: VariantType => false
    case _              => true
  }

  private def alias(i: Int, kind: String) = s"__p_${i}_$kind"

  /** Schema fingerprint carried by every partial row (md5 over the
    * ordered name:dtype pairs). Partials are addressed POSITIONALLY, so
    * if the profiled table's schema evolved between appended partials,
    * parquet schema-union would null-fill the missing alias columns and
    * the fold would silently skip them — a wrong report instead of a
    * loud failure. [[mergedProfile]]/[[compactPartials]] require every
    * stored partial to carry the fingerprint of the schema they are
    * folding under. */
  private[graft] def schemaHash(schema: StructType): String = {
    val canon = schema.fields
      .map(f => s"${f.name}:${f.dataType.catalogString}").mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Fail loudly if any stored partial row was produced under a schema
    * other than `schema`. O(partials) — the store is O(ingest batches)
    * rows by contract (and O(1) once compacted). */
  private def requireUniformSchema(parts: DataFrame, schema: StructType): Unit = {
    val expect = schemaHash(schema)
    val seen = parts.select(col("__p_schema")).distinct()
      .collect().map(_.getString(0)).sorted
    require(seen.sameElements(Array(expect)),
      s"profile partials carry schema fingerprint(s) ${seen.mkString(",")} " +
        s"but the fold schema hashes to $expect — the profiled table's " +
        "schema evolved between appended partials; rebuild the store")
  }

  /** Positional input rename: source columns are addressed as
    * `__p_in_<i>`, so duplicate or dotted source names can never
    * collide or parse as nested-field paths. */
  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"__p_in_$i"): _*)

  /** Per-column (n_rows, n_null, n_distinct, min_repr, max_repr) of ANY
    * DataFrame — the library entry behind q84. The aggregate list is
    * generated from `df.schema`, so no code changes per table.
    *
    * Scale shape: the approx tier is ONE linear scan; the exact tier is
    * TWO independent scans of the input (pass A counts/extrema, pass B
    * the exact distincts — see the pass B note below for why the split
    * beats one fused pass). Determinism assumption: both passes read
    * `df` separately, so a non-deterministic or changing source could
    * hand pass A and pass B different rows (e.g. n_distinct > n_rows);
    * every current caller profiles a deterministic static table —
    * cache/checkpoint a derived input first if that ever changes.
    * With `approx = false` the k exact
    * count(DISTINCT col) aggregates compile to one Expand (k×
    * multiplication of PRUNED (gid, value) pairs in the shuffle —
    * never the full row). `approx = true` is the 100 TB form: HLL++
    * sketches (rsd 1 %) replace the exact distincts, which removes the
    * Expand entirely — one map-side-partial pass, k fixed-size sketch
    * buffers per partition (q87 oracle-checks its error bound; q17
    * pins the general contract).
    *
    * Dtype contract (spec-pinned on an adversarial schema):
    *   - duplicate and dotted column names are safe — inputs are
    *     addressed positionally and every generated alias carries a
    *     reserved `__p_` prefix, so a profiled table may itself contain
    *     columns named n_rows/col_name;
    *   - Double/Float columns render min/max as plain string casts
    *     unless named in `moneyCols`, which opts them into the
    *     integer-cents money representation (money semantics are a
    *     per-column business fact the schema cannot carry);
    *   - non-orderable/non-groupable types (map, variant) get
    *     (n_rows, n_null) and NULL distinct/min/max instead of an
    *     analysis error. */
  def profile(df: DataFrame, moneyCols: Set[String] = Set.empty,
              approx: Boolean = false): DataFrame = {
    val fields = df.schema.fields.toSeq
    // Pass A: counts + extrema (+ HLL distincts on the approx tier).
    // No grouping keys, so the plan is one linear map-side-partial pass
    // even where min/max(string) buffers deny HashAggregate.
    val aggsA: Seq[Column] = fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"__p_in_$i")
      if (!statable(f.dataType))
        Seq(count(c).as(alias(i, "nn")),
            lit(null).cast(LongType).as(alias(i, "nd")),
            lit(null).cast(StringType).as(alias(i, "min")),
            lit(null).cast(StringType).as(alias(i, "max")))
      else {
        // repr AFTER min/max: the extremum must be found in the column's
        // native ordering (a lexicographic min of "999" vs "1499" is
        // wrong), then rendered canonically.
        val base = Seq(count(c).as(alias(i, "nn")),
            repr(min(c), f.dataType, moneyCols(f.name)).as(alias(i, "min")),
            repr(max(c), f.dataType, moneyCols(f.name)).as(alias(i, "max")))
        if (approx) approx_count_distinct(c, 0.01).as(alias(i, "nd")) +: base
        else base
      }
    }
    // Pass B (exact tier only): the k exact count(DISTINCT col)
    // aggregates ALONE. Isolated, the multi-distinct rewrite plans as
    // Expand → HashAggregate on (gid, value) → per-gid counts — all-long
    // buffers, hash end to end. Folded into pass A (the previous shape),
    // the min/max(string) buffers denied HashAggregate and the WHOLE 7×
    // Expand output went through a SortAggregate chain: three full sorts
    // of k+1 copies of the corpus. Two linear scans beat one 7×-sorted
    // scan at every scale (guide §1.2: fix the distributed algorithm —
    // the sort — before per-task work).
    val aggsB: Seq[Column] = fields.zipWithIndex.flatMap { case (f, i) =>
      if (!approx && statable(f.dataType))
        Some(countDistinct(col(s"__p_in_$i")).as(alias(i, "nd")))
      else None
    }
    val in = positional(df)
    val one = {
      val a = in.agg(count(lit(1)).as("__p_rows"), aggsA: _*)
      if (aggsB.isEmpty) a
      else a.crossJoin(broadcast(in.agg(aggsB.head, aggsB.tail: _*)))
    }
    one
      .select(col("__p_rows"), explode(array(fields.zipWithIndex.map { case (f, i) =>
        struct(
          lit(f.name).as("col_name"),
          (col("__p_rows") - col(alias(i, "nn"))).as("n_null"),
          col(alias(i, "nd")).as("n_distinct"),
          col(alias(i, "min")).as("min_repr"),
          col(alias(i, "max")).as("max_repr"))
      }: _*)).as("m"))
      .select(col("m.col_name").as("col_name"), col("__p_rows").as("n_rows"),
        col("m.n_null").as("n_null"), col("m.n_distinct").as("n_distinct"),
        col("m.min_repr").as("min_repr"), col("m.max_repr").as("max_repr"))
      .orderBy("col_name")
  }

  /** MERGEABLE partial profile: one row of (n_rows, per-column
    * n_nonnull, NATIVE-typed min/max, DataSketches-HLL sketch bytes) —
    * the persistable unit of the incremental tier behind q86. Two
    * partials over disjoint row sets merge exactly for
    * counts/nulls/min/max and by sketch-union for distincts
    * ([[mergedProfile]]); the merged result never rescans the rows a
    * partial summarizes. Sketch input is the value's string cast —
    * injective per dtype, so sketch cardinality = value cardinality —
    * because the HLL aggregate accepts a narrower dtype set than the
    * profile. Requires statable dtypes (maps/variants have no
    * mergeable distinct form; profile() is the fallback). */
  def partialProfile(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    require(fields.forall(f => statable(f.dataType)),
      "partialProfile requires orderable/groupable column types")
    val aggs: Seq[Column] = fields.zipWithIndex.flatMap { case (_, i) =>
      val c = col(s"__p_in_$i")
      Seq(count(c).as(alias(i, "nn")),
          min(c).as(alias(i, "min")),
          max(c).as(alias(i, "max")),
          hll_sketch_agg(c.cast(StringType), lit(14)).as(alias(i, "sk")))
    }
    positional(df).agg(count(lit(1)).as("__p_rows"), aggs: _*)
      .withColumn("__p_schema", lit(schemaHash(df.schema)))
  }

  /** Fold any number of [[partialProfile]] rows into ONE equivalent
    * partial row — the store-compaction step of the live profile
    * (st29): counts add, native extrema fold, and the HLL sketches
    * union to a SKETCH (not an estimate), so the output is itself a
    * valid partial that [[mergedProfile]] or a later compaction can
    * consume. A live store appends one row per ingest batch and
    * periodically rewrites itself through this fold, keeping the store
    * O(1) rows over any ingest history (spec-pinned: report over the
    * compacted store ≡ report over the original partials). */
  def compactPartials(parts: DataFrame, schema: StructType): DataFrame = {
    requireUniformSchema(parts, schema)
    val fields = schema.fields.toSeq
    val aggs: Seq[Column] = fields.zipWithIndex.flatMap { case (_, i) =>
      Seq(sum(col(alias(i, "nn"))).as(alias(i, "nn")),
          min(col(alias(i, "min"))).as(alias(i, "min")),
          max(col(alias(i, "max"))).as(alias(i, "max")),
          hll_union_agg(col(alias(i, "sk")), lit(true)).as(alias(i, "sk")))
    }
    // a live store's rows carry a `__bid` batch-id stamp (the replay
    // guard of StreamingQueries.appendBatchPartial); compaction must
    // carry the MAX forward or a batch replayed right after a
    // compaction would look unseen and double-count
    val carryBid: Seq[Column] =
      if (parts.columns.contains("__bid")) Seq(max(col("__bid")).as("__bid"))
      else Seq.empty
    parts.agg(sum(col("__p_rows")).as("__p_rows"), aggs ++ carryBid: _*)
      .withColumn("__p_schema", lit(schemaHash(schema)))
  }

  /** Rewrite a persisted partial store through [[compactPartials]] —
    * the periodic maintenance step of the live profile (st29 runs it
    * inside its foreachBatch every few batches). The compacted ONE-row
    * generation commits as a new catalog snapshot
    * ([[graft.sources.SnapshotCatalog.replace]] + a trailing expire),
    * so a dashboard polling the store mid-compaction resolves a
    * complete version — the `mode("overwrite")` this replaced tore the
    * directory out from under a concurrent reader — and because the
    * new generation lands in its OWN immutable batch dir, the fold can
    * write while its input files still serve reads (the collect-then-
    * recreate detour the in-place overwrite forced is gone). */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
                   store: String, schema: StructType): Unit = {
    import graft.sources.SnapshotCatalog
    val compacted =
      compactPartials(SnapshotCatalog.readSnapshot(spark, store), schema)
    SnapshotCatalog.replace(compacted.coalesce(1), store,
      "compact" + java.util.UUID.randomUUID().toString.take(8))
    // retention-bounded: a dashboard that resolved the pre-compaction
    // version keeps reading it for the full vacuum window
    SnapshotCatalog.expire(store, keepLast = 2,
      minAgeMs = SnapshotCatalog.maintenanceRetentionMs)
    ()
  }

  /** Fold any number of [[partialProfile]] rows into the q84 report
    * shape: counts add, native min/max fold then render, HLL sketches
    * union → `n_distinct_est`. The fold's input is O(partials), never
    * the profiled rows — this is how a 100 TB corpus keeps a live
    * profile: one stored partial per ingest batch, re-folded on read. */
  def mergedProfile(parts: DataFrame, schema: StructType,
                    moneyCols: Set[String] = Set.empty): DataFrame = {
    requireUniformSchema(parts, schema)
    val fields = schema.fields.toSeq
    val aggs: Seq[Column] = fields.zipWithIndex.flatMap { case (f, i) =>
      Seq(sum(col(alias(i, "nn"))).as(alias(i, "nn")),
          repr(min(col(alias(i, "min"))), f.dataType, moneyCols(f.name))
            .as(alias(i, "min")),
          repr(max(col(alias(i, "max"))), f.dataType, moneyCols(f.name))
            .as(alias(i, "max")),
          hll_sketch_estimate(hll_union_agg(col(alias(i, "sk")), lit(true)))
            .as(alias(i, "nd")))
    }
    parts.agg(sum(col("__p_rows")).as("__p_rows"), aggs: _*)
      .select(col("__p_rows"), explode(array(fields.zipWithIndex.map { case (f, i) =>
        struct(
          lit(f.name).as("col_name"),
          (col("__p_rows") - col(alias(i, "nn"))).as("n_null"),
          col(alias(i, "nd")).as("n_distinct_est"),
          col(alias(i, "min")).as("min_repr"),
          col(alias(i, "max")).as("max_repr"))
      }: _*)).as("m"))
      .select(col("m.col_name").as("col_name"), col("__p_rows").as("n_rows"),
        col("m.n_null").as("n_null"), col("m.n_distinct_est").as("n_distinct_est"),
        col("m.min_repr").as("min_repr"), col("m.max_repr").as("max_repr"))
      .orderBy("col_name")
  }

  /** Dtypes whose observed [min, max] is a meaningful suggested range
    * constraint: numerics and time points. Strings are excluded — a
    * lexicographic range over e.g. status codes asserts nothing a user
    * would want; low-cardinality strings get a domain rule instead. */
  private def rangeable(dt: DataType): Boolean = dt match {
    case _: NumericType                              => true
    case DateType | TimestampType | TimestampNTZType => true
    case _                                           => false
  }

  /** CONSTRAINT SUGGESTION (q88) — the automated loop-closer between
    * the profile (q84) and the constraint evaluator (q85), the Deequ
    * ConstraintSuggestion shape engine-native: derive declarative
    * rules FROM the stored corpus's profile output, then evaluate them
    * against the new ingest batch and emit the q85-style report
    * (constraint, n_checked, n_violations, passed).
    *
    * Rules, all DETERMINISTIC functions of the profile (so a SQL
    * oracle replays suggestion AND evaluation):
    *   - `not_null:c`  — suggested when train has zero nulls in c;
    *     violations = eval nulls.
    *   - `unique:c`    — suggested when train n_distinct = n_rows;
    *     violations = eval non-null duplicates (count - countDistinct).
    *   - `range:c`     — numeric/date/timestamp c with ≥1 train value;
    *     violations = eval values outside train's native [min, max]
    *     (native comparison — no repr round-trip, no FP arithmetic).
    *   - `domain:c`    — string c with 1 ≤ n_distinct ≤ `maxDomain`;
    *     violations = eval values not in train's distinct value set.
    *
    * Scale shape: suggestion is one q84 profile pass + ONE grouped
    * scan for the domain value lists + one tiny extrema agg (all over
    * the stored corpus, offline); evaluation is ONE conditional
    * aggregate over the ingest batch with the single-row bounds
    * cross-joined broadcast and the ≤ maxDomain·|string cols| domain
    * values as literals. Nothing joins row-to-row. */
  /** A suggested rule. `idx` is the column's POSITION in the profiled
    * schema: all evaluation addresses `__p_in_<idx>` (profile()'s
    * positional discipline), so dotted/special-character names can
    * never parse as nested-field paths; `name` is display-only. */
  private[graft] case class SuggestedRule(kind: String, idx: Int, name: String)

  /** The persistable suggestion artifact: the rules, the ≤ maxDomain
    * per-column domain value lists (keyed by column position), and the
    * native-typed train extrema (keyed by column position — O(columns)
    * scalars held on the driver and inlined as literals at evaluation,
    * so a live gate re-evaluating per micro-batch never re-scans the
    * training corpus and never pays a per-batch cross-join build). */
  private[graft] case class SuggestedConstraints(
      rules: Seq[SuggestedRule],
      domVals: Map[Int, Seq[String]],
      bounds: Map[Int, (Any, Any)])

  /** All rule kinds; the ROW-LOCAL subset (everything but `unique`) is
    * what a per-micro-batch gate can evaluate mergeably — per-batch
    * violation counts sum to exactly the whole-slice evaluation.
    * Cross-batch uniqueness needs distinct state (the sketch tier's
    * job) and is deliberately not in the streaming subset. */
  private[graft] val allRuleKinds = Set("not_null", "unique", "range", "domain")
  private[graft] val rowLocalRuleKinds = allRuleKinds - "unique"

  /** Derive the suggested rules from the training corpus: ONE native
    * stats pass (q84's two-aggregate shape, but min/max kept NATIVE —
    * bounds never round-trip through a string repr, and the extrema the
    * profile already computed double as the range bounds, which removes
    * the separate bounds re-scan and its localCheckpoint job the
    * previous shape paid), plus one grouped scan for ALL domain value
    * lists together. */
  private[graft] def suggestConstraints(train: DataFrame, maxDomain: Int = 8,
                                        kinds: Set[String] = allRuleKinds): SuggestedConstraints = {
    val fields = train.schema.fields.toSeq
    require(fields.map(_.name).distinct.size == fields.size,
      "constraint suggestion reports rules by column name — names must be unique")
    val trainP = positional(train)
    val statIdx = fields.zipWithIndex.filter(f => statable(f._1.dataType))
    // counts + NATIVE extrema linearly; exact distincts in their own
    // hash-only aggregate (profile()'s pass-A/pass-B split and for the
    // same reason: min/max(string) buffers would drag the Expand through
    // a SortAggregate chain)
    val aggsA: Seq[Column] = statIdx.flatMap { case (_, i) =>
      val c = col(s"__p_in_$i")
      Seq(count(c).as(alias(i, "nn")),
          min(c).as(alias(i, "lo")), max(c).as(alias(i, "hi")))
    }
    val aggsB: Seq[Column] = statIdx.map { case (_, i) =>
      countDistinct(col(s"__p_in_$i")).as(alias(i, "nd"))
    }
    val statRow = {
      val a = trainP.agg(count(lit(1)).as("__p_rows"), aggsA: _*)
      (if (aggsB.isEmpty) a
       else a.crossJoin(broadcast(trainP.agg(aggsB.head, aggsB.tail: _*))))
        .collect().head
    }
    val n = statRow.getAs[Long]("__p_rows")
    val rules: Seq[SuggestedRule] = statIdx.flatMap { case (f, i) =>
      val nNull = n - statRow.getAs[Long](alias(i, "nn"))
      val nd = statRow.getAs[Long](alias(i, "nd"))
      Seq(
        if (nNull == 0 && n > 0) Some(SuggestedRule("not_null", i, f.name)) else None,
        if (nd == n && n > 0) Some(SuggestedRule("unique", i, f.name)) else None,
        if (rangeable(f.dataType) && nNull < n)
          Some(SuggestedRule("range", i, f.name)) else None,
        if (f.dataType == StringType && nd >= 1 && nd <= maxDomain)
          Some(SuggestedRule("domain", i, f.name)) else None
      ).flatten.filter(r => kinds(r.kind))
    }
    val domIdx = rules.filter(_.kind == "domain").map(_.idx)
    val domVals: Map[Int, Seq[String]] =
      if (domIdx.isEmpty) Map.empty
      else trainP
        .select(explode(array(domIdx.map(i =>
          struct(lit(i).as("ci"), col(s"__p_in_$i").as("v"))): _*)).as("s"))
        .select(col("s.ci").as("ci"), col("s.v").as("v"))
        .filter(col("v").isNotNull).distinct()
        .collect().map(r => r.getInt(0) -> r.getString(1))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq }
    val bounds: Map[Int, (Any, Any)] = rules.filter(_.kind == "range")
      .map(r => r.idx ->
        (statRow.getAs[Any](alias(r.idx, "lo")),
         statRow.getAs[Any](alias(r.idx, "hi")))).toMap
    SuggestedConstraints(rules, domVals, bounds)
  }

  /** Evaluate suggested rules against a batch: ONE conditional
    * aggregate over one scan, native bounds and domain values inlined
    * as literals. Empty rule sets produce an empty report (not an
    * analysis error). */
  private[graft] def evaluateConstraints(eval: DataFrame,
                                         sc: SuggestedConstraints): DataFrame = {
    import org.apache.spark.sql.types.StructField
    if (sc.rules.isEmpty)
      return eval.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("constraint", StringType, nullable = false),
          StructField("n_checked", LongType, nullable = false),
          StructField("n_violations", LongType, nullable = false),
          StructField("passed", org.apache.spark.sql.types.BooleanType, nullable = false))))
    val evalIn = positional(eval)
    def vAlias(r: SuggestedRule) = s"__v_${r.kind}_${r.idx}"
    val vAggs: Seq[Column] = sc.rules.map { r =>
      val c = col(s"__p_in_${r.idx}")
      (r.kind match {
        case "not_null" => sum(when(c.isNull, 1L).otherwise(0L))
        case "unique"   => count(c) - countDistinct(c)
        case "range"    => sum(when(c.isNotNull &&
          (c < lit(sc.bounds(r.idx)._1) || c > lit(sc.bounds(r.idx)._2)), 1L)
          .otherwise(0L))
        case "domain"   => sum(when(c.isNotNull &&
          !c.isin(sc.domVals(r.idx): _*), 1L).otherwise(0L))
      }).as(vAlias(r))
    }
    evalIn.agg(count(lit(1)).as("__n"), vAggs: _*)
      .select(explode(array(sc.rules.map { r =>
        struct(lit(s"${r.kind}:${r.name}").as("constraint"),
          col("__n").as("n_checked"),
          coalesce(col(vAlias(r)), lit(0L)).as("n_violations"))
      }: _*)).as("r"))
      .select(col("r.constraint").as("constraint"),
        col("r.n_checked").as("n_checked"),
        col("r.n_violations").as("n_violations"),
        (col("r.n_violations") === 0L).as("passed"))
      .orderBy("constraint")
  }

  def suggestedConstraintReport(train: DataFrame, eval: DataFrame,
                                maxDomain: Int = 8): DataFrame =
    evaluateConstraints(eval, suggestConstraints(train, maxDomain))

  /** Oracle for the suggestion+evaluation loop over the orders split
    * (q88, and — with `includeUnique = false` — st31's streaming twin,
    * which evaluates only the row-local mergeable rule kinds): DuckDB
    * replays rule derivation from the train slice's stats AND the
    * per-rule evaluation over the eval slice. */
  private[graft] def constraintOracleSql(includeUnique: Boolean): String = {
    val prefix =
      """WITH split AS (
        |  SELECT CAST(floor(max(o_orderkey) * 0.8) AS BIGINT) AS sv FROM orders),
        |tr AS (SELECT * FROM orders WHERE o_orderkey < (SELECT sv FROM split)),
        |ev AS (SELECT * FROM orders WHERE o_orderkey >= (SELECT sv FROM split)),
        |tp AS (
        |  SELECT count(*) AS n,
        |    count(o_orderkey) AS k_nn, count(DISTINCT o_orderkey) AS k_nd,
        |      min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi,
        |    count(o_custkey) AS c_nn, count(DISTINCT o_custkey) AS c_nd,
        |      min(o_custkey) AS c_lo, max(o_custkey) AS c_hi,
        |    count(o_orderstatus) AS s_nn, count(DISTINCT o_orderstatus) AS s_nd,
        |    count(o_totalprice) AS t_nn, count(DISTINCT o_totalprice) AS t_nd,
        |      min(o_totalprice) AS t_lo, max(o_totalprice) AS t_hi,
        |    count(o_orderdate) AS d_nn, count(DISTINCT o_orderdate) AS d_nd,
        |      min(o_orderdate) AS d_lo, max(o_orderdate) AS d_hi,
        |    count(o_orderpriority) AS p_nn, count(DISTINCT o_orderpriority) AS p_nd
        |  FROM tr),
        |em AS (
        |  SELECT count(*) AS n,
        |    count(o_orderkey) AS k_nn, count(DISTINCT o_orderkey) AS k_nd,
        |    count(o_custkey) AS c_nn, count(DISTINCT o_custkey) AS c_nd,
        |    count(o_orderstatus) AS s_nn, count(DISTINCT o_orderstatus) AS s_nd,
        |    count(o_totalprice) AS t_nn, count(DISTINCT o_totalprice) AS t_nd,
        |    count(o_orderdate) AS d_nn, count(DISTINCT o_orderdate) AS d_nd,
        |    count(o_orderpriority) AS p_nn, count(DISTINCT o_orderpriority) AS p_nd
        |  FROM ev),
        |rv AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN e.o_orderkey IS NOT NULL AND (e.o_orderkey < t.k_lo OR e.o_orderkey > t.k_hi) THEN 1 ELSE 0 END), 0) AS BIGINT) AS k_rv,
        |    CAST(coalesce(sum(CASE WHEN e.o_custkey IS NOT NULL AND (e.o_custkey < t.c_lo OR e.o_custkey > t.c_hi) THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_rv,
        |    CAST(coalesce(sum(CASE WHEN e.o_totalprice IS NOT NULL AND (e.o_totalprice < t.t_lo OR e.o_totalprice > t.t_hi) THEN 1 ELSE 0 END), 0) AS BIGINT) AS t_rv,
        |    CAST(coalesce(sum(CASE WHEN e.o_orderdate IS NOT NULL AND (e.o_orderdate < t.d_lo OR e.o_orderdate > t.d_hi) THEN 1 ELSE 0 END), 0) AS BIGINT) AS d_rv
        |  FROM ev e CROSS JOIN tp t),
        |dv AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN e.o_orderstatus IS NOT NULL AND e.o_orderstatus NOT IN (SELECT o_orderstatus FROM tr WHERE o_orderstatus IS NOT NULL) THEN 1 ELSE 0 END), 0) AS BIGINT) AS s_dv,
        |    CAST(coalesce(sum(CASE WHEN e.o_orderpriority IS NOT NULL AND e.o_orderpriority NOT IN (SELECT o_orderpriority FROM tr WHERE o_orderpriority IS NOT NULL) THEN 1 ELSE 0 END), 0) AS BIGINT) AS p_dv
        |  FROM ev e)
        |SELECT "constraint", n_checked, n_violations, n_violations = 0 AS passed FROM (
        |  SELECT 'not_null:o_orderkey' AS "constraint", em.n AS n_checked, CAST(em.n - em.k_nn AS BIGINT) AS n_violations FROM em, tp WHERE tp.k_nn = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'not_null:o_custkey', em.n, CAST(em.n - em.c_nn AS BIGINT) FROM em, tp WHERE tp.c_nn = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'not_null:o_orderstatus', em.n, CAST(em.n - em.s_nn AS BIGINT) FROM em, tp WHERE tp.s_nn = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'not_null:o_totalprice', em.n, CAST(em.n - em.t_nn AS BIGINT) FROM em, tp WHERE tp.t_nn = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'not_null:o_orderdate', em.n, CAST(em.n - em.d_nn AS BIGINT) FROM em, tp WHERE tp.d_nn = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'not_null:o_orderpriority', em.n, CAST(em.n - em.p_nn AS BIGINT) FROM em, tp WHERE tp.p_nn = tp.n AND tp.n > 0""".stripMargin
    val uniqueRows =
      """
        |  UNION ALL SELECT 'unique:o_orderkey', em.n, CAST(em.k_nn - em.k_nd AS BIGINT) FROM em, tp WHERE tp.k_nd = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'unique:o_custkey', em.n, CAST(em.c_nn - em.c_nd AS BIGINT) FROM em, tp WHERE tp.c_nd = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'unique:o_orderstatus', em.n, CAST(em.s_nn - em.s_nd AS BIGINT) FROM em, tp WHERE tp.s_nd = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'unique:o_totalprice', em.n, CAST(em.t_nn - em.t_nd AS BIGINT) FROM em, tp WHERE tp.t_nd = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'unique:o_orderdate', em.n, CAST(em.d_nn - em.d_nd AS BIGINT) FROM em, tp WHERE tp.d_nd = tp.n AND tp.n > 0
        |  UNION ALL SELECT 'unique:o_orderpriority', em.n, CAST(em.p_nn - em.p_nd AS BIGINT) FROM em, tp WHERE tp.p_nd = tp.n AND tp.n > 0""".stripMargin
    val suffix =
      """
        |  UNION ALL SELECT 'range:o_orderkey', em.n, rv.k_rv FROM em, tp, rv WHERE tp.k_nn > 0
        |  UNION ALL SELECT 'range:o_custkey', em.n, rv.c_rv FROM em, tp, rv WHERE tp.c_nn > 0
        |  UNION ALL SELECT 'range:o_totalprice', em.n, rv.t_rv FROM em, tp, rv WHERE tp.t_nn > 0
        |  UNION ALL SELECT 'range:o_orderdate', em.n, rv.d_rv FROM em, tp, rv WHERE tp.d_nn > 0
        |  UNION ALL SELECT 'domain:o_orderstatus', em.n, dv.s_dv FROM em, tp, dv WHERE tp.s_nd BETWEEN 1 AND 8
        |  UNION ALL SELECT 'domain:o_orderpriority', em.n, dv.p_dv FROM em, tp, dv WHERE tp.p_nd BETWEEN 1 AND 8)
        |ORDER BY "constraint"""".stripMargin
    prefix + (if (includeUnique) uniqueRows else "") + suffix
  }

  /** q84's oracle body, shared by q86/q87/st29 (they re-check the same
    * exact stats under different distinct tiers / update channels). */
  private[graft] val ordersProfileSql =
    """WITH p AS (
      |  SELECT count(*) AS n_rows,
      |    count(o_orderkey) AS k_nn, count(DISTINCT o_orderkey) AS k_nd,
      |      CAST(min(o_orderkey) AS VARCHAR) AS k_min, CAST(max(o_orderkey) AS VARCHAR) AS k_max,
      |    count(o_custkey) AS c_nn, count(DISTINCT o_custkey) AS c_nd,
      |      CAST(min(o_custkey) AS VARCHAR) AS c_min, CAST(max(o_custkey) AS VARCHAR) AS c_max,
      |    count(o_orderstatus) AS s_nn, count(DISTINCT o_orderstatus) AS s_nd,
      |      min(o_orderstatus) AS s_min, max(o_orderstatus) AS s_max,
      |    count(o_totalprice) AS t_nn, count(DISTINCT o_totalprice) AS t_nd,
      |      CAST(CAST(floor(min(o_totalprice)*100 + 0.5) AS BIGINT) AS VARCHAR) AS t_min,
      |      CAST(CAST(floor(max(o_totalprice)*100 + 0.5) AS BIGINT) AS VARCHAR) AS t_max,
      |    count(o_orderdate) AS d_nn, count(DISTINCT o_orderdate) AS d_nd,
      |      strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS d_min,
      |      strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS d_max,
      |    count(o_orderpriority) AS pr_nn, count(DISTINCT o_orderpriority) AS pr_nd,
      |      min(o_orderpriority) AS pr_min, max(o_orderpriority) AS pr_max
      |  FROM orders)
      |SELECT col_name, n_rows, n_null, n_distinct, min_repr, max_repr FROM (
      |  SELECT 'o_orderkey' AS col_name, n_rows, n_rows - k_nn AS n_null,
      |         k_nd AS n_distinct, k_min AS min_repr, k_max AS max_repr FROM p
      |  UNION ALL
      |  SELECT 'o_custkey', n_rows, n_rows - c_nn, c_nd, c_min, c_max FROM p
      |  UNION ALL
      |  SELECT 'o_orderstatus', n_rows, n_rows - s_nn, s_nd, s_min, s_max FROM p
      |  UNION ALL
      |  SELECT 'o_totalprice', n_rows, n_rows - t_nn, t_nd, t_min, t_max FROM p
      |  UNION ALL
      |  SELECT 'o_orderdate', n_rows, n_rows - d_nn, d_nd, d_min, d_max FROM p
      |  UNION ALL
      |  SELECT 'o_orderpriority', n_rows, n_rows - pr_nn, pr_nd, pr_min, pr_max FROM p)""".stripMargin

  private[graft] val ordersMoney = Set("o_totalprice")

  /** Oracle for [[auditedMergedProfile]]-shaped reports (q86/st29). */
  private[graft] val auditedProfileOracle: String =
    """SELECT col_name, n_rows, n_null, min_repr, max_repr,
      |  TRUE AS distinct_within_5pct
      |FROM (""".stripMargin + ordersProfileSql.linesIterator
      .map("  " + _).mkString("\n") + ")\nORDER BY col_name"

  /** The q86/st29 report: fold partials to the q84 shape, then audit
    * the HLL distinct estimate against the exact tier at ±5 %
    * (lgK=14 → ~0.8 % rsd, >6σ — deterministically TRUE). The audit's
    * full-scan exact pass is what a 100 TB deployment drops. */
  private[graft] def auditedMergedProfile(parts: DataFrame,
                                          full: DataFrame): DataFrame = {
    val merged = mergedProfile(parts, full.schema, moneyCols = ordersMoney)
    val exact = profile(full, moneyCols = ordersMoney)
      .select(col("col_name"), col("n_distinct").as("nd_exact"))
    merged.join(exact, "col_name")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("min_repr"), col("max_repr"),
        (abs(col("n_distinct_est") - col("nd_exact"))
          <= col("nd_exact") * 0.05).as("distinct_within_5pct"))
      .orderBy("col_name")
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q84_table_profile",
      (spark, dir) => profile(Tables(spark, dir).orders, moneyCols = ordersMoney),
      Some(ordersProfileSql + "\nORDER BY col_name"),
      "North star: one-pass schema-driven table profile — per-column nulls/cardinality/bounds, Canon reprs"),

    GraftQuery(
      "q86_incremental_profile",
      (spark, dir) => {
        val o = Tables(spark, dir).orders
        // The observability twin of d15/s15: the stored corpus's profile
        // is maintained INCREMENTALLY — its partial (counts, native
        // extrema, HLL sketches) is persisted once as a parquet
        // artifact; each new ingest batch contributes only ITS partial,
        // and the report is a fold over partials. Counts/nulls/min/max
        // merge exactly (value-compared against the full-rescan
        // oracle); distincts merge by sketch-union, audited here
        // against a full-scan exact at ±5 % (lgK=14 → ~0.8 % rsd, >6σ)
        // — the audit pass is what the 100 TB deployment drops.
        val split = Tables.incrementalSplitId(o, "o_orderkey")
        // dataDir registers shutdown-hook deletion (a raw temp dir would
        // strand one store per invocation across a bench's 400 runs)
        val store = graft.streaming.Streams.dataDir("graft_profile_store_")
        partialProfile(o.filter(col("o_orderkey") < split))
          .write.mode("overwrite").parquet(store)
        val parts = spark.read.parquet(store) // sketch bytes round-trip the artifact seam
          .unionByName(partialProfile(o.filter(col("o_orderkey") >= split)))
        auditedMergedProfile(parts, o)
      },
      Some(auditedProfileOracle),
      "North star: incremental profile — persisted mergeable partials fold to the full-rescan report, HLL distinct tier audited"),

    GraftQuery(
      "q87_approx_profile",
      (spark, dir) => {
        val o = Tables(spark, dir).orders
        // The documented 100 TB form of q84, made oracle-checked instead
        // of asserted: the HLL++ distincts (rsd 1 %) ride the SAME
        // linear counts/extrema pass the exact tier already runs (one
        // fixed-size sketch buffer per column per partition), so the
        // audit costs exactly one extra aggregate — the exact-distinct
        // hash pass — and no join. Exact stats are value-compared; the
        // estimate is audited at ±5 % (5σ) against the exact tier,
        // which is the pass a production profile drops.
        val fields = o.schema.fields.toSeq
        val aggsA: Seq[Column] = fields.zipWithIndex.flatMap { case (f, i) =>
          val c = col(s"__p_in_$i")
          Seq(count(c).as(alias(i, "nn")),
              approx_count_distinct(c, 0.01).as(alias(i, "nda")),
              repr(min(c), f.dataType, ordersMoney(f.name)).as(alias(i, "min")),
              repr(max(c), f.dataType, ordersMoney(f.name)).as(alias(i, "max")))
        }
        val aggsB: Seq[Column] = fields.zipWithIndex.map { case (_, i) =>
          countDistinct(col(s"__p_in_$i")).as(alias(i, "nd"))
        }
        val in = positional(o)
        in.agg(count(lit(1)).as("__p_rows"), aggsA: _*)
          .crossJoin(broadcast(in.agg(aggsB.head, aggsB.tail: _*)))
          .select(col("__p_rows"), explode(array(fields.zipWithIndex.map { case (f, i) =>
            struct(
              lit(f.name).as("col_name"),
              (col("__p_rows") - col(alias(i, "nn"))).as("n_null"),
              col(alias(i, "nd")).as("n_distinct"),
              col(alias(i, "min")).as("min_repr"),
              col(alias(i, "max")).as("max_repr"),
              (abs(col(alias(i, "nda")) - col(alias(i, "nd")))
                <= col(alias(i, "nd")) * 0.05).as("approx_within_5pct"))
          }: _*)).as("m"))
          .select(col("m.col_name").as("col_name"), col("__p_rows").as("n_rows"),
            col("m.n_null").as("n_null"), col("m.n_distinct").as("n_distinct"),
            col("m.min_repr").as("min_repr"), col("m.max_repr").as("max_repr"),
            col("m.approx_within_5pct").as("approx_within_5pct"))
          .orderBy("col_name")
      },
      Some("""SELECT col_name, n_rows, n_null, n_distinct, min_repr, max_repr,
             |  TRUE AS approx_within_5pct
             |FROM (""".stripMargin + ordersProfileSql.linesIterator
               .map("  " + _).mkString("\n") + ")\nORDER BY col_name"),
      "North star: approx profile tier — HLL++ distincts, Expand-free one-pass, error bound oracle-checked"),

    GraftQuery(
      "q88_constraint_suggestion",
      (spark, dir) => {
        val o = Tables(spark, dir).orders
        // The automated form of the dashboards' ad-hoc sanity SQL
        // (VEHICLE_COUNTING_GUIDE.md:84-96), closing the observability
        // loop Deequ-style: the STORED corpus's profile suggests the
        // rules (not_null/unique/range/domain — deterministic functions
        // of q84's output), and the NEW ingest batch is what gets
        // evaluated — so the report is a real gate, not a tautology
        // (range:o_orderkey fails by construction: every new key lies
        // above the stored corpus's max, exactly the drift a bounds
        // rule is for).
        val split = Tables.incrementalSplitId(o, "o_orderkey")
        suggestedConstraintReport(
          o.filter(col("o_orderkey") < split),
          o.filter(col("o_orderkey") >= split))
      },
      Some(constraintOracleSql(includeUnique = true)),
      "North star: constraint suggestion — profile-derived rules from the stored corpus, evaluated against the new ingest batch"),

    GraftQuery(
      "q85_quality_constraints",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Declarative constraint report — the pre-training data GATE:
        // every row-local constraint (uniqueness arithmetic, null,
        // range, domain) folds into ONE conditional aggregate over ONE
        // scan; the referential check is the only second relation and
        // runs as an anti-join against the dim (broadcast wherever the
        // dim fits — customer keys at 100 TB are still dim-sized; else
        // it degrades to a shuffled semi-diff, never a cartesian).
        // The report EMITS violation counts rather than throwing: a
        // platform gate decides per-constraint severity downstream.
        val o = t.orders
        val base = o.agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_orderkey")).as("nd_key"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"),
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
            .as("bad_status"))
        val custKeys = t.customer.select(col("c_custkey").as("o_custkey"))
        val orphans = o.join(custKeys, Seq("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        def row(name: String, checked: Column, viol: Column) =
          struct(lit(name).as("constraint"), checked.as("n_checked"),
                 viol.as("n_violations"), (viol === 0L).as("passed"))
        base.crossJoin(broadcast(orphans))
          .select(explode(array(
            row("domain:o_orderstatus in {F,O,P}", col("n"), col("bad_status")),
            row("fk:o_custkey->customer.c_custkey", col("n"), col("n_orphans")),
            row("not_null:o_custkey", col("n"), col("null_cust")),
            row("pk_unique:o_orderkey", col("n"), col("n") - col("nd_key")),
            row("range:o_totalprice>0", col("n"), col("nonpos_price")))).as("r"))
          .select(col("r.constraint").as("constraint"),
            col("r.n_checked").as("n_checked"),
            col("r.n_violations").as("n_violations"), col("r.passed").as("passed"))
          .orderBy("constraint")
      },
      Some("""WITH b AS (
             |  SELECT count(*) AS n,
             |    count(DISTINCT o_orderkey) AS nd_key,
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
             |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
             |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
             |  FROM orders),
             |orph AS (
             |  SELECT count(*) AS n_orphans FROM orders o
             |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             |SELECT "constraint", n_checked, n_violations, n_violations = 0 AS passed FROM (
             |  SELECT 'domain:o_orderstatus in {F,O,P}' AS "constraint",
             |         n AS n_checked, bad_status AS n_violations FROM b
             |  UNION ALL
             |  SELECT 'fk:o_custkey->customer.c_custkey', b.n, orph.n_orphans FROM b, orph
             |  UNION ALL
             |  SELECT 'not_null:o_custkey', n, null_cust FROM b
             |  UNION ALL
             |  SELECT 'pk_unique:o_orderkey', n, n - nd_key FROM b
             |  UNION ALL
             |  SELECT 'range:o_totalprice>0', n, nonpos_price FROM b)
             |ORDER BY "constraint"""".stripMargin),
      "North star: declarative constraint report — one conditional agg + dim anti-join, counts not throws"),

    GraftQuery(
      "q89_iqr_outliers",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // ROBUST ANOMALY BOUNDS — the observability tier's outlier
        // member (q84 profiles, q85/q88 constrain, t23/st30 drift;
        // this flags VALUES): per-group Tukey fences from EXACT
        // nearest-rank quartiles, integer end to end — q1 is the
        // cents value at rank ⌈n/4⌉ = (n+3) div 4, q3 at ⌈3n/4⌉ =
        // (3n+3) div 4 (rank ties broken by event_id, but ties share
        // a cents value so the quartile is order-independent), fences
        // at q1 − 3·IQR / q3 + 3·IQR. No variance, no floats: a mean/
        // stddev z-score needs Σx² (BIGINT-overflow-prone at corpus
        // scale) and FP division; rank fences need ONE keyed sort.
        // Scale shape: one shuffle by group for the rank window, one
        // broadcast of the per-group fences (O(groups) rows) back
        // onto the stream for the flag pass. The exact ranks are the
        // audit tier — at 100 TB the serving form is approx_percentile
        // (q17's sketch contract) with these fences as its oracle.
        val ev = t.events.select(col("event_type"),
          Canon.cents(col("value")).as("cents"), col("event_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("cents").asc, col("event_id").asc)
        val ranked = ev
          .withColumn("rn", row_number().over(w).cast(LongType))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
        val qs = ranked
          .filter(col("rn") === expr("(n + 3) div 4") ||
                  col("rn") === expr("(3 * n + 3) div 4"))
          .groupBy("event_type")
          .agg(min(when(col("rn") === expr("(n + 3) div 4"), col("cents")))
                 .as("q1_cents"),
               min(when(col("rn") === expr("(3 * n + 3) div 4"), col("cents")))
                 .as("q3_cents"))
          .withColumn("lo", col("q1_cents") - (col("q3_cents") - col("q1_cents")) * 3)
          .withColumn("hi", col("q3_cents") + (col("q3_cents") - col("q1_cents")) * 3)
        ev.join(broadcast(qs), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
               min(col("q1_cents")).as("q1_cents"),
               min(col("q3_cents")).as("q3_cents"),
               sum(when(col("cents") < col("lo") || col("cents") > col("hi"), 1L)
                 .otherwise(0L)).as("n_outliers"),
               max(when(col("cents") > col("hi"), col("cents"))).as("max_outlier_cents"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_id
             |  FROM events),
             |ranked AS (
             |  SELECT event_type, cents,
             |    row_number() OVER (PARTITION BY event_type
             |                       ORDER BY cents, event_id) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM ev),
             |qs AS (
             |  SELECT event_type,
             |    min(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1_cents,
             |    min(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3_cents
             |  FROM ranked
             |  WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
             |  GROUP BY event_type),
             |f AS (
             |  SELECT event_type, q1_cents, q3_cents,
             |    q1_cents - 3 * (q3_cents - q1_cents) AS lo,
             |    q3_cents + 3 * (q3_cents - q1_cents) AS hi
             |  FROM qs)
             |SELECT e.event_type, count(*) AS n,
             |  min(f.q1_cents) AS q1_cents, min(f.q3_cents) AS q3_cents,
             |  CAST(sum(CASE WHEN e.cents < f.lo OR e.cents > f.hi
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  max(CASE WHEN e.cents > f.hi THEN e.cents END) AS max_outlier_cents
             |FROM ev e JOIN f USING (event_type)
             |GROUP BY e.event_type""".stripMargin),
      "North star: robust outlier fences — exact nearest-rank quartiles, integer Tukey bounds, no floats"))
}
