package graft.analysis

import graft.{GraftQuery, QueryPack}
import graft.core.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Document-quality filtering pack for LLM training-data pipelines
  * (north star, beyond the reference): the published heuristic-filter
  * families — Gopher-style rule gates, PII masking, within-document
  * repetition, and corpus-frequency (CCNet-style) rarity scoring.
  *
  * Scale shape: t09/t10/t11 are pure per-row column expressions (one
  * narrow projection, whole-stage codegen, zero shuffles — they stream
  * over 100 TB); t12 is two linear shuffles plus a broadcast of a
  * vocabulary-sized side table.
  *
  * Thresholds are integer-form (`a*k < b*m`, never `a/b < 0.x`) so the
  * keep/drop gates are bitwise-identical across engines; ratio OUTPUTS
  * use the `*_e4` fixed-point convention (graft.functions.Canon).
  */
object QualityQueries extends QueryPack {

  /** Non-overlapping occurrence count via the replace-length trick —
    * identical semantics in Spark and DuckDB (see TextQueries). */
  private def occurrences(c: Column, w: String): Column =
    ((length(c) - length(replace(c, lit(w), lit("")))) / w.length).cast(LongType)

  private def e4(c: Column): Column = floor(c * 10000 + 0.5).cast(LongType)

  /** t24/st33 shared DSIR kernel, tokenize half: hashed-unigram feature
    * stream over `documents`-shaped rows. `substring(md5(w),1,2)` gives
    * 256 portable string buckets (the d02 md5 discipline — every engine
    * computes the same md5, no int conversion needed). */
  def dsirTokens(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("b", substring(md5(col("w")), 1, 2))

  /** t24/st33 shared DSIR kernel, weight half: per-bucket
    * log-likelihood-ratio weights between the `src0` TARGET slice and
    * the raw pool, integer-exact via t20's bit-length idiom:
    *   bits_M(b) = len(bin(N_M + 256)) − len(bin(c_M(b) + 1))
    *   w_bits(b) = bits_raw(b) − bits_target(b)     (±1-bit log2)
    * so a positive per-doc sum means "more likely under target".
    * Returns ≤256 `(b, w_bits)` rows — broadcast-sized (t24) or
    * collect-and-bake-sized (st33's artifact seam) by construction. */
  def dsirWeights(tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val isTgt = col("source") === "src0"
    val tgtCnt = tok.filter(isTgt).groupBy("b").agg(count(lit(1)).as("ct"))
    val rawCnt = tok.filter(!isTgt).groupBy("b").agg(count(lit(1)).as("cr"))
    val nT = tok.filter(isTgt).agg(count(lit(1)).as("n_t"))
    val nR = tok.filter(!isTgt).agg(count(lit(1)).as("n_r"))
    rawCnt.join(tgtCnt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nR))
      .select(col("b"),
        ((length(bin(col("n_r") + 256)) - length(bin(col("cr") + 1))) -
         (length(bin(col("n_t") + 256)) - length(bin(col("ct") + 1))))
          .cast(LongType).as("w_bits"))
  }

  /** The t09 keep gate as a reusable column over `text` — also applied
    * on ingest by the streaming tier (st15). */
  def gopherKeep: Column = {
    val toks = split(col("text"), " ")
    val txt = concat(lit(" "), col("text"), lit(" "))
    val nWords = size(toks).cast(LongType)
    val charsNs = length(translate(col("text"), " ", "")).cast(LongType)
    val nUniq = size(array_distinct(toks)).cast(LongType)
    val nStop = occurrences(txt, " the ") + occurrences(txt, " a ") +
      occurrences(txt, " of ")
    nWords >= 50 && nWords <= 100000 &&
      charsNs >= nWords * 3 && charsNs <= nWords * 10 &&
      nUniq * 5 >= nWords &&
      nStop >= 2
  }

  /** t09's oracle SQL (also the inner query of st15's streaming twin). */
  val gopherSql: String =
    """SELECT doc_id, n_words,
      |  CAST(floor(chars_ns * 1.0 / n_words * 10000 + 0.5) AS BIGINT) AS mean_word_len_e4,
      |  CAST(floor(n_uniq * 1.0 / n_words * 10000 + 0.5) AS BIGINT) AS type_token_ratio_e4,
      |  n_stop AS n_stopwords,
      |  (n_words >= 50 AND n_words <= 100000
      |   AND chars_ns >= n_words * 3 AND chars_ns <= n_words * 10
      |   AND n_uniq * 5 >= n_words
      |   AND n_stop >= 2) AS keep
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
      |    CAST((length(t) - length(replace(t, ' the ', ''))) / 5
      |       + (length(t) - length(replace(t, ' a ', ''))) / 3
      |       + (length(t) - length(replace(t, ' of ', ''))) / 4 AS BIGINT) AS n_stop
      |  FROM (SELECT *, ' ' || text || ' ' AS t FROM documents))""".stripMargin

  /** t22 kernel — THE LAST MILE of every training-data pipeline: a
    * seeded DETERMINISTIC global shuffle + sharding of the final corpus
    * into N training files. No rand() — the order is a pure function of
    * (seed, doc_id): priority = md5(seed||":"||doc_id) (the
    * cross-engine hash family of the dedup pack), shard = first-32-bits
    * mod N, within-shard order = (priority, doc_id). Identical at any
    * parallelism or input partitioning (spec-pinned by recomputing over
    * a repartitioned input), re-runnable after a crash (position is
    * derivable, never stateful), and a different seed re-shuffles every
    * epoch with zero data movement until write time. Scale shape: ONE
    * shuffle — in production this is exactly
    * `repartition(N, shard).sortWithinPartitions(pri)` and the writer
    * emits shard files directly; hash-uniform shards balance to ±O(√n)
    * so no shard straggles. The row_number window here runs per shard
    * key — same single exchange. */
  def shuffleShard(docs: org.apache.spark.sql.DataFrame, n: Int = 4,
                   seed: String = "42"): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("pri"), col("doc_id"))
    docs
      .select(col("doc_id"),
        md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("pri"))
      .withColumn("shard",
        pmod(conv(substring(col("pri"), 1, 8), 16, 10).cast(LongType),
             lit(n.toLong)))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** t23/st30 shared report kernel: fold per-source old/new counts
    * (docs, tokens, Gopher passes) into the drift report — shares,
    * tokens/doc, pass rates, and the |Δshare| > 5 pp flag, all integer
    * fixed-point with -1 sentinels where a side is empty. t23 feeds it
    * from one batch corpus pass; st30 feeds the SAME fold from the
    * stored-corpus baseline plus streamed per-batch partials, so the
    * batch monitor and the live monitor cannot disagree on semantics.
    * `per` must carry (source, n_old, n_new, tok_old, tok_new,
    * pass_old, pass_new). */
  private[graft] def driftReport(per: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = per.agg(sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"))
    def safeE4(num: Column, den: Column): Column =
      when(den > 0, e4(num / den)).otherwise(lit(-1L))
    def safeE2(num: Column, den: Column): Column =
      when(den > 0, floor(num / den * 100 + 0.5).cast(LongType)).otherwise(lit(-1L))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_old"), col("n_new"),
        safeE4(col("n_old"), col("t_old")).as("share_old_e4"),
        safeE4(col("n_new"), col("t_new")).as("share_new_e4"),
        safeE2(col("tok_old"), col("n_old")).as("toks_doc_old_e2"),
        safeE2(col("tok_new"), col("n_new")).as("toks_doc_new_e2"),
        safeE4(col("pass_old"), col("n_old")).as("pass_old_e4"),
        safeE4(col("pass_new"), col("n_new")).as("pass_new_e4"))
      .withColumn("share_drift",
        abs(col("share_new_e4") - col("share_old_e4")) > 500 &&
          col("share_old_e4") >= 0 && col("share_new_e4") >= 0)
      .orderBy("source")
  }

  /** Per-source drift COUNTS of a doc slice — the mergeable unit both
    * monitor tiers aggregate: (n, toks, pass) per source, suffixed
    * `_old`/`_new` to feed [[driftReport]]'s respective side. One
    * conditional-aggregate pass; the SHARED [[gopherKeep]] gate. */
  private[graft] def driftCounts(docs: org.apache.spark.sql.DataFrame,
                                 side: String): org.apache.spark.sql.DataFrame =
    docs
      .select(col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_toks"),
        gopherKeep.as("keep"))
      .groupBy("source")
      .agg(count(lit(1)).as(s"n_$side"),
        sum(col("n_toks")).as(s"tok_$side"),
        sum(when(col("keep"), 1L).otherwise(0L)).as(s"pass_$side"))

  /** t23/st30 shared oracle: the full-corpus SQL replay of the drift
    * report — the streamed monitor must land on exactly this table. */
  private[graft] val corpusDriftOracle: String =
    """WITH s AS (
               |  SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS sv FROM documents),
               |g AS (
               |  SELECT source, doc_id >= (SELECT sv FROM s) AS is_new,
               |    n_words AS n_toks,
               |    (n_words >= 50 AND n_words <= 100000
               |     AND chars_ns >= n_words * 3 AND chars_ns <= n_words * 10
               |     AND n_uniq * 5 >= n_words AND n_stop >= 2) AS keep
               |  FROM (
               |    SELECT source, doc_id,
               |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               |      CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns,
               |      CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
               |      CAST((length(t) - length(replace(t, ' the ', ''))) / 5
               |         + (length(t) - length(replace(t, ' a ', ''))) / 3
               |         + (length(t) - length(replace(t, ' of ', ''))) / 4 AS BIGINT) AS n_stop
               |    FROM (SELECT *, ' ' || text || ' ' AS t FROM documents))),
               |per AS (
               |  SELECT source,
               |    CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
               |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               |    CAST(sum(CASE WHEN NOT is_new THEN n_toks ELSE 0 END) AS BIGINT) AS tok_old,
               |    CAST(sum(CASE WHEN is_new THEN n_toks ELSE 0 END) AS BIGINT) AS tok_new,
               |    CAST(sum(CASE WHEN NOT is_new AND keep THEN 1 ELSE 0 END) AS BIGINT) AS pass_old,
               |    CAST(sum(CASE WHEN is_new AND keep THEN 1 ELSE 0 END) AS BIGINT) AS pass_new
               |  FROM g GROUP BY source),
               |tot AS (
               |  SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
               |         CAST(sum(n_new) AS BIGINT) AS t_new FROM per)
               |SELECT source, n_old, n_new,
               |  CASE WHEN t_old > 0 THEN CAST(floor(n_old * 1.0 / t_old * 10000 + 0.5) AS BIGINT) ELSE -1 END AS share_old_e4,
               |  CASE WHEN t_new > 0 THEN CAST(floor(n_new * 1.0 / t_new * 10000 + 0.5) AS BIGINT) ELSE -1 END AS share_new_e4,
               |  CASE WHEN n_old > 0 THEN CAST(floor(tok_old * 1.0 / n_old * 100 + 0.5) AS BIGINT) ELSE -1 END AS toks_doc_old_e2,
               |  CASE WHEN n_new > 0 THEN CAST(floor(tok_new * 1.0 / n_new * 100 + 0.5) AS BIGINT) ELSE -1 END AS toks_doc_new_e2,
               |  CASE WHEN n_old > 0 THEN CAST(floor(pass_old * 1.0 / n_old * 10000 + 0.5) AS BIGINT) ELSE -1 END AS pass_old_e4,
               |  CASE WHEN n_new > 0 THEN CAST(floor(pass_new * 1.0 / n_new * 10000 + 0.5) AS BIGINT) ELSE -1 END AS pass_new_e4,
               |  (abs((CASE WHEN t_new > 0 THEN CAST(floor(n_new * 1.0 / t_new * 10000 + 0.5) AS BIGINT) ELSE -1 END)
               |     - (CASE WHEN t_old > 0 THEN CAST(floor(n_old * 1.0 / t_old * 10000 + 0.5) AS BIGINT) ELSE -1 END)) > 500
               |   AND t_old > 0 AND t_new > 0) AS share_drift
               |FROM per CROSS JOIN tot
               |ORDER BY source""".stripMargin

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "t09_gopher_rules",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Gopher-style quality rules (Rae et al. 2021 §A1.1 recast as
        // column expressions): word-count bounds, mean-word-length
        // bounds, type/token ratio floor, minimum stop-word evidence.
        // All gates in integer arithmetic so the boolean is portable.
        val toks = split(col("text"), " ")
        val txt = concat(lit(" "), col("text"), lit(" "))
        val nWords = size(toks).cast(LongType)
        val charsNs = length(translate(col("text"), " ", "")).cast(LongType)
        val nUniq = size(array_distinct(toks)).cast(LongType)
        val nStop = occurrences(txt, " the ") + occurrences(txt, " a ") +
          occurrences(txt, " of ")
        t.documents.select(
          col("doc_id"),
          nWords.as("n_words"),
          e4(charsNs.cast("double") / nWords).as("mean_word_len_e4"),
          e4(nUniq.cast("double") / nWords).as("type_token_ratio_e4"),
          nStop.as("n_stopwords"),
          gopherKeep.as("keep"))
      },
      Some(gopherSql),
      "North star: Gopher-style quality rule gate (integer-form thresholds)"),

    GraftQuery(
      "t10_pii_scrub",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // PII masking: redact emails and phone-shaped tokens, count what
        // was removed, fingerprint the scrubbed text. The corpus is
        // digit-free by construction, so the PII-bearing input is built
        // deterministically from doc_id (same construction in the
        // oracle) — the operator under test is the scrub pipeline:
        // regexp counts → ordered regexp_replace chain → content hash.
        val raw = concat(
          col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com or call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          when(col("doc_id") % 3 === 0, lit(" cc audit@example.org"))
            .otherwise(lit("")), lit(" asap"))
        val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val phonePat = "555-[0-9]{4}"
        val scrubbed = regexp_replace(
          regexp_replace(raw, emailPat, "<EMAIL>"), phonePat, "<PHONE>")
        t.documents.select(
          col("doc_id"),
          size(regexp_extract_all(raw, lit(emailPat), lit(0))).as("n_emails"),
          size(regexp_extract_all(raw, lit(phonePat), lit(0))).as("n_phones"),
          length(raw).as("len_raw"),
          length(scrubbed).as("len_scrubbed"),
          md5(scrubbed).as("scrub_fp"))
      },
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
             |  len(regexp_extract_all(raw, '555-[0-9]{4}')) AS n_phones,
             |  length(raw) AS len_raw,
             |  length(scrubbed) AS len_scrubbed,
             |  md5(scrubbed) AS scrub_fp
             |FROM (
             |  SELECT doc_id, raw,
             |    regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+',
             |      '<EMAIL>', 'g'), '555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
             |  FROM (
             |    SELECT doc_id,
             |      text || ' contact u' || CAST(doc_id AS VARCHAR)
             |        || '@example.com or call 555-'
             |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |        || CASE WHEN doc_id % 3 = 0 THEN ' cc audit@example.org' ELSE '' END
             |        || ' asap' AS raw
             |    FROM documents))""".stripMargin),
      "North star: PII masking — email/phone redaction counts + scrub fingerprint"),

    GraftQuery(
      "t11_bigram_repetition",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Within-document repetition (the Gopher duplicate-2-gram
        // signal): fraction of bigram occurrences that are repeats of an
        // earlier bigram in the same doc. Pure array lambdas — the
        // bigram list never leaves the row, so the operator is a
        // zero-shuffle projection (vs the corpus-level dedup in d0x).
        val bigrams = expr(
          "transform(slice(toks, 1, size(toks) - 1), (x, i) -> concat(x, ' ', toks[i + 1]))")
        t.documents
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 2)
          .withColumn("bigrams", bigrams)
          .select(
            col("doc_id"),
            size(col("bigrams")).as("n_bigrams"),
            size(array_distinct(col("bigrams"))).as("n_distinct_bigrams"),
            e4((size(col("bigrams")) - size(array_distinct(col("bigrams"))))
              .cast("double") / size(col("bigrams"))).as("dup_bigram_frac_e4"),
            ((size(col("bigrams")) - size(array_distinct(col("bigrams")))) * 5
              <= size(col("bigrams"))).as("keep"))
      },
      Some("""WITH l AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |b AS (
             |  SELECT doc_id, unnest(range(1, len(toks))) AS i, toks
             |  FROM l WHERE len(toks) >= 2),
             |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram FROM b),
             |agg AS (
             |  SELECT doc_id, count(*) AS n_bigrams,
             |         count(DISTINCT bigram) AS n_distinct
             |  FROM bg GROUP BY 1)
             |SELECT doc_id, n_bigrams, n_distinct AS n_distinct_bigrams,
             |  CAST(floor((n_bigrams - n_distinct) * 1.0 / n_bigrams * 10000 + 0.5)
             |    AS BIGINT) AS dup_bigram_frac_e4,
             |  ((n_bigrams - n_distinct) * 5 <= n_bigrams) AS keep
             |FROM agg""".stripMargin),
      "North star: duplicate-bigram repetition gate (zero-shuffle array lambdas)"),

    GraftQuery(
      "t12_rare_token_frac",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Corpus-frequency scoring (CCNet-style): fraction of each doc's
        // token stream drawn from the rare end of the corpus vocabulary.
        // "Rare" is relative (df·4 < n_docs·3) so the gate is scale-free
        // and integer-exact. Scale shape: one explode shuffle to build
        // df, then the vocabulary-sized (df) table broadcasts back onto
        // the token stream — the corpus itself is never re-shuffled.
        val tok = t.documents
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .filter(length(col("token")) > 0)
        val dfTab = tok.select("doc_id", "token").distinct()
          .groupBy("token").agg(count(lit(1)).as("df"))
        val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
        val rarity = dfTab.crossJoin(broadcast(nDocs))
          .select(col("token"), (col("df") * 4 < col("n_docs") * 3).as("is_rare"))
        tok.join(broadcast(rarity), "token")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               sum(when(col("is_rare"), 1L).otherwise(0L)).as("n_rare"))
          .select(col("doc_id"), col("n_tokens"), col("n_rare"),
                  e4(col("n_rare").cast("double") / col("n_tokens")).as("rare_frac_e4"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
             |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |r AS (SELECT token, (df * 4 < n_docs * 3) AS is_rare FROM df, n)
             |SELECT doc_id, count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN is_rare THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
             |  CAST(floor(sum(CASE WHEN is_rare THEN 1 ELSE 0 END) * 1.0 / count(*)
             |    * 10000 + 0.5) AS BIGINT) AS rare_frac_e4
             |FROM tok2 JOIN r USING (token)
             |GROUP BY 1""".stripMargin),
      "North star: corpus-frequency rarity scoring (broadcast df, CCNet-style)"),

    GraftQuery(
      "t13_corpus_pipeline",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // End-to-end training-corpus build: quality gate (t09's rules) →
        // exact dedup keep-first (d01's shape) → shard-local sequence
        // packing (t08's shape), composed as ONE declarative plan so
        // Catalyst fuses the gate into the scan and the whole pipeline
        // runs in TWO shuffles plus a broadcast (plan-pinned): the
        // (hash→min) agg, the kept-id list broadcast back as the
        // semi-join build side, and the per-shard pack window (whose
        // shard clustering also satisfies the final agg). This is the
        // composition story — a user chains the engine's stages without
        // materializing intermediates.
        val toks = split(col("text"), " ")
        val txt = concat(lit(" "), col("text"), lit(" "))
        val nWords = size(toks).cast(LongType)
        val charsNs = length(translate(col("text"), " ", "")).cast(LongType)
        val nUniq = size(array_distinct(toks)).cast(LongType)
        val nStop = occurrences(txt, " the ") + occurrences(txt, " a ") +
          occurrences(txt, " of ")
        val kept = t.documents
          .withColumn("n_tokens", nWords)
          .filter(nWords >= 50 && nWords <= 100000 &&
            charsNs >= nWords * 3 && charsNs <= nWords * 10 &&
            nUniq * 5 >= nWords && nStop >= 2)
        val firsts = kept
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val deduped = kept.join(firsts.select("doc_id"), Seq("doc_id"), "left_semi")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        deduped
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"), col("n_tokens"))
          .withColumn("bin",
            floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / 512)
              .cast(LongType))
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_tokens")).as("n_tokens"),
               min(col("doc_id")).as("first_doc"),
               max(col("doc_id")).as("last_doc"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             |    CAST((length(t) - length(replace(t, ' the ', ''))) / 5
             |       + (length(t) - length(replace(t, ' a ', ''))) / 3
             |       + (length(t) - length(replace(t, ' of ', ''))) / 4 AS BIGINT) AS n_stop
             |  FROM (SELECT *, ' ' || text || ' ' AS t FROM documents)),
             |kept AS (
             |  SELECT doc_id, text, n_tokens FROM base
             |  WHERE n_tokens >= 50 AND n_tokens <= 100000
             |    AND chars_ns >= n_tokens * 3 AND chars_ns <= n_tokens * 10
             |    AND n_uniq * 5 >= n_tokens AND n_stop >= 2),
             |firsts AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
             |ded AS (SELECT k.doc_id, k.n_tokens FROM kept k JOIN firsts USING (doc_id)),
             |binned AS (
             |  SELECT doc_id, doc_id % 8 AS shard, n_tokens,
             |    CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 8
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      / 512) AS BIGINT) AS bin
             |  FROM ded)
             |SELECT shard, bin, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM binned GROUP BY 1, 2""".stripMargin),
      "North star: end-to-end corpus build — quality gate → dedup → packing, one plan"),

    GraftQuery(
      "t14_vocab_coverage",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Tokenizer-prep vocabulary analysis: corpus term frequencies
        // ranked with cumulative token-mass coverage — the curve that
        // sizes a BPE/unigram vocabulary. The unpartitioned window runs
        // over the VOCABULARY (≈10⁶ rows at web scale, after the corpus
        // collapses in one hash-agg shuffle), never the corpus, so the
        // single-partition sort is bounded. Total order (cnt DESC,
        // token ASC) makes rank and running mass deterministic.
        val tok = t.documents
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(length(col("token")) > 0)
        val cnt = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("token").asc)
        val wcum = w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val wall = org.apache.spark.sql.expressions.Window
          .partitionBy()
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                       org.apache.spark.sql.expressions.Window.unboundedFollowing)
        cnt
          .withColumn("rank", row_number().over(w))
          .withColumn("cum", sum(col("cnt")).over(wcum))
          .withColumn("total", sum(col("cnt")).over(wall))
          .filter(col("rank") <= 20)
          .select(col("token"), col("cnt"), col("rank"),
                  e4(col("cum").cast("double") / col("total")).as("cum_frac_e4"))
      },
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             |tok2 AS (SELECT token FROM tok WHERE length(token) > 0),
             |cnt AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY 1),
             |r AS (
             |  SELECT token, cnt,
             |    row_number() OVER (ORDER BY cnt DESC, token) AS rank,
             |    sum(cnt) OVER (ORDER BY cnt DESC, token
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(cnt) OVER () AS total
             |  FROM cnt)
             |SELECT token, CAST(cnt AS BIGINT) AS cnt, rank,
             |  CAST(floor(cum * 1.0 / total * 10000 + 0.5) AS BIGINT) AS cum_frac_e4
             |FROM r WHERE rank <= 20""".stripMargin),
      "North star: vocabulary frequency ranking + cumulative coverage (BPE sizing)"),

    GraftQuery(
      "t15_corpus_report",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Per-source corpus report card — the acceptance dashboard a data
        // pipeline publishes per crawl/source: volume, quality keep-rate
        // (the SAME gopherKeep expression as t09/st15), average length,
        // language spread, exact-dup rate. One hash-agg shuffle on
        // `source`; all inputs are per-row expressions.
        t.documents
          .withColumn("keep", gopherKeep)
          .select(col("source"), col("lang"), col("keep"),
                  md5(col("text")).as("h"),
                  size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
               sum(col("n_tokens")).as("sum_tokens"),
               countDistinct(col("lang")).as("n_langs"),
               (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"))
          .select(col("source"), col("n_docs"), col("n_keep"),
                  e4(col("n_keep").cast("double") / col("n_docs")).as("keep_frac_e4"),
                  e4(col("sum_tokens").cast("double") / col("n_docs")).as("avg_tokens_e4"),
                  col("n_langs"), col("n_dup_docs"))
      },
      Some("""WITH base AS (
             |  SELECT source, lang, md5(text) AS h,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             |    CAST((length(t) - length(replace(t, ' the ', ''))) / 5
             |       + (length(t) - length(replace(t, ' a ', ''))) / 3
             |       + (length(t) - length(replace(t, ' of ', ''))) / 4 AS BIGINT) AS n_stop
             |  FROM (SELECT *, ' ' || text || ' ' AS t FROM documents)),
             |k AS (
             |  SELECT *, (n_tokens >= 50 AND n_tokens <= 100000
             |    AND chars_ns >= n_tokens * 3 AND chars_ns <= n_tokens * 10
             |    AND n_uniq * 5 >= n_tokens AND n_stop >= 2) AS keep
             |  FROM base)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             |  CAST(floor(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*) * 10000 + 0.5) AS BIGINT) AS keep_frac_e4,
             |  CAST(floor(sum(n_tokens) * 1.0 / count(*) * 10000 + 0.5) AS BIGINT) AS avg_tokens_e4,
             |  count(DISTINCT lang) AS n_langs,
             |  CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup_docs
             |FROM k GROUP BY 1""".stripMargin),
      "North star: per-source corpus report card (volume/quality/length/lang/dup-rate)"),

    GraftQuery(
      "t16_domain_mixture",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Domain-mixture rebalancing: downsample every source toward the
        // smallest source's volume (uniform target mixture) with a
        // DETERMINISTIC per-source stride — keep every r-th doc in
        // doc_id order, r = floor(count_s / min_count). No rand(): the
        // same corpus always yields the same mixture, at any
        // parallelism (the q65 policy lifted from strata to training
        // domains). Scale shape: per-source counts are a tiny agg
        // broadcast back; the stride filter is a windowed row_number
        // per source — one shuffle of (source, doc_id).
        val counts = t.documents.groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
        val minCount = counts.agg(min(col("n_docs")).as("min_docs"))
        val rates = counts.crossJoin(broadcast(minCount))
          .select(col("source"), col("n_docs"),
                  (col("n_docs") / col("min_docs")).cast(LongType).as("stride"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
        t.documents
          .join(broadcast(rates), "source")
          .withColumn("rn", row_number().over(w))
          .filter((col("rn") - 1) % col("stride") === 0)
          .groupBy("source")
          .agg(first(col("n_docs")).as("n_docs"),
               first(col("stride")).as("stride"),
               count(lit(1)).as("n_kept"))
          .select(col("source"), col("n_docs"), col("stride"), col("n_kept"),
                  e4(col("n_kept").cast("double") / col("n_docs")).as("kept_frac_e4"))
      },
      Some("""WITH counts AS (
             |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
             |rates AS (
             |  SELECT source, n_docs,
             |    CAST(n_docs // (SELECT min(n_docs) FROM counts) AS BIGINT) AS stride
             |  FROM counts),
             |ranked AS (
             |  SELECT d.source, r.n_docs, r.stride,
             |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
             |  FROM documents d JOIN rates r USING (source)),
             |kept AS (
             |  SELECT source, n_docs, stride, count(*) AS n_kept
             |  FROM ranked WHERE (rn - 1) % stride = 0 GROUP BY 1, 2, 3)
             |SELECT source, n_docs, stride, n_kept,
             |  CAST(floor(n_kept * 1.0 / n_docs * 10000 + 0.5) AS BIGINT) AS kept_frac_e4
             |FROM kept""".stripMargin),
      "North star: deterministic domain-mixture rebalancing toward uniform"),

    GraftQuery(
      "t21_mixture_pack",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Token-BUDGET mixture sampling — the op that actually builds a
        // pretraining mix: given per-domain weights and a total token
        // budget, each domain contributes its highest-quality docs until
        // its token share is spent (t16 rebalances doc COUNTS; training
        // mixtures are specified in TOKENS — The Pile / DoReMi style).
        // Deterministic end to end: weights derive from the source name,
        // quality rank is (n_chars DESC, doc_id), and the keep rule is
        // "running token sum ≤ budget" — a monotone prefix, so the
        // selected set is identical at any parallelism. Scale shape: one
        // corpus pass for per-doc token counts, ONE shuffle on source
        // for the rank+running-sum window, and the weight/budget tables
        // are per-domain aggregates (broadcast). At 100 TB with a
        // source-bucketed layout even that shuffle disappears.
        val docs = t.documents.select(col("doc_id"), col("source"),
          col("n_chars"), size(split(col("text"), " ")).as("n_tokens"))
        val wgtExpr = regexp_extract(col("source"), "([0-9]+)$", 1)
          .cast(LongType) % 3 + 1
        val weights = docs.select(col("source")).distinct()
          .select(col("source"), wgtExpr.as("wgt"))
        // budget = half the corpus tokens, split across domains by weight
        // (integer `div` both engines — no float drift in budgets)
        val tot = docs.agg(expr("sum(n_tokens) div 2").as("budget_total"))
        val wsum = weights.agg(sum(col("wgt")).as("wsum"))
        val budgets = weights.crossJoin(broadcast(tot)).crossJoin(broadcast(wsum))
          .select(col("source"), col("wgt"),
            expr("(budget_total * wgt) div wsum").as("budget_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        docs.join(broadcast(budgets), "source")
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .filter(col("cum_tokens") <= col("budget_tokens"))
          .groupBy("source")
          .agg(first(col("wgt")).as("wgt"),
               first(col("budget_tokens")).as("budget_tokens"),
               count(lit(1)).as("n_docs_kept"),
               sum(col("n_tokens")).as("n_tokens_kept"))
          .select(col("source"), col("wgt"), col("budget_tokens"),
            col("n_docs_kept"), col("n_tokens_kept"),
            e4(col("n_tokens_kept").cast("double") / col("budget_tokens"))
              .as("util_e4"))
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, source, n_chars,
             |    len(string_split(text, ' ')) AS n_tokens
             |  FROM documents),
             |w AS (
             |  SELECT source,
             |    CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 3 + 1 AS wgt
             |  FROM (SELECT DISTINCT source FROM documents)),
             |tot AS (
             |  SELECT CAST(CAST(sum(n_tokens) AS BIGINT) // 2 AS BIGINT) AS budget_total
             |  FROM docs),
             |wsum AS (SELECT CAST(sum(wgt) AS BIGINT) AS wsum FROM w),
             |budgets AS (
             |  SELECT w.source, w.wgt,
             |    CAST((t.budget_total * w.wgt) // s.wsum AS BIGINT) AS budget_tokens
             |  FROM w CROSS JOIN tot t CROSS JOIN wsum s),
             |ranked AS (
             |  SELECT d.source, d.n_tokens, b.wgt, b.budget_tokens,
             |    sum(d.n_tokens) OVER (PARTITION BY d.source
             |      ORDER BY d.n_chars DESC, d.doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
             |  FROM docs d JOIN budgets b USING (source))
             |SELECT source, wgt, budget_tokens,
             |  count(*) AS n_docs_kept,
             |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept,
             |  CAST(floor(sum(n_tokens) * 1.0 / budget_tokens * 10000 + 0.5) AS BIGINT) AS util_e4
             |FROM ranked WHERE cum_tokens <= budget_tokens
             |GROUP BY source, wgt, budget_tokens""".stripMargin),
      "North star: token-budget mixture packing — weighted per-domain quality-ranked prefix"),

    GraftQuery(
      "t22_shuffle_shard",
      (spark, dir) => shuffleShard(Tables(spark, dir).documents),
      Some("""WITH pri AS (
             |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS pri
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, pri,
             |    CAST(('0x' || substr(pri, 1, 8)) AS BIGINT) % 4 AS shard
             |  FROM pri)
             |SELECT doc_id, shard,
             |  row_number() OVER (PARTITION BY shard ORDER BY pri, doc_id) AS pos
             |FROM sh""".stripMargin),
      "North star: seeded deterministic shuffle-shard — the training-order writer's order/placement contract"),

    GraftQuery(
      "t23_corpus_drift",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // INGEST-TIME DRIFT MONITOR — the observability twin of the
        // incremental-index tier (q84 profiles ONE table; this compares
        // the new batch against the stored corpus): per source, doc
        // share, tokens/doc, and the t09 Gopher pass rate (the SHARED
        // gopherKeep expression, so the monitor and the gate cannot
        // disagree), old vs new, with a fixed-point share-shift flag
        // (|Δshare| > 5 pp). A mixture built by t16/t21 assumes the
        // per-source distribution it was tuned on; this is the query
        // that notices when an ingest breaks that assumption. Scale
        // shape: ONE corpus pass folded into a conditional aggregate
        // per (source), totals broadcast back — the same single-shuffle
        // shape as t15's report card. All emitted values integer
        // fixed-point (e4/e2), sentinel -1 where a side is empty.
        val sv = Tables.incrementalSplitId(t.documents, "doc_id")
        val per = t.documents
          .select(col("source"), (col("doc_id") >= sv).as("is_new"),
            size(split(col("text"), " ")).cast(LongType).as("n_toks"),
            gopherKeep.as("keep"))
          .groupBy("source")
          .agg(
            sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_old"),
            sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
            sum(when(!col("is_new"), col("n_toks")).otherwise(0L)).as("tok_old"),
            sum(when(col("is_new"), col("n_toks")).otherwise(0L)).as("tok_new"),
            sum(when(!col("is_new") && col("keep"), 1L).otherwise(0L)).as("pass_old"),
            sum(when(col("is_new") && col("keep"), 1L).otherwise(0L)).as("pass_new"))
        driftReport(per)
      },
      Some(corpusDriftOracle),
      "North star: per-source corpus drift monitor — new batch vs stored corpus, shared Gopher gate, fixed-point share-shift flag"),

    GraftQuery(
      "t17_ngram_generator",
      (spark, dir) => {
        // U6 as a CUSTOM Catalyst Generator, not a builtin: the
        // functions.NGrams table function (SQL `LATERAL VIEW
        // ngrams(text, 3)`) plugs into GenerateExec exactly like
        // explode — one generate pass, then a hash agg; the same
        // shingle relation every dedup query derives, now reachable
        // from the spark.sql text tier. Verified against the DuckDB
        // shingle CTE used across the dedup pack.
        graft.core.GraftExtensions.register(spark)
        graft.core.Tables(spark, dir).registerAll()
        spark.sql("""
          SELECT doc_id, count(*) AS n_shingles,
                 min(ngram) AS first_shingle
          FROM documents
          LATERAL VIEW ngrams(text, 3) g AS ngram
          GROUP BY doc_id""")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(len(tk) - 2),
             |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sh
             |  FROM toks WHERE len(tk) >= 3)
             |SELECT doc_id, count(*) AS n_shingles, min(sh) AS first_shingle
             |FROM sh GROUP BY doc_id""".stripMargin),
      "U6: custom Catalyst Generator (SQL table function ngrams) ≡ dedup shingle CTE"),

    GraftQuery(
      "t18_full_pipeline",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // The COMPLETE corpus build in one declarative plan — t13 plus
        // the stage real pipelines cannot ship without: benchmark
        // decontamination with an eval HOLDOUT. Stages: quality gate
        // (the shared gopherKeep expression) → eval slice held out of
        // train entirely → contaminated docs dropped (d08's broadcast
        // eval-shingle semi join, here inverted to an anti join) →
        // exact dedup keep-first → shard-local sequence packing. No
        // intermediate materializes; Catalyst fuses the gate into the
        // scan, the eval-shingle set and the kept-id list broadcast,
        // and the only wide exchanges are the dedup hash-agg and the
        // per-shard pack window.
        val docs = t.documents
        val kept = docs
          .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
          .filter(gopherKeep && col("doc_id") % 50 =!= 0)
        val evalSh = docs.filter(col("doc_id") % 50 === 0)
          .select(graft.dedup.DedupQueries.shingleRows(col("text"), 4).as("sh")).distinct()
        val contaminated = kept
          .select(col("doc_id"), graft.dedup.DedupQueries.shingleRows(col("text"), 4).as("sh"))
          .join(broadcast(evalSh), Seq("sh"), "left_semi")
          .select("doc_id").distinct()
        val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
        val firsts = clean
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val deduped = clean.join(firsts.select("doc_id"), Seq("doc_id"), "left_semi")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        deduped
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"), col("n_tokens"))
          .withColumn("bin",
            floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / 512)
              .cast(LongType))
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_tokens")).as("n_tokens"),
               min(col("doc_id")).as("first_doc"),
               max(col("doc_id")).as("last_doc"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             |    CAST((length(t) - length(replace(t, ' the ', ''))) / 5
             |       + (length(t) - length(replace(t, ' a ', ''))) / 3
             |       + (length(t) - length(replace(t, ' of ', ''))) / 4 AS BIGINT) AS n_stop
             |  FROM (SELECT *, ' ' || text || ' ' AS t FROM documents)),
             |kept AS (
             |  SELECT doc_id, text, n_tokens FROM base
             |  WHERE n_tokens >= 50 AND n_tokens <= 100000
             |    AND chars_ns >= n_tokens * 3 AND chars_ns <= n_tokens * 10
             |    AND n_uniq * 5 >= n_tokens AND n_stop >= 2
             |    AND doc_id % 50 <> 0),
             |evtok AS (
             |  SELECT string_split(text, ' ') AS tk FROM documents WHERE doc_id % 50 = 0),
             |ev AS (
             |  SELECT DISTINCT unnest(list_transform(range(len(tk) - 3),
             |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
             |  FROM evtok WHERE len(tk) >= 4),
             |ktok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM kept),
             |ksh AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(len(tk) - 3),
             |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
             |  FROM ktok WHERE len(tk) >= 4),
             |contam AS (SELECT DISTINCT doc_id FROM ksh JOIN ev USING (sh)),
             |clean AS (
             |  SELECT k.* FROM kept k LEFT JOIN contam c USING (doc_id)
             |  WHERE c.doc_id IS NULL),
             |firsts AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
             |ded AS (SELECT c.doc_id, c.n_tokens FROM clean c JOIN firsts USING (doc_id)),
             |binned AS (
             |  SELECT doc_id, doc_id % 8 AS shard, n_tokens,
             |    CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 8
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      / 512) AS BIGINT) AS bin
             |  FROM ded)
             |SELECT shard, bin, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM binned GROUP BY 1, 2""".stripMargin),
      "North star: FULL corpus build — gate → eval holdout → decontaminate → dedup → pack"),

    GraftQuery(
      "t20_ngram_lm_score",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // N-gram LM quality scoring (the KenLM-perplexity-filter shape):
        // train trigram/bigram count tables on the corpus itself, then
        // score every doc's average per-trigram surprisal and flag
        // outliers. The log-domain math is INTEGER-EXACT by design:
        // surprisal_bits = ⌊log2(c2 + V)⌋ − ⌊log2(c3 + 1)⌋ computed as
        // length(bin(n)) — exact integer bit-length on both engines —
        // approximating log2((c3+1)/(c2+V)) within ±1 bit. A float ln
        // would hash-diverge across engines at e4 rounding boundaries
        // (transcendentals aren't IEEE-correctly-rounded everywhere);
        // bit-length is. Plan shape: ONE tokenize pass feeds trigram
        // extraction (window lead, shuffles on doc_id), the count tables
        // group on n-gram keys and broadcast back into the scoring join
        // (corpus-derived dim tables ≪ corpus at 100 TB after the
        // count-min cut; here they broadcast whole), and the per-doc agg
        // is map-side partial.
        // persist the shared relations: Catalyst does not share common
        // subplans (see verifiedPairs' scaladoc), so without the cache
        // the tokenize and the lead() window would re-run for each of
        // their four consumers (tri2 scoring base, c3, c2, vocab) —
        // four corpus text passes where one is intended. Released by
        // the harness's per-query clearCache.
        val toks = t.documents
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .toDF("doc_id", "pos", "word")
          .filter(length(col("word")) > 0)
          .persist()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val tri = toks.select(col("doc_id"), col("word").as("w1"),
          lead(col("word"), 1).over(w).as("w2"),
          lead(col("word"), 2).over(w).as("w3"))
          .persist()
        val tri2 = tri.filter(col("w3").isNotNull)
        val c3 = tri2.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
        val c2 = tri.filter(col("w2").isNotNull)
          .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val v = toks.agg(countDistinct(col("word")).as("vocab"))
        tri2
          .join(broadcast(c3), Seq("w1", "w2", "w3"))
          .join(broadcast(c2), Seq("w1", "w2"))
          .crossJoin(broadcast(v))
          .select(col("doc_id"),
            (length(bin(col("c2") + col("vocab"))) -
             length(bin(col("c3") + 1))).as("surprisal_bits"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tri"),
               sum(col("surprisal_bits")).as("sum_bits"))
          .select(col("doc_id"), col("n_tri"), col("sum_bits"),
            expr("(sum_bits * 10000) div n_tri").as("avg_bits_e4"))
          .withColumn("is_unusual", col("avg_bits_e4") > 42500)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, u.p.pos AS pos, u.p.word AS word FROM (
             |    SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
             |      i -> {'pos': i, 'word': l[i]})) AS p
             |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)) u
             |  WHERE length(u.p.word) > 0),
             |tri AS (
             |  SELECT doc_id, word AS w1,
             |    lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
             |    lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
             |  FROM toks),
             |tri2 AS (SELECT doc_id, w1, w2, w3 FROM tri WHERE w3 IS NOT NULL),
             |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri2 GROUP BY 1, 2, 3),
             |c2 AS (SELECT w1, w2, count(*) AS c2 FROM tri WHERE w2 IS NOT NULL GROUP BY 1, 2),
             |v AS (SELECT count(DISTINCT word) AS vocab FROM toks),
             |scored AS (
             |  SELECT t.doc_id,
             |    length(bin(c2.c2 + v.vocab)) - length(bin(c3.c3 + 1)) AS surprisal_bits
             |  FROM tri2 t JOIN c3 ON c3.w1 = t.w1 AND c3.w2 = t.w2 AND c3.w3 = t.w3
             |              JOIN c2 ON c2.w1 = t.w1 AND c2.w2 = t.w2, v),
             |agg AS (
             |  SELECT doc_id, count(*) AS n_tri,
             |    CAST(sum(surprisal_bits) AS BIGINT) AS sum_bits
             |  FROM scored GROUP BY doc_id)
             |SELECT doc_id, n_tri, sum_bits,
             |  (sum_bits * 10000) // n_tri AS avg_bits_e4,
             |  (sum_bits * 10000) // n_tri > 42500 AS is_unusual
             |FROM agg""".stripMargin),
      "North star: n-gram LM quality score — integer-exact bit-length surprisal, outlier flags"),

    GraftQuery(
      "t24_importance_resample",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // DSIR-style importance resampling (Xie et al. 2023, "Data
        // Selection for Language Models via Importance Resampling"):
        // pick raw-pool docs that look like a TARGET domain by scoring
        // each doc under two hashed-feature bag-of-words models — here
        // target = the curated `src0` slice, raw = everything else.
        // Feature buckets + per-bucket LLR weights come from the
        // [[dsirTokens]]/[[dsirWeights]] kernels (shared with st33's
        // ingest gate, so batch selection and the live gate can't
        // drift). A positive per-doc weight sum means "more likely
        // under target".
        // The per-doc average is computed on the +64-shifted sum (w_bits
        // ∈ [−63, 63] since each side is a bin-length in [1, 64]), so
        // the integer division never sees a negative numerator — `div`
        // vs `//` rounding toward zero/−∞ would diverge there.
        // Plan shape at 100 TB: ONE tokenize pass (persisted — Catalyst
        // doesn't share common subplans across its five consumers), two
        // 256-row count tables + two scalar totals that broadcast into
        // the scoring join, and the per-doc agg is map-side partial.
        // Selection is the threshold rule sum_bits ≥ 0 — row-local,
        // no global sort, unlike top-K resampling it needs no second
        // pass at scale. (The paper's Gumbel-noise sampling is replaced
        // by the deterministic threshold: transcendental log-noise is
        // not cross-engine reproducible; the md5-seeded t22 shuffle
        // supplies the randomization tier if sampling is wanted.)
        val tok = dsirTokens(t.documents).persist()
        val wtab = dsirWeights(tok)
        tok.filter(!(col("source") === "src0"))
          .join(broadcast(wtab), "b")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
               sum(col("w_bits")).as("sum_bits"),
               sum(col("w_bits") + 64).as("sum_shift"))
          .select(col("doc_id"), col("n_tok"),
            col("sum_bits").cast(LongType).as("sum_bits"),
            (expr("(sum_shift * 10000) div n_tok") - 640000L)
              .cast(LongType).as("avg_bits_e4"),
            (col("sum_bits") >= 0).as("selected"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, source, substr(md5(w), 1, 2) AS b
             |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
             |        FROM documents)
             |  WHERE length(w) > 0),
             |tgtc AS (SELECT b, count(*) AS ct FROM tok WHERE source = 'src0' GROUP BY b),
             |rawc AS (SELECT b, count(*) AS cr FROM tok WHERE source <> 'src0' GROUP BY b),
             |nt AS (SELECT count(*) AS n_t FROM tok WHERE source = 'src0'),
             |nr AS (SELECT count(*) AS n_r FROM tok WHERE source <> 'src0'),
             |wtab AS (
             |  SELECT r.b,
             |    (length(bin(nr.n_r + 256)) - length(bin(r.cr + 1)))
             |    - (length(bin(nt.n_t + 256)) - length(bin(coalesce(t.ct, 0) + 1))) AS w_bits
             |  FROM rawc r LEFT JOIN tgtc t USING (b), nt, nr),
             |scored AS (
             |  SELECT k.doc_id, count(*) AS n_tok,
             |    CAST(sum(w.w_bits) AS BIGINT) AS sum_bits,
             |    CAST(sum(w.w_bits + 64) AS BIGINT) AS sum_shift
             |  FROM tok k JOIN wtab w USING (b)
             |  WHERE k.source <> 'src0'
             |  GROUP BY k.doc_id)
             |SELECT doc_id, n_tok, sum_bits,
             |  CAST((sum_shift * 10000) // n_tok - 640000 AS BIGINT) AS avg_bits_e4,
             |  sum_bits >= 0 AS selected
             |FROM scored""".stripMargin),
      "North star: DSIR importance resampling — hashed-feature LLR weights, integer-exact, threshold select"),

    GraftQuery(
      "t25_token_pack",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // TOKEN-LEVEL sequence packing — the concat-and-chunk shape a
        // GPT-style pipeline actually emits: the shard-local document
        // stream concatenates into one token axis and splits into
        // FIXED-LENGTH training sequences, docs crossing boundaries
        // (t08 bins whole docs by a token budget and never splits;
        // t21 picks WHICH docs; this op decides where every token
        // lands). Each doc owns interval [start, end) of its shard's
        // token axis (one exclusive-prefix window per shard — the
        // scale-correct distributed form, shards pack independently on
        // 1000 executors) and emits one row per training sequence it
        // overlaps: explode over `sequence(start div L, (end-1) div L)`
        // — row-local, ~n_tokens/L + 1 rows per doc — with in-sequence
        // [tok_start, tok_end) offsets. Integer `div` end to end; the
        // output IS the attention-boundary metadata sequence builders
        // consume.
        val L = 128L
        val toks = t.documents.select(col("doc_id"),
            (col("doc_id") % 8).as("shard"),
            size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
          .filter(col("n_tokens") > 0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        toks
          .withColumn("st", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("en", col("st") + col("n_tokens"))
          .withColumn("seq_id",
            explode(sequence(expr(s"st div $L"), expr(s"(en - 1) div $L"))))
          .select(col("shard"), col("seq_id").cast(LongType).as("seq_id"),
            col("doc_id"),
            greatest(col("st") - col("seq_id") * L, lit(0L)).as("tok_start"),
            least(col("en") - col("seq_id") * L, lit(L)).as("tok_end"))
          .withColumn("n_tok_in_seq", col("tok_end") - col("tok_start"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, doc_id % 8 AS shard,
             |    len(string_split(text, ' ')) AS n_tokens
             |  FROM documents),
             |nz AS (SELECT * FROM toks WHERE n_tokens > 0),
             |off AS (
             |  SELECT doc_id, shard, n_tokens,
             |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS BIGINT) AS st
             |  FROM nz),
             |sp AS (
             |  SELECT doc_id, shard, st, st + n_tokens AS en,
             |    unnest(range(st // 128, (st + n_tokens - 1) // 128 + 1)) AS seq_id
             |  FROM off)
             |SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
             |  CAST(greatest(st - seq_id * 128, 0) AS BIGINT) AS tok_start,
             |  CAST(least(en - seq_id * 128, 128) AS BIGINT) AS tok_end,
             |  CAST(least(en - seq_id * 128, 128)
             |     - greatest(st - seq_id * 128, 0) AS BIGINT) AS n_tok_in_seq
             |FROM sp""".stripMargin),
      "North star: token-level sequence packing — docs split across fixed-length sequences, span table out"),

    GraftQuery(
      "t26_chunk_overlap",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // Sliding-window passage chunking — the retrieval/embedding prep
        // twin of t25's packer: where t25 decides which SEQUENCE each
        // token trains in, t26 cuts each document into overlapping
        // fixed-width passages (window W=64 tokens, stride S=48 → 16
        // tokens of overlap) so no sentence straddling a cut is lost to
        // the embedder. Chunk k of a doc with n tokens covers
        // [k·S, min(k·S+W, n)); chunk count is
        // (max(n−W,0)+S−1) div S + 1, so every token is covered and the
        // last chunk always reaches n (W > S ⇒ the final start is < n).
        // Scale shape: PURELY row-local — split, one explode over
        // `sequence`, slice + array_join; zero shuffles, whole-stage
        // codegen end to end, output rows ≈ n_tokens/S per doc. At
        // 100 TB this is a streaming map over the corpus: no state, no
        // exchange, embarrassingly parallel at any executor count.
        val W = 64L; val S = 48L
        t.documents
          .select(col("doc_id"), split(col("text"), " ").as("l"))
          .withColumn("n", size(col("l")).cast(LongType))
          .filter(col("n") > 0)
          .withColumn("k", explode(sequence(lit(0L),
            expr(s"(greatest(n - $W, 0L) + ${S - 1}L) div ${S}L"))))
          .select(col("doc_id"),
            col("k").cast(LongType).as("chunk_id"),
            (col("k") * S).cast(LongType).as("tok_start"),
            least(col("k") * S + W, col("n")).cast(LongType).as("tok_end"),
            (least(col("k") * S + W, col("n")) - col("k") * S)
              .cast(LongType).as("n_tok"),
            array_join(slice(col("l"), (col("k") * S + 1).cast("int"),
              (least(col("k") * S + W, col("n")) - col("k") * S).cast("int")),
              " ").as("chunk_text"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text, ' ') AS l,
             |    len(string_split(text, ' ')) AS n
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, l, n,
             |    unnest(range(0, (greatest(n - 64, 0) + 47) // 48 + 1)) AS k
             |  FROM d WHERE n > 0)
             |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
             |  CAST(k * 48 AS BIGINT) AS tok_start,
             |  CAST(least(k * 48 + 64, n) AS BIGINT) AS tok_end,
             |  CAST(least(k * 48 + 64, n) - k * 48 AS BIGINT) AS n_tok,
             |  array_to_string(list_slice(l, k * 48 + 1, least(k * 48 + 64, n)), ' ')
             |    AS chunk_text
             |FROM c""".stripMargin),
      "North star: overlapping passage chunking — row-local window/stride explode, zero shuffles"),

    GraftQuery(
      "t27_corpus_chain",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // THE FULL CORPUS-BUILD CHAIN as one lineage — the production
        // composition t13 sketches with three stages, run with all six:
        // quality (t09's Gopher gate) → near-dup keep-first (d06's
        // banded MinHash + exact-Jaccard verify, over SURVIVORS only —
        // dropped-by-quality docs must never veto a near-dup) →
        // decontamination (d08's width-4 eval-shingle rule: eval docs
        // leave the corpus, train docs sharing any eval shingle drop) →
        // token-budget mixture (t21's weighted per-domain quality-
        // ranked prefix) → token-level packing (t25's span table) →
        // seeded shuffle-shard (t22). The output is the per-stage
        // ACCOUNTING LEDGER — docs and tokens surviving each stage —
        // which is how a production corpus build is actually reviewed
        // (every stage's yield visible, no silent loss): stage 5's
        // token total must equal stage 4's (the tiling invariant,
        // now CROSS-stage) and stage 6's distinct (shard, pos) slot
        // count must equal its row count (the permutation is
        // collision-free). Scale shape: each stage's plan is its
        // carrier query's pinned plan; the chain adds only semi/anti
        // joins on doc_id between stages — at 100 TB the whole ledger
        // is one pass per stage over monotonically shrinking data.
        import graft.dedup.DedupQueries
        val docs = t.documents
        val nTok = size(split(col("text"), " ")).cast(LongType)

        val s1 = docs.filter(gopherKeep).persist()
        val dropped2 = DedupQueries.verifiedPairs(s1)
          .select(col("doc_b").as("doc_id")).distinct()
        val s2 = s1.join(dropped2, Seq("doc_id"), "left_anti").persist()

        val evalSh = docs.filter(col("doc_id") % 50 === 0)
          .select(DedupQueries.shingleRows(col("text"), 4).as("sh"))
          .distinct()
        val contaminated = s2.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"),
            DedupQueries.shingleRows(col("text"), 4).as("sh"))
          .join(broadcast(evalSh), Seq("sh"), "left_semi")
          .select("doc_id").distinct()
        val s3 = s2.filter(col("doc_id") % 50 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti").persist()

        val d4 = s3.select(col("doc_id"), col("source"), col("n_chars"),
          nTok.as("n_tokens"))
        val weights = d4.select(col("source")).distinct()
          .select(col("source"),
            (regexp_extract(col("source"), "([0-9]+)$", 1)
              .cast(LongType) % 3 + 1).as("wgt"))
        val tot = d4.agg(expr("sum(n_tokens) div 2").as("budget_total"))
        val wsum = weights.agg(sum(col("wgt")).as("wsum"))
        val budgets = weights.crossJoin(broadcast(tot)).crossJoin(broadcast(wsum))
          .select(col("source"),
            expr("(budget_total * wgt) div wsum").as("budget_tokens"))
        val w4 = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val s4 = d4.join(broadcast(budgets), "source")
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w4))
          .filter(col("cum_tokens") <= col("budget_tokens"))
          .select("doc_id", "n_tokens").persist()

        val L = 128L
        val w5 = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val spans = s4.select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            col("n_tokens"))
          .filter(col("n_tokens") > 0)
          .withColumn("st", coalesce(sum(col("n_tokens")).over(w5), lit(0L)))
          .withColumn("en", col("st") + col("n_tokens"))
          .withColumn("seq_id",
            explode(sequence(expr(s"st div $L"), expr(s"(en - 1) div $L"))))
          .select((least(col("en") - col("seq_id") * L, lit(L)) -
            greatest(col("st") - col("seq_id") * L, lit(0L))).as("n_tok_in_seq"))

        val shards = shuffleShard(s4)

        def acct(i: Long, name: String, rows: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          rows.select(lit(i).as("stage_id"), lit(name).as("stage"),
            col("n_rows"), col("n_tokens"))
        acct(1L, "quality", s1.agg(count(lit(1)).as("n_rows"),
            sum(nTok).as("n_tokens")))
          .unionByName(acct(2L, "neardup", s2.agg(count(lit(1)).as("n_rows"),
            sum(nTok).as("n_tokens"))))
          .unionByName(acct(3L, "decontaminate", s3.agg(count(lit(1)).as("n_rows"),
            sum(nTok).as("n_tokens"))))
          .unionByName(acct(4L, "mixture", s4.agg(count(lit(1)).as("n_rows"),
            sum(col("n_tokens")).as("n_tokens"))))
          .unionByName(acct(5L, "token_pack", spans.agg(count(lit(1)).as("n_rows"),
            sum(col("n_tok_in_seq")).as("n_tokens"))))
          .unionByName(acct(6L, "shuffle_shard", shards.agg(
            count(lit(1)).as("n_rows"),
            countDistinct(concat_ws(":", col("shard"), col("pos")))
              .as("n_tokens"))))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text, source, n_chars,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             |    CAST((length(t) - length(replace(t, ' the ', ''))) / 5
             |       + (length(t) - length(replace(t, ' a ', ''))) / 3
             |       + (length(t) - length(replace(t, ' of ', ''))) / 4 AS BIGINT) AS n_stop
             |  FROM (SELECT *, ' ' || text || ' ' AS t FROM documents)),
             |qk AS (
             |  SELECT doc_id, text, source, n_chars, n_tokens FROM base
             |  WHERE n_tokens >= 50 AND n_tokens <= 100000
             |    AND chars_ns >= n_tokens * 3 AND chars_ns <= n_tokens * 10
             |    AND n_uniq * 5 >= n_tokens AND n_stop >= 2),
             |shq AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(len(tk) - 2),
             |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM qk)
             |  WHERE len(tk) >= 3),
             |sig AS (
             |  SELECT doc_id,
             |    min(substring(md5('0:' || sh), 1, 8))  AS sig0,
             |    min(substring(md5('0:' || sh), 9, 8))  AS sig1,
             |    min(substring(md5('0:' || sh), 17, 8)) AS sig2,
             |    min(substring(md5('0:' || sh), 25, 8)) AS sig3,
             |    min(substring(md5('1:' || sh), 1, 8))  AS sig4,
             |    min(substring(md5('1:' || sh), 9, 8))  AS sig5,
             |    min(substring(md5('1:' || sh), 17, 8)) AS sig6,
             |    min(substring(md5('1:' || sh), 25, 8)) AS sig7
             |  FROM shq GROUP BY doc_id),
             |band AS (
             |  SELECT doc_id, sig0 || '|' || sig1 AS bh, 0 AS band_id FROM sig
             |  UNION ALL SELECT doc_id, sig2 || '|' || sig3, 1 FROM sig
             |  UNION ALL SELECT doc_id, sig4 || '|' || sig5, 2 FROM sig
             |  UNION ALL SELECT doc_id, sig6 || '|' || sig7, 3 FROM sig),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM band a JOIN band b
             |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
             |scnt AS (SELECT doc_id, count(*) AS n FROM shq GROUP BY doc_id),
             |inter AS (
             |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
             |  FROM cand c
             |  JOIN shq sa ON sa.doc_id = c.doc_a
             |  JOIN shq sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
             |  GROUP BY c.doc_a, c.doc_b),
             |ver AS (
             |  SELECT i.doc_b FROM inter i
             |  JOIN scnt ca ON ca.doc_id = i.doc_a
             |  JOIN scnt cb ON cb.doc_id = i.doc_b
             |  WHERE CAST(floor(i.n_inter * 10000.0 /
             |    (ca.n + cb.n - i.n_inter) + 0.5) AS BIGINT) >= 2000),
             |s2 AS (
             |  SELECT * FROM qk WHERE doc_id NOT IN (SELECT doc_b FROM ver)),
             |sh4e AS (
             |  SELECT DISTINCT
             |    unnest(list_transform(range(len(tk) - 3),
             |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
             |  FROM (SELECT string_split(text, ' ') AS tk FROM documents
             |        WHERE doc_id % 50 = 0)
             |  WHERE len(tk) >= 4),
             |cont AS (
             |  SELECT DISTINCT t.doc_id
             |  FROM (
             |    SELECT doc_id,
             |      unnest(list_transform(range(len(tk) - 3),
             |        i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
             |    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM s2
             |          WHERE doc_id % 50 <> 0)
             |    WHERE len(tk) >= 4) t
             |  JOIN sh4e e USING (sh)),
             |s3 AS (
             |  SELECT * FROM s2 WHERE doc_id % 50 <> 0
             |    AND doc_id NOT IN (SELECT doc_id FROM cont)),
             |w AS (
             |  SELECT source,
             |    CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 3 + 1 AS wgt
             |  FROM (SELECT DISTINCT source FROM s3)),
             |tot AS (
             |  SELECT CAST(CAST(sum(n_tokens) AS BIGINT) // 2 AS BIGINT) AS budget_total
             |  FROM s3),
             |wsum AS (SELECT CAST(sum(wgt) AS BIGINT) AS wsum FROM w),
             |budgets AS (
             |  SELECT w.source,
             |    CAST((t.budget_total * w.wgt) // s.wsum AS BIGINT) AS budget_tokens
             |  FROM w CROSS JOIN tot t CROSS JOIN wsum s),
             |ranked AS (
             |  SELECT d.doc_id, d.n_tokens, b.budget_tokens,
             |    sum(d.n_tokens) OVER (PARTITION BY d.source
             |      ORDER BY d.n_chars DESC, d.doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
             |  FROM s3 d JOIN budgets b USING (source)),
             |s4 AS (
             |  SELECT doc_id, n_tokens FROM ranked WHERE cum_tokens <= budget_tokens),
             |off AS (
             |  SELECT doc_id, doc_id % 8 AS shard, n_tokens,
             |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 8
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS BIGINT) AS st
             |  FROM s4 WHERE n_tokens > 0),
             |sp AS (
             |  SELECT st, st + n_tokens AS en,
             |    unnest(range(st // 128, (st + n_tokens - 1) // 128 + 1)) AS seq_id
             |  FROM off),
             |spans AS (
             |  SELECT CAST(least(en - seq_id * 128, 128)
             |       - greatest(st - seq_id * 128, 0) AS BIGINT) AS n_tok_in_seq
             |  FROM sp),
             |pri AS (
             |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS pri FROM s4),
             |shards AS (
             |  SELECT doc_id, pri,
             |    CAST(('0x' || substr(pri, 1, 8)) AS BIGINT) % 4 AS shard
             |  FROM pri),
             |pos AS (
             |  SELECT shard,
             |    row_number() OVER (PARTITION BY shard ORDER BY pri, doc_id) AS pos
             |  FROM shards)
             |SELECT 1 AS stage_id, 'quality' AS stage,
             |  count(*) AS n_rows, CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM qk
             |UNION ALL SELECT 2, 'neardup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s2
             |UNION ALL SELECT 3, 'decontaminate', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s3
             |UNION ALL SELECT 4, 'mixture', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s4
             |UNION ALL SELECT 5, 'token_pack', count(*), CAST(sum(n_tok_in_seq) AS BIGINT) FROM spans
             |UNION ALL SELECT 6, 'shuffle_shard', count(*),
             |  CAST(count(DISTINCT CAST(shard AS VARCHAR) || ':' || CAST(pos AS VARCHAR)) AS BIGINT)
             |  FROM pos""".stripMargin),
      "North star: the six-stage corpus-build chain as one lineage — per-stage yield ledger, cross-stage tiling invariant"))
}
