package graft.analysis

import graft.{GraftQuery, QueryPack}
import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Byte-pair-encoding tokenizer as Spark jobs (north star: a real LLM
  * pipeline packs sequences by BPE token count, not whitespace words —
  * upgrades t08/t14's whitespace proxy).
  *
  * Training is the classic Sennrich loop — count adjacent symbol pairs
  * over the word-frequency table, merge the argmax pair everywhere,
  * repeat — expressed as an iterative DataFrame job:
  *
  *   - the pair count each round is a distributed map-side-partial
  *     aggregation over the VOCABULARY relation (≪ corpus: at 100 TB the
  *     corpus→vocab word count is the only corpus-wide pass; every merge
  *     iteration touches vocab rows only);
  *   - the only driver-side materialization per round is the argmax pair
  *     (ONE row, like s12's probe ids), interpolated into the next
  *     round's merge expression as literals;
  *   - merge application is a greedy left-to-right fold expressed with
  *     the SAME accumulator-string algorithm on both engines — Spark
  *     `aggregate(slice(syms,2,…), syms[1], …)` ≡ DuckDB
  *     `list_reduce(syms, …)` — so the oracle REPLAYS training from the
  *     raw table via K unrolled CTE levels and must land on the identical
  *     merge table. Deterministic tie-break: (count DESC, left, right).
  *
  * Symbols are seeded as characters plus a word-terminal marker '_'
  * (documents.text is space-separated [a-z]+ words, so both are
  * unambiguous). K=8 merges, top-V=2000 vocabulary (cnt DESC, word ASC
  * tie-break) — V is the standard scale lever: the merge loop's cost is
  * bounded by V regardless of corpus size.
  */
object BpeQueries extends QueryPack {

  val K = 8
  val V = 2000
  val Budget = 512L

  /** Deterministic training-corpus sample — the 100 TB knob. Tokenizer
    * training never needs the full corpus (production BPE/unigram
    * vocabularies are trained on O(10 GB) samples; the merge statistics
    * converge long before that), and `wordCounts` is the ONLY
    * corpus-wide pass in this loop — so at scale you bound it here.
    * Systematic mod on the stable doc key (keep doc when
    * doc_id % denom == 0) rather than `sample()`: the chosen subset is
    * identical on every run, partitioning, and engine — which both
    * keeps a trained-on-sample vocabulary reproducible AND lets the
    * DuckDB oracle replay training over the exact same subset (the
    * earlier xxhash64-mod variant had the first property but not the
    * second: DuckDB has no xxhash64). The sampled word-frequency table
    * feeds the SAME train loop; nothing downstream changes. */
  def sampleDocs(docs: DataFrame, denom: Long): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(denom)) === 0)

  /** Sampling is the t19/t08b training DEFAULT (round-8 verdict item 4):
    * at 100 TB you would ALWAYS train the tokenizer on the sample, so
    * the engine's default path is the scale path, with the full corpus
    * behind an explicit knob (SPARK_GRAFT_BPE_FULL=1). The ENCODE side
    * (t08b's corpus packing) always runs over the full corpus — train
    * on the sample, apply everywhere is exactly the production shape.
    * OperatorInvariantsSpec pins merge-table equality between the two
    * modes on the fixture corpus; SCALE.md records the measured cost
    * crossover. */
  val SampleDenom: Long = 4L
  def fullCorpus: Boolean = sys.env.get("SPARK_GRAFT_BPE_FULL").contains("1")
  def trainingCorpus(docs: DataFrame): DataFrame =
    if (fullCorpus) docs else sampleDocs(docs, SampleDenom)
  private def sampleWhere: String =
    if (fullCorpus) "" else s" WHERE doc_id % $SampleDenom = 0"

  /** Corpus word frequencies, truncated to the top-V vocabulary. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(V)

  /** Seed symbol sequence: characters + terminal '_'. */
  def charSyms(words: DataFrame): DataFrame =
    words.withColumn("syms",
      expr("concat(transform(sequence(1, length(word)), i -> substring(word, i, 1)), array('_'))"))

  /** Greedy left-to-right application of merge (a,b) → ab: fold the
    * symbol list into an accumulator string (symbols space-joined; a
    * space can never occur inside a symbol), merging when the
    * accumulator's LAST symbol is `a` and the next is `b`. Exactly
    * mirrors the oracle's `list_reduce` lambda. */
  def applyMerge(a: String, b: String): Column =
    expr(s"""split(aggregate(slice(syms, 2, size(syms) - 1), element_at(syms, 1),
            |  (acc, x) -> CASE WHEN (acc = '$a' OR endswith(acc, ' $a')) AND x = '$b'
            |              THEN concat(substring(acc, 1, length(acc) - ${a.length}), '$a$b')
            |              ELSE concat(acc, ' ', x) END), ' ')""".stripMargin)

  /** Adjacent-pair explosion of the current symbol table. Words already
    * merged to ONE symbol contribute no pairs and must be filtered
    * BEFORE the transform — `sequence(1, 0)` goes *descending* (the
    * same quirk DedupQueries.shingles guards), so a 1-element syms
    * would hit element_at index 0 and throw under ANSI mode. The
    * oracle's `range(1, len)` is empty there, so the filter is also
    * what keeps the engines in lockstep. */
  private def pairCounts(cur: DataFrame): DataFrame =
    cur.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("cnt"))
      .groupBy("a", "b").agg(sum(col("cnt")).as("c"))

  /** Run the K-round training loop; returns (left, right, pairCount) in
    * merge order, plus the final encoded vocabulary (word, cnt, syms).
    *
    * `materializeVocab = false` skips the final-generation materialize
    * job AND releases its parent unmaterialized — the returned vocab
    * frame is persisted-but-empty-cached, so a consumer's FIRST action
    * over it recomputes the whole K-round merge lineage (one
    * vocab-sized projection chain — cheap, but not free). Opt out only
    * when the vocab is discarded (t19) or when the consumer was going
    * to recompute that lineage anyway (t08b, which re-derives the
    * vocab in one pass rather than hold the training cache live). */
  def train(docs: DataFrame,
            materializeVocab: Boolean = true): (Seq[(String, String, Long)], DataFrame) = {
    var cur = charSyms(wordCounts(docs)).persist()
    // The parent generation stays persisted until the CHILD's first
    // action (next round's pair-count argmax) has populated the child's
    // cache as a side effect — one job per merge round instead of the
    // previous argmax + count() pair (the count existed only to
    // materialize the child before releasing the parent; the argmax
    // does that for free).
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var round = 0
    var exhausted = false
    while (round < K && !exhausted) {
      round += 1
      // headOption: a corpus can run out of adjacent pairs before K
      // merges (every word collapsed to one symbol) — stop training
      // rather than crash; the t19 oracle replays K full rounds, so the
      // registry corpus must (and does) have vocab ≫ K
      val top = pairCounts(cur)
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect().headOption
      prev.foreach(_.unpersist()); prev = None
      top match {
        case None => exhausted = true
        case Some(row) =>
          val (a, b, c) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((a, b, c))
          val next = cur.withColumn("syms", applyMerge(a, b)).persist()
          prev = Some(cur)
          cur = next
      }
    }
    // The final generation's cache is only populated once a caller runs
    // an action over `cur`; its parent must therefore stay persisted
    // until then (unpersisting it here would make a vocab consumer's
    // first action recompute the full merge lineage). t19 consumes only
    // the merge list, so it opts out and skips the materialize job.
    prev.foreach { p => if (materializeVocab) cur.count(); p.unpersist() }
    (merges.toSeq, cur)
  }

  /** Oracle CTE chain replaying training: s0 (char symbols) then K
    * levels of (pair count → argmax merge → fold-apply). */
  private def oracleCtes: String = {
    val sb = new StringBuilder(
      s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents$sampleWhere),
        |wc AS (SELECT word, count(*) AS cnt FROM tok WHERE length(word) > 0
        |       GROUP BY 1 ORDER BY cnt DESC, word LIMIT 2000),
        |s0 AS (SELECT word, cnt,
        |  list_append(list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)), '_') AS syms
        |  FROM wc)""".stripMargin)
    for (i <- 1 to K) {
      sb ++= s""",
        |p$i AS (SELECT p[1] AS a, p[2] AS b, sum(cnt) AS c FROM (
        |    SELECT cnt, unnest(list_transform(range(1, len(syms)), j -> [syms[j], syms[j+1]])) AS p
        |    FROM s${i - 1}) GROUP BY 1, 2),
        |m$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
        |s$i AS (SELECT word, cnt, string_split(list_reduce(syms,
        |      (acc, x) -> CASE WHEN (acc = m.a OR ends_with(acc, ' ' || m.a)) AND x = m.b
        |                  THEN substr(acc, 1, length(acc) - length(m.a)) || m.a || m.b
        |                  ELSE acc || ' ' || x END), ' ') AS syms
        |    FROM s${i - 1}, m$i m)""".stripMargin
    }
    sb.toString
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "t19_bpe_train",
      (spark, dir) => {
        val spark2 = spark
        import spark2.implicits._
        val t = Tables(spark, dir)
        val (merges, vocab) =
          train(trainingCorpus(t.documents), materializeVocab = false)
        vocab.unpersist()
        merges.zipWithIndex.map { case ((a, b, c), i) =>
          (i + 1, a, b, a + b, c)
        }.toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_cnt")
      },
      Some(oracleCtes + "\n" + (1 to K).map { i =>
        s"SELECT $i AS merge_rank, a AS left_sym, b AS right_sym, a || b AS merged, CAST(c AS BIGINT) AS pair_cnt FROM m$i"
      }.mkString("\nUNION ALL ") + "\nORDER BY merge_rank"),
      "North star: BPE tokenizer training as an iterative Spark job — oracle replays the merges"),

    GraftQuery(
      "t08b_bpe_pack",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // t08's sequence packing re-expressed on REAL token counts: each
        // doc's length is the sum of its words' BPE-encoded symbol
        // counts (broadcast vocab join; out-of-vocab words fall back to
        // character count). Packing stays shard-local — the
        // scale-correct distributed form (see t08).
        // train on the sample, ENCODE the full corpus — the production
        // tokenizer shape (the vocab CTE below inherits the sampled
        // training chain; dtok stays FROM documents unsampled)
        // materializeVocab = false: this consumer rebuilds the vocab in
        // one cheap vocab-sized lineage pass anyway (the unpersist note
        // below predates the flag), so the train-side count() whose only
        // purpose was materializing the final generation was a wasted
        // job — 9 jobs -> 8, t19's opt-out applied here too.
        val (_, vocab) = train(trainingCorpus(t.documents),
          materializeVocab = false)
        val nTok = vocab.select(col("word"), size(col("syms")).as("n_tok"))
        val toks = t.documents
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
        val enc = toks.join(broadcast(nTok), Seq("word"), "left")
          .groupBy("doc_id", "shard")
          .agg(sum(coalesce(col("n_tok"), length(col("word")) + 1))
            .cast(LongType).as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val binned = enc.withColumn("bin",
          floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / Budget)
            .cast(LongType))
        vocab.unpersist() // lineage recomputes in one cheap vocab-sized pass
        binned.groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_tokens")).as("n_tokens"),
               min(col("doc_id")).as("first_doc"),
               max(col("doc_id")).as("last_doc"))
      },
      Some(oracleCtes +
        s""",
           |vocab AS (SELECT word, len(syms) AS n_tok FROM s$K),
           |dtok AS (SELECT doc_id, doc_id % 8 AS shard,
           |    unnest(string_split(text, ' ')) AS word FROM documents),
           |dtok2 AS (SELECT doc_id, shard, word FROM dtok WHERE length(word) > 0),
           |enc AS (SELECT doc_id, shard,
           |    CAST(sum(coalesce(v.n_tok, length(word) + 1)) AS BIGINT) AS n_tokens
           |  FROM dtok2 LEFT JOIN vocab v USING (word) GROUP BY 1, 2),
           |binned AS (SELECT doc_id, shard, n_tokens,
           |    CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / $Budget) AS BIGINT) AS bin
           |  FROM enc)
           |SELECT shard, bin, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM binned GROUP BY 1, 2""".stripMargin),
      "North star: t08 sequence packing on real BPE token counts (broadcast vocab join)"))
}
