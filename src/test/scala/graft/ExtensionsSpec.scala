package graft

import graft.core.GraftExtensions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQL-function registration + idempotent sink semantics. */
class ExtensionsSpec extends SparkTestBase {

  test("cosine_sim, rolling_hash_min, vector_avg callable from SQL text") {
    GraftExtensions.register(spark)
    graft.core.Tables(spark, sfDir).registerAll()
    val r = spark.sql(
      """SELECT cosine_sim(embedding, embedding) AS self_sim,
        |       rolling_hash_min(CAST(vec_id AS STRING), 2) AS rh
        |FROM embeddings LIMIT 5""".stripMargin).collect()
    assert(r.length == 5)
    r.foreach { row =>
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-9)
      assert(row.getLong(1) >= 0L)
    }
    val va = spark.sql(
      "SELECT label, vector_avg(embedding) AS c FROM embeddings GROUP BY label").collect()
    assert(va.length == 10)
    va.foreach(row => assert(row.getSeq[Double](1).length == 64))
  }

  test("SQL functions raise WRONG_NUM_ARGS analysis errors on bad arity") {
    GraftExtensions.register(spark)
    graft.core.Tables(spark, sfDir).registerAll()
    Seq("SELECT hamming_dist(text) FROM documents",
        "SELECT hamming_dist(text, text, text) FROM documents",
        "SELECT cosine_sim(embedding) FROM embeddings",
        "SELECT zorder(doc_id) FROM documents",
        "SELECT rolling_hash_min() FROM documents").foreach { sql =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }
      assert(e.getCondition != null && e.getCondition.startsWith("WRONG_NUM_ARGS"),
        s"expected WRONG_NUM_ARGS for '$sql', got ${e.getCondition}: ${e.getMessage}")
    }
  }

  test("ngrams generator: matches composed shingles, empty under n words") {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq((1L, "a b c d"), (2L, "a b"), (3L, "x x x x"), (4L, null: String))
      .toDF("id", "txt").createOrReplaceTempView("ngrams_probe")
    val rows = spark.sql(
      """SELECT id, ngram FROM ngrams_probe
        |LATERAL VIEW ngrams(txt, 3) g AS ngram""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    // id 1: "a b c","b c d"; id 2: too short; id 3: distinct → "x x x";
    // id 4: null text → no rows
    assert(rows.toSeq == Seq((1L, "a b c"), (1L, "b c d"), (3L, "x x x")))
    // non-literal width must be rejected (schema would be row-dependent)
    val e = intercept[Exception] {
      spark.sql("SELECT ngrams(txt, CAST(id AS INT)) FROM ngrams_probe").collect()
    }
    assert(e.getMessage.contains("literal"), s"unexpected: ${e.getMessage}")
  }

  test("ShingleArray + rowSignatures: match the composed forms on adversarial texts") {
    import spark.implicits._
    import graft.dedup.DedupQueries
    // adversarial shapes: trailing/leading/double space (the split(" ", -1)
    // edge), exactly-w words, <w words, empty, null, repeats (distinct)
    val texts = Seq("a b c d e", "a b ", " a b", "a  b", "", null,
      "x x x x x", "a b c", "one two three four five six seven",
      "tok1 tok2  tok3 tok4 ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // 1) native shingle ARRAY == composed expression stack, row-for-row
    val native = df.select(col("doc_id"),
      DedupQueries.shingles(col("text")).as("shs")).collect()
    val composed = df.select(col("doc_id"),
      ExtensionsSpec.shinglesComposed(col("text")).as("shs")).collect()
    assert(native.map(_.toString).toSeq == composed.map(_.toString).toSeq)
    // 2) explode(native array) == ngrams generator rows (ADVICE r18:
    //    the generator equality needs the whitespace edges covered too)
    val exploded = df.select(col("doc_id"),
        explode(DedupQueries.shingles(col("text"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val genRows = df.select(col("doc_id"),
        DedupQueries.shingleRows(col("text")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(exploded == genRows)
    // 3) rowSignatures' digest-sliced sig0..7 == per-permutation
    //    array_min(transform(shs, hashFn(j, _))) — the form it replaced
    val shs = df.select(col("doc_id"),
      DedupQueries.shingles(col("text")).as("shs"))
    val viaDigests = DedupQueries.rowSignatures(shs)
      .drop("shs").orderBy("doc_id").collect()
    val viaPerJ = shs.select(
        col("doc_id") +: (0 until DedupQueries.numHashes).map(j =>
          array_min(transform(col("shs"),
            s => DedupQueries.hashFn(j, s))).as(s"sig$j")): _*)
      .orderBy("doc_id").collect()
    assert(viaDigests.map(_.toString).toSeq == viaPerJ.map(_.toString).toSeq)
  }

  test("ChunkArray: matches the composed chunk kernel, null edges included") {
    import spark.implicits._
    import graft.dedup.DedupQueries
    // edges: empty text (split -> [""]), exact multiples of 8, partial
    // last chunk, single word, null text (split -> NULL array), and a
    // words array with interior nulls (array_join skips them)
    val texts = Seq("", "a", (1 to 8).map("w" + _).mkString(" "),
      (1 to 9).map("w" + _).mkString(" "), (1 to 17).map("w" + _).mkString(" "),
      null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val native = df.select(col("doc_id"),
      DedupQueries.chunkArray(col("ws")).as("c")).collect()
    val composed = df.select(col("doc_id"),
      ExtensionsSpec.chunkArrayComposed(col("ws")).as("c")).collect()
    assert(native.map(_.toString).toSeq == composed.map(_.toString).toSeq)
    val withNulls = Seq((0L, Seq[String]("a", null, "b", "c"))).toDF("doc_id", "ws")
    val n2 = withNulls.select(DedupQueries.chunkArray(col("ws"))).collect()
    val c2 = withNulls.select(ExtensionsSpec.chunkArrayComposed(col("ws"))).collect()
    assert(n2.map(_.toString).toSeq == c2.map(_.toString).toSeq)
  }

  test("rolling_hash_min tolerates non-positive windows from SQL") {
    GraftExtensions.register(spark)
    graft.core.Tables(spark, sfDir).registerAll()
    val r = spark.sql(
      "SELECT rolling_hash_min(text, -3) AS rh FROM documents LIMIT 3").collect()
    r.foreach(row => assert(row.getLong(0) == 0L))
  }

  test("SelfCosineFold preserves NULL for nullable self-similarity") {
    import spark.implicits._
    val df = Seq(Some(Array(1.0, 2.0)), None).toDF("v")
      .select(graft.functions.CosineSim.cosineFast(col("v"), col("v")).as("c"))
    val folded = graft.plans.SelfCosineFold(df.queryExecution.analyzed)
    // the fold must be null-guarded (If(IsNull…)) — not a bare literal
    assert(folded.expressions.exists(_.exists {
      case _: org.apache.spark.sql.catalyst.expressions.If => true
      case _ => false
    }), s"nullable fold lost the null guard:\n$folded")
  }

  test("SelfCosineFold rule folds cosine_sim(x, x) to a literal") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(graft.functions.CosineSim
        .cosineFast(col("embedding"), col("embedding")).as("c"))
    val folded = graft.plans.SelfCosineFold(df.queryExecution.analyzed)
    assert(folded.expressions.exists(_.exists {
      case org.apache.spark.sql.catalyst.expressions.Literal(1.0, _) => true
      case _ => false
    }), s"rule did not fold:\n$folded")
  }

  test("idempotent foreachBatch writer: replaying a batch leaves the sink unchanged") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_idem").toString
    // Idempotent foreachBatch writer (SURVEY §7 hard part 2): each
    // micro-batch overwrites its OWN `batch_id=` partition (dynamic
    // partition overwrite), so a replayed batch after crash-recovery
    // rewrites identical data instead of appending duplicates.
    val writer = (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
      graft.core.GraftSession.withConf(batch.sparkSession,
          "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id").parquet(out)
      }
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    writer(batch, 7L)
    val first = spark.read.parquet(out).collect().map(_.toString).sorted
    writer(batch, 7L) // crash-recovery replay of the same batch
    val second = spark.read.parquet(out).collect().map(_.toString).sorted
    assert(first.sameElements(second), "replay duplicated rows")
    // a new batch id adds its own partition without touching batch 7
    writer(Seq((3L, "c")).toDF("id", "v"), 8L)
    assert(spark.read.parquet(out).count() == 3)
  }
}

/** SQL-tier binding of the frequent-items aggregate (q78's summary as a
  * text-tier function) + the t21 budget invariant that must survive any
  * future edit of the mixture packer. */
class RoundEightExtensionsSpec extends SparkTestBase {

  test("freq_sketch callable from SQL text; top entry is the planted mode") {
    graft.core.GraftExtensions.register(spark)
    graft.core.Tables(spark, sfDir).registerAll()
    // 'doc' appears in essentially every row of the synthetic corpus —
    // with k=64 over a 31-word vocab the summary is exact, so the top
    // entry must be the corpus's true modal word
    val r = spark.sql(
      """SELECT freq_sketch(word) AS sk FROM (
        |  SELECT explode(split(text, ' ')) AS word FROM documents
        |) WHERE length(word) > 0""".stripMargin).head()
    val entries = r.getSeq[org.apache.spark.sql.Row](0)
    assert(entries.nonEmpty && entries.length <= 64)
    val exact = spark.sql(
      """SELECT first(word) FROM (
        |  SELECT word, count(*) AS c FROM (
        |    SELECT explode(split(text, ' ')) AS word FROM documents
        |  ) WHERE length(word) > 0 GROUP BY word ORDER BY c DESC, word LIMIT 1
        |)""".stripMargin).head().getString(0)
    assert(entries.head.getString(0) === exact)
  }

  test("conf hygiene: query bodies leave no session-conf residue (withConf sweep)") {
    // the two query-scoped conf flips in the tree — q80 (scripting) and
    // src05 (broadcast off). Running each must leave the session conf
    // exactly as found; a leak here poisons every later query on the
    // shared session (round-8 verdict item 7).
    val keys = Seq("spark.sql.scripting.enabled",
                   "spark.sql.autoBroadcastJoinThreshold")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    assert(SparkEntry.queries("q80_sql_scripting")(spark, sfDir).count() > 0)
    assert(SparkEntry.queries("src05_bucketed_join")(spark, sfDir).count() > 0)
    val after = keys.map(k => k -> spark.conf.getOption(k))
    assert(after === before,
      s"session-conf residue: before=$before after=$after")
  }

  test("session parity: the test session holds every conf GraftSession.builder sets") {
    // the builder's collected options: Spark-private, public in bytecode
    val set = Class.forName("org.apache.spark.sql.SparkSessionBuilder").getMethod("options")
      .invoke(graft.core.GraftSession.builder())
      .asInstanceOf[scala.collection.Map[String, String]]
    val chosen = Set("spark.master", "spark.sql.shuffle.partitions", "spark.sql.warehouse.dir")
    val drift = set.toSeq.filterNot { case (k, _) => chosen(k) }
      .collect { case (k, v) if !spark.conf.getOption(k).contains(v) => s"$k: builder=$v test=${spark.conf.getOption(k)}" }
    assert(set.contains("spark.sql.autoBroadcastJoinThreshold"))
    assert(drift.isEmpty, drift.mkString("; "))
  }

  test("withConf restores a previously-unset key to unset and rethrows body errors") {
    val key = "spark.sql.graft.probe.conf"
    assert(spark.conf.getOption(key).isEmpty)
    graft.core.GraftSession.withConf(spark, key -> "x") {
      assert(spark.conf.get(key) === "x")
    }
    assert(spark.conf.getOption(key).isEmpty, "unset key not restored")
    // restoration must also run on the error path
    intercept[RuntimeException] {
      graft.core.GraftSession.withConf(spark, key -> "y") {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.getOption(key).isEmpty, "error path leaked the conf")
  }

  test("t21 invariant: no domain ever exceeds its token budget") {
    val rows = SparkEntry.queries("t21_mixture_pack")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens_kept") <= r.getAs[Long]("budget_tokens"),
        s"budget exceeded for ${r.getAs[String]("source")}")
      assert(r.getAs[Long]("n_docs_kept") > 0)
    }
  }
}

object ExtensionsSpec {
  /** The composed-expression form `DedupQueries.shingles` replaced, kept
    * as the differential-test witness: Spark's `sequence(0, n)` would go
    * *descending* for n<0, hence the size guard. */
  def shinglesComposed(text: Column, w: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) >= w,
      array_distinct(transform(sequence(lit(0), size(toks) - w),
        i => concat_ws(" ", slice(toks, i + 1, lit(w))))))
      .otherwise(array())
  }

  /** The composed-expression form `DedupQueries.chunkArray` replaced,
    * kept as the differential-test witness. */
  def chunkArrayComposed(ws: Column): Column =
    transform(
      sequence(lit(0), ((size(ws) - 1) / lit(8)).cast("int")),
      i => array_join(slice(ws, i * 8 + 1, lit(8)), " "))
}
