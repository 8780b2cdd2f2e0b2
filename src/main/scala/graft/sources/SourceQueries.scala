package graft.sources

import graft.{GraftQuery, QueryPack}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Source-format tier (SURVEY §2 S2 + format breadth): labeled-review ingestion with the
  * reference's exact data shape — header row, quoted fields with
  * embedded newlines, and label codes that include U+2212 minus signs
  * as exported by some tools (producer.py:44, train_absa_model.py:97,
  * data/test_data.csv). The decode must null-guard those codes
  * (try_cast), like the reference's pandas path.
  */
object SourceQueries extends QueryPack {

  /** src25's per-JVM warehouse: the catalog plugin instance is cached
    * by name with its warehouse option, so the warehouse is fixed for
    * the JVM and each run uses a fresh table name instead. */
  private lazy val src25Warehouse: String =
    graft.streaming.Streams.dataDir("graft_sqlcat_wh_")
  private val src25Runs = new java.util.concurrent.atomic.AtomicInteger()

  /** The fixture ships on the main classpath so both the engine and the
    * DuckDB oracle read THE SAME file. Under a plain classes dir the
    * resource IS a file; under `sbt run` the classpath is a packaged jar
    * (`...jar!/...` — not a readable path for Spark or DuckDB), so
    * materialize the stream to a STABLE path once per JVM. The path must
    * outlive this JVM (no deleteOnExit, no random suffix): the oracle SQL
    * embeds it, and the DuckDB checker runs in a separate process after
    * Spark exits. */
  lazy val fixturePath: String = {
    val url = getClass.getResource("/reviews_fixture.csv")
    if (url != null && url.getProtocol == "file") url.getPath
    else {
      val dir = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_fixtures")
      java.nio.file.Files.createDirectories(dir)
      val tmp = dir.resolve("reviews_fixture.csv")
      val in = getClass.getResourceAsStream("/reviews_fixture.csv")
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toString
    }
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "csv01_labeled_reviews",
      (spark, _) => {
        // S2 + M1: header/multiLine CSV → try_cast label codes → decoded
        // label distribution. Independent of sfDir by design: the CSV
        // tier reads the training-data fixture, not the parquet tables.
        spark.read
          .option("header", "true")
          .option("multiLine", "true")
          .csv(fixturePath)
          .select(expr("try_cast(Price AS INT)").as("price_code"),
                  length(col("Review")).as("review_len"))
          .select(
            when(col("price_code").isNull, "NONE")
              .when(col("price_code") === 0, "NEU")
              .when(col("price_code") === 1, "POS")
              .otherwise("NEG").as("price_label"),
            col("review_len"))
          .groupBy("price_label")
          .agg(count(lit(1)).as("n_reviews"),
               sum(col("review_len")).as("sum_review_len"))
      },
      Some(s"""SELECT
              |  CASE WHEN TRY_CAST(Price AS INT) IS NULL THEN 'NONE'
              |       WHEN TRY_CAST(Price AS INT) = 0 THEN 'NEU'
              |       WHEN TRY_CAST(Price AS INT) = 1 THEN 'POS'
              |       ELSE 'NEG' END AS price_label,
              |  count(*) AS n_reviews,
              |  CAST(sum(length(Review)) AS BIGINT) AS sum_review_len
              |FROM read_csv('$fixturePath', header = true,
              |              all_varchar = true)
              |GROUP BY 1""".stripMargin),
      "S2/M1: header+multiline CSV ingest, null-guarded label decode"),

    GraftQuery(
      "src01_orc_roundtrip",
      (spark, dir) => {
        // Format breadth: the events table written as ORC and read back
        // must aggregate identically to the parquet original — proves
        // the columnar write→read round-trip (type mapping, nulls,
        // timestamps) for the second columnar format Spark ships.
        val out = graft.streaming.Streams.dataDir("graft_orc_")
        val events = graft.core.Tables(spark, dir).events
        events.write.mode("overwrite").orc(out)
        spark.read.orc(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
               graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY 1""".stripMargin),
      "S-format: ORC write→read round-trip ≡ parquet aggregate"),

    GraftQuery(
      "src02_jsonl_roundtrip",
      (spark, dir) => {
        // JSON-lines round-trip with an explicit read schema (schema
        // inference over 100 TB of JSON is a full extra scan — always
        // declare the schema at scale). Timestamps survive via ISO
        // serialization under the UTC session zone.
        val out = graft.streaming.Streams.dataDir("graft_jsonl_")
        val events = graft.core.Tables(spark, dir).events
        events.write.mode("overwrite").json(out)
        spark.read.schema(events.schema).json(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
               graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events GROUP BY 1""".stripMargin),
      "S-format: JSON-lines write→read round-trip with declared schema"),

    GraftQuery(
      "src03_partitioned_write",
      (spark, dir) => {
        // Hive-style partitioned layout round-trip: write events
        // partitioned by day, read ONE day back through the partition
        // filter. At 100 TB this is the difference between scanning a
        // table and scanning 1/30th of it — the day predicate prunes at
        // the directory listing, before any parquet footer is opened
        // (ScaleToolsSpec pins the scanned-file metrics; this entry pins
        // the values against the oracle).
        val out = graft.streaming.Streams.dataDir("graft_part_")
        val events = graft.core.Tables(spark, dir).events
          .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        events.write.mode("overwrite").partitionBy("day").parquet(out)
        spark.read.parquet(out)
          .filter(col("day") === "2024-01-05")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
               graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events
             |WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-05'
             |GROUP BY 1""".stripMargin),
      "S-layout: day-partitioned write → partition-pruned single-day read ≡ oracle"),

    GraftQuery(
      "src04_sorted_layout",
      (spark, dir) => {
        // Row-group-level twin of src03's directory pruning: write the
        // fact sorted by ship date WITHIN partitions, so every parquet
        // row group carries a tight min/max on the sort key and a date
        // predicate prunes row groups from footer stats alone. At 100 TB
        // this is how a non-partitioned fact still reads ~one quarter
        // instead of the whole table (directory partitioning by a
        // second key stays available — the two compose). A small
        // parquet.block.size forces many row groups even at test SF so
        // the skipping is real, not vacuous (ScaleToolsSpec pins the
        // rows-read metric; this entry pins the values).
        //
        // Two silent stats-killers to dodge: (1) Spark's INT96 default
        // writes timestamps with NO parquet min/max stats at all — the
        // engine session sets outputTimestampType=TIMESTAMP_MICROS
        // (GraftSession); (2) TIMESTAMP_NTZ predicates are not
        // convertible to parquet FilterPredicates, so the sort key is
        // cast to a session-TZ (UTC) timestamp before the write.
        val out = graft.streaming.Streams.dataDir("graft_sorted_")
        graft.core.Tables(spark, dir).lineitem
          .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
          .repartition(4)
          .sortWithinPartitions("l_shipdate")
          .write.mode("overwrite")
          .option("parquet.block.size", (128 * 1024).toString)
          .parquet(out)
        spark.read.parquet(out)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("l_shipdate") <  lit("1996-04-01").cast("timestamp"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
               graft.functions.Canon.sumCents(col("l_extendedprice")).as("sum_base_cents"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
             |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate <  TIMESTAMP '1996-04-01'
             |GROUP BY 1""".stripMargin),
      "S-layout: sort-within-partitions write → row-group stats-pruned range read ≡ oracle"),

    GraftQuery(
      "src05_bucketed_join",
      (spark, dir) => {
        // Bucketed co-located join: both fact tables written bucketBy the
        // join key, so the sort-merge join consumes bucket files directly
        // — NO pre-join exchange on either side (ScaleToolsSpec pins the
        // plan property; this entry pins the values). At 100 TB this is
        // the difference between re-shuffling both fact tables on every
        // join and shuffling neither: the bucketing IS the shuffle, paid
        // once at write time and amortized over every downstream join on
        // that key. Broadcast is disabled for the join so the co-location
        // (not a small-side shortcut) is what's exercised.
        val t = graft.core.Tables(spark, dir)
        t.lineitem.write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("src05_li")
        t.orders.write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("src05_o")
        graft.core.GraftSession.withConf(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          spark.table("src05_li")
            .join(spark.table("src05_o"), col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n_rows"),
                 graft.functions.Canon.sumCents(col("l_extendedprice")).as("sum_base_cents"))
            // force the plan (and the bucket-scan) while the conf holds
            .localCheckpoint()
        }
      },
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1""".stripMargin),
      "S-layout: bucketed write → co-located sort-merge join with zero pre-join exchanges"),

    GraftQuery(
      "src06_zorder_layout",
      (spark, dir) => {
        // Z-order layout: interleave the bits of TWO keys into one sort
        // value, so row-group min/max stats prune range predicates on
        // EITHER (or both) dimensions — the lakehouse answer to "sorted
        // helps only the leading column". The interleave is a pure
        // codegen'd HOF fold (no UDF); the 2-D box query reads a few row
        // groups instead of the table (ScaleToolsSpec pins scan metrics
        // vs a single-key sort; this entry pins the values).
        val out = graft.streaming.Streams.dataDir("graft_zorder_")
        // Native codegen Morton interleave of the low 20 bits of both
        // keys (covers l_orderkey ≤ 150 k at sf0.1 with headroom;
        // truncated high bits would silently fold distant key ranges
        // onto the same z prefix and break the clustering). The HOF-fold
        // equivalent is spec-pinned identical in ExpressionsSpec.
        val z = graft.functions.ZOrder.zorder(col("l_partkey"), col("l_orderkey"))
        graft.core.Tables(spark, dir).lineitem
          .withColumn("zval", z)
          // range-partition THEN sort: files don't overlap in z, so the
          // layout stays globally clustered while every writer works in
          // parallel (repartition(1) + sort would single-thread the write)
          .repartitionByRange(4, col("zval"))
          .sortWithinPartitions("zval")
          .write.mode("overwrite")
          .option("parquet.block.size", (64 * 1024).toString)
          .option("parquet.block.size.row.check.min", "100")
          .option("parquet.block.size.row.check.max", "100")
          .parquet(out)
        spark.read.parquet(out)
          .filter(col("l_partkey") >= 100 && col("l_partkey") < 300 &&
                  col("l_orderkey") >= 200 && col("l_orderkey") < 600)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
               sum(col("l_quantity")).cast(LongType).as("sum_qty"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
             |FROM lineitem
             |WHERE l_partkey >= 100 AND l_partkey < 300
             |  AND l_orderkey >= 200 AND l_orderkey < 600
             |GROUP BY 1""".stripMargin),
      "S-layout: Z-order (bit-interleaved) sort → row-group pruning on BOTH box dimensions"),

    GraftQuery(
      "src07_bad_records",
      (spark, dir) => {
        // Malformed-input robustness: a 100 TB JSON feed ALWAYS contains
        // broken lines, and the pipeline must quarantine them without
        // failing the job or silently dropping good rows. Every 13th
        // event is written as a truncated JSON line; the PERMISSIVE read
        // routes them to _corrupt_record, and the audit proves the
        // good/bad split matches the planted pattern exactly — so no
        // good row was misclassified and no bad row parsed. (At scale
        // the same read runs with badRecordsPath for a quarantine
        // directory; FAILFAST is the validation-job mode.)
        val out = graft.streaming.Streams.dataDir("graft_badrec_")
        val events = graft.core.Tables(spark, dir).events
        events.select(
            when(col("event_id") % 13 === 0,
              concat(lit("{\"event_id\":"), col("event_id"))) // truncated
              .otherwise(to_json(struct(events.columns.map(col): _*)))
              .as("value"))
          .write.mode("overwrite").text(out)
        val schema = org.apache.spark.sql.types.StructType(
          events.schema.fields :+
            org.apache.spark.sql.types.StructField("_corrupt_record",
              org.apache.spark.sql.types.StringType))
        // Spark refuses a query whose plan touches ONLY the corrupt
        // column of an unparsed scan; materialize once (bounded here —
        // production quarantines via badRecordsPath instead)
        val parsed = spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(out)
          .cache()
        parsed.agg(
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_bad"),
          sum(when(col("_corrupt_record").isNull,
            graft.functions.Canon.cents(col("value"))).otherwise(0L))
            .as("sum_value_cents_good"))
      },
      Some("""SELECT
             |  CAST(sum(CASE WHEN event_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
             |  CAST(sum(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
             |  CAST(sum(CASE WHEN event_id % 13 <> 0
             |    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
             |    AS sum_value_cents_good
             |FROM events""".stripMargin),
      "S-robustness: PERMISSIVE corrupt-record quarantine ≡ the planted bad-line pattern"),

    GraftQuery(
      "src08_schema_evolution",
      (spark, dir) => {
        // Schema EVOLUTION across a table's file history — the other
        // schema-drift failure mode (round 8's theme: events.ts changed
        // spelling under the catalog). A 100 TB lake table accretes
        // columns over years; old files simply lack them. Plant exactly
        // that: batch v1 writes the narrow schema, batch v2 adds
        // `value2`, and the read must union-by-name with nulls for the
        // missing column — Spark's mergeSchema scan (schema reconciled
        // across ALL file footers, not the first one sampled). The
        // audit proves no row was dropped, v1 rows carry NULL value2,
        // and v2's values survive exactly. At scale mergeSchema's
        // footer sweep is the cost knob — a production table pins the
        // merged schema in a catalog instead; the SCAN contract is the
        // same, which is what this query verifies.
        val out = graft.streaming.Streams.dataDir("graft_schevo_")
        val events = graft.core.Tables(spark, dir).events
        val half = events.agg(expr("max(event_id) div 2")).head().getLong(0)
        events.filter(col("event_id") <= half)
          .select(col("event_id"), col("event_type"), col("value"))
          .write.mode("overwrite").parquet(s"$out/batch=v1")
        events.filter(col("event_id") > half)
          .select(col("event_id"), col("event_type"), col("value"),
            graft.functions.Canon.cents(col("value") * 2).as("value2_cents"))
          .write.mode("overwrite").parquet(s"$out/batch=v2")
        spark.read.option("mergeSchema", "true").parquet(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
               sum(when(col("value2_cents").isNull, 1L).otherwise(0L)).as("n_legacy"),
               sum(coalesce(col("value2_cents"), lit(0L))).as("sum_value2_cents"))
      },
      Some("""WITH half AS (SELECT CAST(max(event_id) // 2 AS BIGINT) AS h FROM events)
             |SELECT event_type, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN event_id <= h THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
             |  CAST(sum(CASE WHEN event_id > h
             |    THEN CAST(floor(value * 2 * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
             |    AS sum_value2_cents
             |FROM events CROSS JOIN half
             |GROUP BY event_type""".stripMargin),
      "S-evolution: mergeSchema union-by-name read over a column-accreting file history"),

    GraftQuery(
      "src09_compaction",
      (spark, dir) => {
        // SMALL-FILES COMPACTION — the lake maintenance job streaming
        // ingest makes mandatory: micro-batches leave a litter of tiny
        // files (64 planted here), and every later scan pays per-file
        // open + footer + task-scheduling cost. The compactor rewrites
        // them into a few range-clustered files (repartitionByRange +
        // sortWithinPartitions — same recipe as src04, so compaction
        // RESTORES row-group pruning that ingest order destroyed, and
        // writers stay parallel: one task per output file, no
        // single-threaded coalesce(1)). The audit proves compaction is
        // content-neutral — row count, value checksum, and key census
        // all survive — plus the 64→4 file collapse itself. At 100 TB
        // this runs per partition-dir, bin-packing to a target file
        // size; the per-dir plan is exactly this one.
        val out = graft.streaming.Streams.dataDir("graft_compact_")
        val small = s"$out/small"
        val compacted = s"$out/compacted"
        val events = graft.core.Tables(spark, dir).events
        events.repartition(64).write.mode("overwrite").parquet(small)
        spark.read.parquet(small)
          .repartitionByRange(4, col("ts"), col("event_id"))
          .sortWithinPartitions("ts", "event_id")
          .write.mode("overwrite").parquet(compacted)
        def nFiles(p: String): Long = new java.io.File(p).listFiles()
          .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .toLong
        // the file-collapse audit is a BOOLEAN, not an exact count:
        // repartitionByRange's sampled boundaries may leave an output
        // range empty on small/skewed inputs, and an empty partition
        // writes no file — pinning files_after = 4 would turn a
        // data-size artifact into a false failure (round-8 advice)
        spark.read.parquet(compacted).agg(
            count(lit(1)).as("n_rows"),
            sum(graft.functions.Canon.cents(col("value"))).as("sum_value_cents"),
            sum(col("event_id")).as("sum_event_id"),
            countDistinct(col("event_id")).as("n_distinct_ids"))
          .select(col("n_rows"), col("sum_value_cents"), col("sum_event_id"),
            col("n_distinct_ids"),
            lit(nFiles(small)).as("files_before"),
            lit(nFiles(compacted) <= 4L && nFiles(compacted) < nFiles(small))
              .as("compacted_ok"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
             |  count(DISTINCT event_id) AS n_distinct_ids,
             |  CAST(64 AS BIGINT) AS files_before,
             |  TRUE AS compacted_ok
             |FROM events""".stripMargin),
      "S-maintenance: small-files compaction — content-neutral 64→4 range-clustered rewrite"),

    GraftQuery(
      "src10_dynamic_partition_overwrite",
      (spark, dir) => {
        // PARTITION CORRECTION — dynamic partition overwrite, the
        // warehouse maintenance op src03's static layout lacks: a
        // correction batch for ONE day replaces exactly that day's
        // directory and leaves every other partition's files untouched.
        // Static overwrite mode would TRUNCATE THE WHOLE TABLE to the
        // correction batch — the classic silent-data-loss trap — so the
        // write runs under partitionOverwriteMode=dynamic (restored
        // after; at 100 TB this is how backfills and late-data
        // corrections land without rewriting years of history, and
        // without the read-modify-write cycle q59's MERGE pays). The
        // correction here re-lands 2024-01-05 with its 'view' rows
        // scrubbed; the read-back per-day report proves day 5 changed
        // and all other days survived byte-identical row sets.
        val out = graft.streaming.Streams.dataDir("graft_dynpart_")
        val events = graft.core.Tables(spark, dir).events
          .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        events.write.mode("overwrite").partitionBy("day").parquet(out)
        val correction = events
          .filter(col("day") === "2024-01-05" && col("event_type") =!= "view")
        graft.core.GraftSession.withConf(spark,
          "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
          correction.write.mode("overwrite").partitionBy("day").parquet(out)
        }
        spark.read.parquet(out)
          // partition-column inference reads `day` back as DATE;
          // normalize to the oracle's string form
          .groupBy(col("day").cast("string").as("day"))
          .agg(count(lit(1)).as("n_events"),
               countDistinct(col("event_type")).as("n_types"),
               graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
          .orderBy(col("day"))
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |  count(*) AS n_events,
             |  count(DISTINCT event_type) AS n_types,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM events
             |WHERE NOT (strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-05'
             |           AND event_type = 'view')
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      "S-maintenance: dynamic partition overwrite — one day re-lands corrected, every other partition untouched"),

    GraftQuery(
      "src11_manifest_snapshot",
      (spark, dir) => {
        // SNAPSHOT-ISOLATED PUBLISH + TIME TRAVEL — the table-format
        // seam ([[SnapshotCatalog]]): src09 compacts, src10 corrects,
        // st24 appends, but all three assume a quiesced window on plain
        // parquet; this op implements what a table format actually adds
        // — versioned manifests with atomic exclusive publishes — and
        // proves the three reader-visible guarantees: (1) ATOMIC
        // PUBLISH (commit = tmp manifest + exclusive rename; readers
        // never see a partial file list), (2) TIME TRAVEL (v1 read back after the
        // v2 commit is row-identical to what v1 served before it), and
        // (3) FILE-LEVEL REUSE (v2's manifest lists v1's data files
        // verbatim + the new batch — 100 TB of history is never
        // rewritten to add a day; audited here by set inclusion). The
        // output reads BOTH versions through their manifests; the
        // oracle recomputes each version's slice from the source table.
        val root = graft.streaming.Streams.dataDir("graft_snapshot_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        val v1Files = SnapshotCatalog.writeData(
          ev.filter(col("event_id") % 10 =!= 3), root, "batch1")
        SnapshotCatalog.commit(root, v1Files)
        val v2New = SnapshotCatalog.writeData(
          ev.filter(col("event_id") % 10 === 3), root, "batch2")
        SnapshotCatalog.commit(root, v1Files ++ v2New)
        val reused = SnapshotCatalog.manifestFiles(root, 2).toSet
          .intersect(v1Files.toSet) == v1Files.toSet
        def report(v: Int): org.apache.spark.sql.DataFrame =
          SnapshotCatalog.readSnapshot(spark, root, Some(v)).agg(
              count(lit(1)).as("n_rows"),
              countDistinct(col("event_type")).as("n_types"),
              graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
            .select(lit(v.toLong).as("version"), col("n_rows"),
              col("n_types"), col("sum_value_cents"),
              lit(reused).as("v2_reuses_v1_files"))
        report(1).unionByName(report(2))
      },
      Some("""SELECT 1 AS version, count(*) AS n_rows,
             |  count(DISTINCT event_type) AS n_types,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS v2_reuses_v1_files
             |FROM events WHERE event_id % 10 <> 3
             |UNION ALL
             |SELECT 2, count(*), count(DISTINCT event_type),
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM events""".stripMargin),
      "S-maintenance: snapshot-isolated publish — atomic manifest/pointer commit, time travel, file reuse"),

    GraftQuery(
      "src12_snapshot_merge",
      (spark, dir) => {
        // COPY-ON-WRITE MERGE UNDER SNAPSHOT ISOLATION — the composition
        // that makes src10's partition correction safe under concurrent
        // readers: the table lands as one immutable batch per day
        // (src03's layout expressed as catalog data batches), and a
        // correction touching ONE day commits a new version whose
        // manifest swaps ONLY that day's files for the rewritten ones —
        // every other day's files are reused verbatim (copy-on-write at
        // file granularity, the Iceberg/Delta MERGE shape), the old
        // version still reads exactly what it always did (src10's
        // plain-parquet form destroys it), and a reader racing the
        // commit resolves one version or the other, never a torn mix.
        // The audit column pins the file accounting: |v2| = |v1| −
        // |day-5 files| + |rewritten files| with every non-day-5 file
        // common to both manifests. The oracle recomputes both versions
        // from the source table.
        import graft.sources.SnapshotCatalog
        val root = graft.streaming.Streams.dataDir("graft_snapmerge_")
        val ev = graft.core.Tables(spark, dir).events
          .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
          .select(col("day"), col("event_id"), col("event_type"), col("value"))
        // ONE partitioned write lands every day's immutable files (a
        // per-day driver loop would rescan the table once per day —
        // O(days × table), and the day count SCALES with the data; a
        // ×10 stress run measured that quadratic at 17× wall clock
        // before this shape replaced it). `day` is duplicated into the
        // partition column so the data files keep carrying it.
        val base = s"$root/data/base"
        ev.withColumn("pday", col("day"))
          .write.partitionBy("pday").mode("overwrite").parquet(base)
        val days = ev.select("day").distinct().orderBy("day")
          .collect().map(_.getString(0)).toSeq
        val byDay: Map[String, Seq[String]] = days.map { d =>
          d -> SnapshotCatalog.listDataFiles(s"$base/pday=$d")
        }.toMap
        SnapshotCatalog.commit(root, days.flatMap(byDay).sorted)
        // the correction: 2024-01-05 re-lands with its 'view' rows scrubbed
        val target = "2024-01-05"
        val rewritten = SnapshotCatalog.writeData(
          ev.filter(col("day") === target && col("event_type") =!= "view"),
          root, s"day_${target}_v2")
        val v2Files =
          (days.filterNot(_ == target).flatMap(byDay) ++ rewritten).sorted
        SnapshotCatalog.commit(root, v2Files)
        val m1 = SnapshotCatalog.manifestFiles(root, 1).toSet
        val m2 = SnapshotCatalog.manifestFiles(root, 2).toSet
        val untouched = days.filterNot(_ == target).flatMap(byDay).toSet
        val cowOk = untouched.subsetOf(m1) && untouched.subsetOf(m2) &&
          byDay(target).toSet.subsetOf(m1) && byDay(target).toSet.intersect(m2).isEmpty &&
          rewritten.toSet.subsetOf(m2)
        def report(v: Int): org.apache.spark.sql.DataFrame =
          SnapshotCatalog.readSnapshot(spark, root, Some(v)).agg(
              count(lit(1)).as("n_rows"),
              countDistinct(col("day")).as("n_days"),
              graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
            .select(lit(v.toLong).as("version"), col("n_rows"), col("n_days"),
              col("sum_value_cents"), lit(cowOk).as("cow_file_accounting_ok"))
        report(1).unionByName(report(2))
      },
      Some("""WITH d AS (
             |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |         event_type, value
             |  FROM events)
             |SELECT 1 AS version, count(*) AS n_rows,
             |  count(DISTINCT day) AS n_days,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS cow_file_accounting_ok
             |FROM d
             |UNION ALL
             |SELECT 2, count(*), count(DISTINCT day),
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM d WHERE NOT (day = '2024-01-05' AND event_type = 'view')""".stripMargin),
      "S-maintenance: copy-on-write MERGE under snapshots — one day's files swap, the rest reused, v1 intact"),

    GraftQuery(
      "src13_snapshot_expire",
      (spark, dir) => {
        // SNAPSHOT EXPIRY / GC — the maintenance job src11/src12 defer:
        // time-travel manifests keep EVERY file ever committed alive,
        // so a compacted table's storage is old-generations × data
        // until expiry removes (1) the expired manifests, then (2) the
        // data files no surviving manifest references. The lifecycle
        // staged here is the one a 100 TB live table actually runs:
        // ingest (v1) → ingest (v2, file-level reuse of v1) → compact
        // (v3 = replace: all-new files; v1/v2's files now live only in
        // time travel) → expire keepLast=1. The audit pins the census:
        // exactly 2 manifests expire, the GC'd file count equals
        // |m1 ∪ m2| (v3 reused nothing from them), and the live
        // snapshot is row-identical before and after — GC must never
        // touch a referenced file. The oracle recomputes the live
        // content and the census constants.
        val root = graft.streaming.Streams.dataDir("graft_snapexp_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.filter(col("event_id") % 10 =!= 3), root, "b0")
        SnapshotCatalog.append(ev.filter(col("event_id") % 10 === 3), root, "b1")
        val nBefore = SnapshotCatalog.versions(root).size
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshot(spark, root).repartition(2), root, "c0")
        val dead = (SnapshotCatalog.manifestFiles(root, 1) ++
          SnapshotCatalog.manifestFiles(root, 2)).distinct.toSet --
          SnapshotCatalog.manifestFiles(root, 3).toSet
        val (nManifests, nFiles) = SnapshotCatalog.expire(root, keepLast = 1)
        val gcExact = nManifests == 2 && nFiles == dead.size &&
          SnapshotCatalog.versions(root) == Seq(3)
        SnapshotCatalog.readSnapshot(spark, root).agg(
            count(lit(1)).as("n_rows"),
            graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
          .select(col("n_rows"), col("sum_value_cents"),
            lit(nBefore.toLong + 1L).as("n_versions_before"),
            lit(SnapshotCatalog.versions(root).size.toLong).as("n_versions_after"),
            lit(gcExact).as("gc_census_exact"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  CAST(3 AS BIGINT) AS n_versions_before,
             |  CAST(1 AS BIGINT) AS n_versions_after,
             |  TRUE AS gc_census_exact
             |FROM events""".stripMargin),
      "S-maintenance: snapshot expiry/GC — expired manifests first, then exactly the unreferenced files; live content untouched"),

    GraftQuery(
      "src14_stats_skipping",
      (spark, dir) => {
        // FILE-LEVEL MIN/MAX SKIPPING THROUGH THE CATALOG — the
        // manifest-stats idea (Iceberg data-file stats / Delta
        // file-skipping) on the engine's own snapshot seam: at write
        // time each batch records per-file [min, max] of the skip
        // column, read from the PARQUET FOOTERS the writer already
        // paid for (zero data scan), into a per-batch sidecar; a
        // `readSnapshot` range read then plans from the sidecars (these
        // path-only commits carry no stats in the log) and opens ONLY
        // files whose interval intersects the predicate — pruning without a
        // partition column, which is what saves the scan when the
        // table is range-ingested (time, ids) but not partitioned by
        // the query key. Six range-disjoint ingest batches land; a
        // two-batch range read must (a) skip files — audited, (b)
        // return exactly what the full-scan filter returns — audited
        // against the unpruned snapshot, (c) match the oracle's plain
        // filter over the source table. Files without recorded stats
        // are conservatively read: skipping is an optimization, never
        // a correctness gate.
        val root = graft.streaming.Streams.dataDir("graft_snapstats_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val nB = 6L
        val w = (maxId + nB) / nB // ceil-ish width; 6 disjoint id ranges
        (0L until nB).foreach { b =>
          val slice = ev.filter(col("event_id") >= b * w &&
            col("event_id") < (b + 1) * w).repartition(2)
          val files = SnapshotCatalog.writeData(slice, root, s"b$b")
          SnapshotCatalog.writeColumnStats(root, s"b$b", "event_id", files)
          SnapshotCatalog.commitRetry(root)(prev => (prev ++ files).distinct.sorted)
        }
        val (lo, hi) = (2L * w, 4L * w - 1L)
        def rangeAgg(d: org.apache.spark.sql.DataFrame) =
          d.where(col("event_id").between(lo, hi))
            .agg(count(lit(1)).as("n_rows"),
              countDistinct(col("event_type")).as("n_types"),
              graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
        val (Array(pruned), nRead, nTotal) = SnapshotFileIndex.collectScanned(
          rangeAgg(SnapshotCatalog.readSnapshot(spark, root)), root)
        val full = rangeAgg(SnapshotFileIndex.unprunedDF(spark, root)).head()
        spark.range(1).select(
          lit(pruned.getLong(0)).as("n_rows"),
          lit(pruned.getLong(1)).as("n_types"),
          lit(pruned.getLong(2)).as("sum_value_cents"),
          lit(nRead < nTotal).as("files_skipped"),
          lit(pruned == full).as("pruned_equals_full"))
      },
      Some("""WITH b AS (
             |  SELECT (max(event_id) + 6) // 6 AS w FROM events)
             |SELECT count(*) AS n_rows,
             |  count(DISTINCT event_type) AS n_types,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS files_skipped,
             |  TRUE AS pruned_equals_full
             |FROM events, b
             |WHERE event_id >= 2 * w AND event_id < 4 * w""".stripMargin),
      "S-maintenance: file-level min/max skipping — footer-built batch stats prune a range read to intersecting files only"),

    GraftQuery(
      "src15_ts_stats_skipping",
      (spark, dir) => {
        // TIMESTAMP-RANGE FILE SKIPPING — src14's skip column is a
        // LONG id; the range key real tables are ingested on is TIME
        // (the reference's dashboards prune "the last N minutes":
        // `fire_detection_app.py:99`), so the stats tier must prune a
        // TIMESTAMP predicate too. Parquet stores Spark timestamps as
        // INT64 epoch micros (TIMESTAMP_MICROS), so the footer stats
        // ARE the time bounds; [[SnapshotCatalog.append]] auto-records
        // them for every supported column in one footer pass — no
        // caller opt-in, which is what makes a time-range read over a
        // stream-ingested table (st36's shape) prune for free. Six
        // time-disjoint ingest batches land through plain `append`; a
        // two-slice range read must (a) skip files — audited, (b)
        // return exactly what the full-scan filter returns — audited,
        // (c) match the oracle's plain time filter.
        val root = graft.streaming.Streams.dataDir("graft_snapstats_ts_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val mm = ev.agg(min(unix_timestamp(col("ts"))),
          max(unix_timestamp(col("ts")))).head()
        val (t0, t1) = (mm.getLong(0), mm.getLong(1))
        val nB = 6L
        val w = (t1 - t0 + nB) / nB // ceil-ish width; 6 disjoint slices
        (0L until nB).foreach { b =>
          val slice = ev.filter(unix_timestamp(col("ts")) >= t0 + b * w &&
            unix_timestamp(col("ts")) < t0 + (b + 1) * w).repartition(2)
          SnapshotCatalog.append(slice, root, s"b$b") // stats auto-recorded
        }
        val (loSec, hiSecExcl) = (t0 + 2L * w, t0 + 4L * w)
        val lo = new java.sql.Timestamp(loSec * 1000L)
        val hiExcl = new java.sql.Timestamp(hiSecExcl * 1000L)
        // rows half-open like the slices; both bounds are whole seconds,
        // so this keeps exactly the `unix_timestamp(ts)` range while
        // handing the planner a bound on `ts` itself to prune files with
        def rangeAgg(d: org.apache.spark.sql.DataFrame) =
          d.where(col("ts") >= lit(lo) && col("ts") < lit(hiExcl))
            .agg(count(lit(1)).as("n_rows"),
              countDistinct(col("event_type")).as("n_types"),
              graft.functions.Canon.sumCents(col("value")).as("sum_value_cents"))
        val (Array(pruned), nRead, nTotal) = SnapshotFileIndex.collectScanned(
          rangeAgg(SnapshotCatalog.readSnapshot(spark, root)), root)
        val full = rangeAgg(SnapshotFileIndex.unprunedDF(spark, root)).head()
        spark.range(1).select(
          lit(pruned.getLong(0)).as("n_rows"),
          lit(pruned.getLong(1)).as("n_types"),
          lit(pruned.getLong(2)).as("sum_value_cents"),
          lit(nRead < nTotal).as("files_skipped"),
          lit(pruned == full).as("pruned_equals_full"))
      },
      Some("""WITH b AS (
             |  SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
             |    (CAST(floor(epoch(max(ts))) AS BIGINT)
             |     - CAST(floor(epoch(min(ts))) AS BIGINT) + 6) // 6 AS w
             |  FROM events)
             |SELECT count(*) AS n_rows,
             |  count(DISTINCT event_type) AS n_types,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS files_skipped,
             |  TRUE AS pruned_equals_full
             |FROM events, b
             |WHERE CAST(floor(epoch(ts)) AS BIGINT) >= t0 + 2 * w
             |  AND CAST(floor(epoch(ts)) AS BIGINT) < t0 + 4 * w""".stripMargin),
      "S-maintenance: TIMESTAMP-range file skipping — auto-recorded footer time bounds prune a time-range read"),

    GraftQuery(
      "src16_catalog_schema_evolution",
      (spark, dir) => {
        // SCHEMA EVOLUTION UNDER SNAPSHOT ISOLATION — src08 proves the
        // mergeSchema read over a plain parquet directory; through the
        // CATALOG the semantics get sharper: a later batch lands with
        // an accreted column in its OWN immutable files, the evolved
        // read (union-by-name, old rows null-fill) is scoped to the
        // LIVE version's file list, and time travel to the
        // pre-evolution version serves the ORIGINAL schema — the
        // Iceberg/Delta contract a directory-level mergeSchema cannot
        // express (it merges every generation's footers at once, so
        // the old version's reader would see the new column too).
        // Audits pin both sides: v1's resolved schema has no `quality`
        // column; the evolved latest read null-fills exactly the
        // pre-evolution rows. The oracle recomputes the union-by-name
        // from the source table.
        val root = graft.streaming.Streams.dataDir("graft_snapevo_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(
          ev.filter(col("event_id") % 2 === 0), root, "b0")
        SnapshotCatalog.append(
          ev.filter(col("event_id") % 2 === 1)
            .withColumn("quality", length(col("event_type")).cast("long")),
          root, "b1")
        val v1SchemaPreserved = !SnapshotCatalog
          .readSnapshot(spark, root, Some(1)).columns.contains("quality")
        SnapshotCatalog.readSnapshot(spark, root, mergeSchema = true)
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("quality")).as("n_quality_rows"),
            sum(col("quality")).as("sum_quality"))
          .select(col("n_rows"), col("n_quality_rows"), col("sum_quality"),
            lit(v1SchemaPreserved).as("v1_schema_preserved"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_quality_rows,
             |  CAST(sum(CASE WHEN event_id % 2 = 1 THEN length(event_type) END) AS BIGINT) AS sum_quality,
             |  TRUE AS v1_schema_preserved
             |FROM events""".stripMargin),
      "S-maintenance: catalog schema evolution — accreted column null-fills old rows; time travel keeps the old schema"),

    GraftQuery(
      "src17_deletion_vectors",
      (spark, dir) => {
        // ROW-LEVEL DELETE WITHOUT REWRITE — deletion vectors (the
        // Delta-DV / Iceberg-position-delete shape) on the engine's
        // own snapshot seam: deleting 0.1% of a 100 TB table must not
        // rewrite the files holding the other 99.9%, so the DELETE
        // commits only (file, row_position) pairs — read straight off
        // the scan's `_metadata.row_index`, no surrogate key — as a
        // small DV parquet batch, and serving subtracts them with a
        // broadcast anti-join. Audits pin the whole contract: (a) the
        // delete rewrites NO data file (manifest identical across it),
        // (b) the served read excludes exactly the deleted rows,
        // (c) time travel to the pre-delete version still serves them,
        // (d) a compaction applies the DVs physically and RESETS them
        // in the same atomic commit (plain read ≡ DV-served read, DV
        // set empty after). The oracle recomputes the post-delete
        // content from the source table.
        import graft.sources.SnapshotCatalog
        val root = graft.streaming.Streams.dataDir("graft_snapdv_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.filter(col("event_id") % 2 === 0), root, "b0")
        SnapshotCatalog.append(ev.filter(col("event_id") % 2 === 1), root, "b1")
        val preDelete = SnapshotCatalog.latestVersion(root)
        val m1 = SnapshotCatalog.manifestFiles(root, preDelete).toSet
        val nTotal = SnapshotCatalog.readSnapshot(spark, root).count()
        val (vDel, nDel) =
          SnapshotCatalog.deleteWhere(spark, root, col("event_type") === "view")
        val noRewrite = SnapshotCatalog.manifestFiles(root, vDel).toSet == m1
        val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
          .agg(count(lit(1)), graft.functions.Canon.sumCents(col("value")))
          .head()
        val timeTravelIntact = SnapshotCatalog
          .readSnapshotWithDeletes(spark, root, Some(preDelete))
          .count() == nTotal
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshotWithDeletes(spark, root)
            .repartition(2), root, "c0")
        val plain = SnapshotCatalog.readSnapshot(spark, root)
          .agg(count(lit(1)), graft.functions.Canon.sumCents(col("value")))
          .head()
        val compactionApplies = plain == served &&
          SnapshotCatalog.dvFiles(root, SnapshotCatalog.latestVersion(root)).isEmpty
        spark.range(1).select(
          lit(served.getLong(0)).as("n_rows"),
          lit(served.getLong(1)).as("sum_value_cents"),
          lit(nDel).as("n_deleted"),
          lit(noRewrite).as("no_rewrite"),
          lit(timeTravelIntact).as("time_travel_intact"),
          lit(compactionApplies).as("compaction_applies"))
      },
      Some("""SELECT count(CASE WHEN event_type <> 'view' THEN 1 END) AS n_rows,
             |  CAST(sum(CASE WHEN event_type <> 'view'
             |    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS sum_value_cents,
             |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_deleted,
             |  TRUE AS no_rewrite,
             |  TRUE AS time_travel_intact,
             |  TRUE AS compaction_applies
             |FROM events""".stripMargin),
      "S-maintenance: deletion vectors — row-level DELETE commits positions only, no rewrite; compaction applies+resets"),

    GraftQuery(
      "src18_merge_on_read",
      (spark, dir) => {
        // MERGE-ON-READ UPSERT — the row-level composition of src17's
        // deletion vectors with an append, in ONE atomic commit:
        // matched target rows are DV-deleted and the update batch
        // lands whole, so a reader resolves pre- or post-merge, never
        // a torn upsert (old row gone, new row missing — or both
        // present). Cost is O(updates + matched positions); src12's
        // copy-on-write MERGE rewrites the touched partition instead —
        // the classic write-amplification vs read-amplification trade,
        // and at 100 TB a trickle of upserts takes THIS path while the
        // nightly compaction folds the DVs back in. The upsert: every
        // event_id ≡ 0 (mod 100) row re-lands with value doubled;
        // every event_id ≡ 50 (mod 100) row spawns a NEW key (insert).
        // Audits: adds-only commit (no target file rewritten), matched
        // count exact, no duplicate keys after the merge, time travel
        // to the pre-merge version intact. The oracle rebuilds the
        // merged table from the source.
        import graft.sources.SnapshotCatalog
        val root = graft.streaming.Streams.dataDir("graft_snapmor_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.filter(col("event_id") % 2 === 0), root, "b0")
        SnapshotCatalog.append(ev.filter(col("event_id") % 2 === 1), root, "b1")
        val preV = SnapshotCatalog.latestVersion(root)
        val m1 = SnapshotCatalog.manifestFiles(root, preV).toSet
        val nBefore = SnapshotCatalog.readSnapshot(spark, root).count()
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val updates = ev.filter(col("event_id") % 100 === 0)
          .withColumn("value", col("value") * 2)
          .unionByName(ev.filter(col("event_id") % 100 === 50)
            .withColumn("event_id", col("event_id") + lit(maxId + 1L)))
        val (vM, nMatched) = SnapshotCatalog.mergeOnRead(
          spark, root, updates, Seq("event_id"), "u0")
        val addsOnly = m1.subsetOf(SnapshotCatalog.manifestFiles(root, vM).toSet)
        val served = SnapshotCatalog.readSnapshotWithDeletes(spark, root)
          .agg(count(lit(1)), graft.functions.Canon.sumCents(col("value")),
            countDistinct(col("event_id")))
          .head()
        val noDupKeys = served.getLong(0) == served.getLong(2)
        val timeTravelIntact = SnapshotCatalog
          .readSnapshotWithDeletes(spark, root, Some(preV)).count() == nBefore
        spark.range(1).select(
          lit(served.getLong(0)).as("n_rows"),
          lit(served.getLong(1)).as("sum_value_cents"),
          lit(nMatched).as("n_updated"),
          lit(addsOnly).as("adds_only_commit"),
          lit(noDupKeys).as("upsert_unique"),
          lit(timeTravelIntact).as("time_travel_intact"))
      },
      Some("""WITH m AS (SELECT max(event_id) AS mx FROM events),
             |merged AS (
             |  SELECT event_id, value * 2 AS value FROM events WHERE event_id % 100 = 0
             |  UNION ALL
             |  SELECT event_id, value FROM events WHERE event_id % 100 <> 0
             |  UNION ALL
             |  SELECT event_id + mx + 1, value FROM events, m WHERE event_id % 100 = 50
             |)
             |SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  (SELECT count(*) FROM events WHERE event_id % 100 = 0) AS n_updated,
             |  TRUE AS adds_only_commit,
             |  TRUE AS upsert_unique,
             |  TRUE AS time_travel_intact
             |FROM merged""".stripMargin),
      "S-maintenance: MERGE-on-read upsert — DV-delete matched + append updates in ONE atomic commit, no target rewrite"),

    GraftQuery(
      "src19_zorder_box_pruning",
      (spark, dir) => {
        // Z-ORDER × CATALOG STATS = 2-D FILE PRUNING — the composition
        // the two halves exist for: src06 proves bit-interleaved
        // clustering prunes ROW GROUPS inside files; committing the
        // z-clustered REWRITE through the catalog (replace refreshes
        // footer stats for the new generation) makes the per-FILE
        // [min, max] tight in BOTH dimensions, so a 2-D box predicate
        // prunes whole files from the manifest before any footer or
        // data IO — the Delta OPTIMIZE ZORDER + file-skipping loop.
        // The lifecycle is the production one: ingest litter lands
        // first (range-correlated batches — realistic, but z-unaware),
        // the maintenance rewrite re-clusters it, and the same box
        // read is audited on BOTH generations: correct on each,
        // file-skipping on the clustered one. Audits: box read ≡
        // full-scan filter, files skipped after the rewrite, oracle ≡
        // plain filter over the source.
        import graft.sources.SnapshotCatalog
        val root = graft.streaming.Streams.dataDir("graft_snapzbox_")
        val li = graft.core.Tables(spark, dir).lineitem
          .select(col("l_partkey"), col("l_orderkey"), col("l_returnflag"),
            col("l_quantity"))
        // ingest litter: 4 orderkey-range batches (time-correlated, not
        // z-clustered — partkey ranges overlap completely across files)
        val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0)
        val w = (maxOk + 4L) / 4L
        (0L until 4L).foreach { b =>
          SnapshotCatalog.append(li.filter(col("l_orderkey") >= b * w &&
            col("l_orderkey") < (b + 1) * w).coalesce(1), root, s"b$b")
        }
        def box(d: org.apache.spark.sql.DataFrame) =
          d.where(col("l_partkey").between(100, 299) &&
              col("l_orderkey").between(200, 599))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_quantity")).cast(LongType).as("sum_qty"))
        val preRewrite = box(SnapshotCatalog.readSnapshot(spark, root)).head()
        // the maintenance rewrite: z-cluster the table, THROUGH the
        // catalog (stats refresh with the new generation's files)
        val z = graft.functions.ZOrder.zorder(col("l_partkey"), col("l_orderkey"))
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshot(spark, root)
            .withColumn("zval", z)
            .repartitionByRange(4, col("zval"))
            .sortWithinPartitions("zval")
            .drop("zval"),
          root, "z0")
        val (Array(post), nRead, nTotal) = SnapshotFileIndex.collectScanned(
          box(SnapshotCatalog.readSnapshot(spark, root)), root)
        val full = box(SnapshotFileIndex.unprunedDF(spark, root)).head()
        spark.range(1).select(
          lit(post.getLong(0)).as("n_rows"),
          lit(post.getLong(1)).as("sum_qty"),
          lit(preRewrite == post).as("pre_equals_post_rewrite"),
          lit(post == full).as("pruned_equals_full"),
          lit(nRead < nTotal).as("files_skipped"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             |  TRUE AS pre_equals_post_rewrite,
             |  TRUE AS pruned_equals_full,
             |  TRUE AS files_skipped
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 299
             |  AND l_orderkey BETWEEN 200 AND 599""".stripMargin),
      "S-layout: Z-order through the catalog — rewrite refreshes file stats, 2-D box prunes whole files pre-IO"),

    GraftQuery(
      "src20_lakehouse_lifecycle",
      (spark, dir) => {
        // THE WHOLE TABLE LIFECYCLE AS ONE LINEAGE — t27 composes the
        // corpus-build chain; this composes the STORAGE chain every
        // 100 TB live table actually runs, each stage the op its
        // carrier query proves, all against one catalog table:
        //   ingest (3 appends) → SCHEMA EVOLUTION (a 4th batch lands
        //   an accreted column — src16) → row-level DELETE (deletion
        //   vectors, no rewrite — src17) → MERGE-on-read upsert (one
        //   atomic commit — src18) → CLUSTER-COMPACT (replace applies
        //   the DVs physically, range-clusters the layout, refreshes
        //   file stats — src09/src19) → EXPIRE (GC of every superseded
        //   generation incl. DV batches — src13) → STATS-PRUNED SERVE
        //   (the range read opens only intersecting files — src14).
        // Audits pin each seam: delete rewrites nothing, the merge is
        // adds-only, compaction serves exactly the DV-applied content
        // and empties the DV set, expiry leaves one version and the
        // content unchanged, the serve skips files and equals the
        // full-scan filter. The oracle replays the lifecycle's NET
        // content from the source table.
        import graft.sources.SnapshotCatalog
        val root = graft.streaming.Streams.dataDir("graft_lakechain_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val w = (maxId + 4L) / 4L
        // ingest: three quarter batches, plain schema
        (0L until 3L).foreach { b =>
          SnapshotCatalog.append(ev.filter(col("event_id") >= b * w &&
            col("event_id") < (b + 1) * w), root, s"b$b")
        }
        // schema evolution: the last quarter lands WITH `quality`
        SnapshotCatalog.append(
          ev.filter(col("event_id") >= 3L * w)
            .withColumn("quality", length(col("event_type")).cast("long")),
          root, "b3")
        // row-level delete: every 5th signup, via deletion vectors
        val mPre = SnapshotCatalog.manifestFiles(
          root, SnapshotCatalog.latestVersion(root)).toSet
        val (vDel, nDeleted) = SnapshotCatalog.deleteWhere(spark, root,
          col("event_type") === "signup" && col("event_id") % 5 === 0)
        val noRewrite =
          SnapshotCatalog.manifestFiles(root, vDel).toSet == mPre
        // merge-on-read upsert: live rows with id ≡ 7 (mod 100) re-land tripled
        val updates = SnapshotCatalog
          .readSnapshotWithDeletes(spark, root, mergeSchema = true)
          .filter(col("event_id") % 100 === 7)
          .withColumn("value", col("value") * 3)
        val (vM, nUpdated) = SnapshotCatalog.mergeOnRead(
          spark, root, updates, Seq("event_id"), "u0")
        val addsOnly = SnapshotCatalog.manifestFiles(root, vDel).toSet
          .subsetOf(SnapshotCatalog.manifestFiles(root, vM).toSet)
        val servedPreCompact = SnapshotCatalog
          .readSnapshotWithDeletes(spark, root, mergeSchema = true)
          .agg(count(lit(1)), graft.functions.Canon.sumCents(col("value")),
            count(col("quality"))).head()
        // cluster-compact: DVs applied physically, layout range-clustered
        // on the serve key, file stats refreshed for the new generation
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshotWithDeletes(spark, root, mergeSchema = true)
            .repartitionByRange(4, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, "c0")
        val vC = SnapshotCatalog.latestVersion(root)
        val plain = SnapshotCatalog.readSnapshot(spark, root)
          .agg(count(lit(1)), graft.functions.Canon.sumCents(col("value")),
            count(col("quality"))).head()
        val compactionExact = plain == servedPreCompact &&
          SnapshotCatalog.dvFiles(root, vC).isEmpty
        // expire: one surviving version; every superseded generation
        // (ingest litter, pre-merge files, DV batches) GC'd
        SnapshotCatalog.expire(root, keepLast = 1)
        val expireOk = SnapshotCatalog.versions(root) == Seq(vC) &&
          SnapshotCatalog.readSnapshot(spark, root)
            .agg(count(lit(1)), graft.functions.Canon.sumCents(col("value")),
              count(col("quality"))).head() == plain
        // stats-pruned serve on the clustered layout
        def slice(d: org.apache.spark.sql.DataFrame) =
          d.where(col("event_id").between(w, 2L * w - 1L))
            .agg(count(lit(1)), graft.functions.Canon.sumCents(col("value")))
        val (Array(sliceAgg), nRead, nTotal) = SnapshotFileIndex.collectScanned(
          slice(SnapshotCatalog.readSnapshot(spark, root)), root)
        val sliceFull = slice(SnapshotFileIndex.unprunedDF(spark, root)).head()
        val serveOk = nRead < nTotal && sliceAgg == sliceFull
        spark.range(1).select(
          lit(plain.getLong(0)).as("n_rows"),
          lit(plain.getLong(1)).as("sum_value_cents"),
          lit(plain.getLong(2)).as("n_quality_rows"),
          lit(nDeleted).as("n_deleted"),
          lit(nUpdated).as("n_updated"),
          lit(noRewrite && addsOnly && compactionExact && expireOk && serveOk)
            .as("lifecycle_audits_ok"))
      },
      Some("""WITH b AS (SELECT (max(event_id) + 4) // 4 AS w FROM events),
             |base AS (
             |  SELECT event_id, event_type, value,
             |    CASE WHEN event_id >= 3 * w THEN length(event_type) END AS quality
             |  FROM events, b),
             |after_del AS (
             |  SELECT * FROM base
             |  WHERE NOT (event_type = 'signup' AND event_id % 5 = 0)),
             |final AS (
             |  SELECT event_id,
             |    CASE WHEN event_id % 100 = 7 THEN value * 3 ELSE value END AS value,
             |    quality
             |  FROM after_del)
             |SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  count(quality) AS n_quality_rows,
             |  (SELECT count(*) FROM base
             |     WHERE event_type = 'signup' AND event_id % 5 = 0) AS n_deleted,
             |  (SELECT count(*) FROM after_del WHERE event_id % 100 = 7) AS n_updated,
             |  TRUE AS lifecycle_audits_ok
             |FROM final""".stripMargin),
      "S-composite: the full lakehouse lifecycle in one lineage — evolve, DV-delete, merge, compact, expire, pruned serve"),

    GraftQuery(
      "src21_table_history",
      (spark, dir) => {
        // DESCRIBE HISTORY — the observability surface every table
        // format ships: one row per surviving version, its KIND derived
        // from the commit's own delta lines (append / delete / merge /
        // replace) plus file-level add/remove/DV counts — O(surviving
        // deltas) metadata reads, never a data scan, which is what
        // makes "what happened to this table" answerable on a 100 TB
        // table in milliseconds. The staged lineage commits one of
        // each kind with pinned file counts (every batch coalesced to
        // one file), and the oracle is the expected history literal.
        import graft.sources.SnapshotCatalog
        val root = graft.streaming.Streams.dataDir("graft_snaphist_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(
          ev.filter(col("event_id") % 2 === 0).coalesce(1), root, "b0",
          recordStats = false)
        SnapshotCatalog.append(
          ev.filter(col("event_id") % 2 === 1).coalesce(1), root, "b1",
          recordStats = false)
        SnapshotCatalog.deleteWhere(spark, root, col("event_type") === "view")
        SnapshotCatalog.mergeOnRead(spark, root,
          SnapshotCatalog.readSnapshotWithDeletes(spark, root)
            .filter(col("event_id") % 100 === 0)
            .withColumn("value", col("value") * 2).coalesce(1),
          Seq("event_id"), "u0")
        SnapshotCatalog.replace(
          SnapshotCatalog.readSnapshotWithDeletes(spark, root)
            .repartition(2), root, "c0", recordStats = false)
        val h = SnapshotCatalog.history(root)
        val spark2 = spark
        import spark2.implicits._
        h.map { case (v, kind, a, r, dv, _) =>
          (v.toLong, kind, a.toLong, r.toLong, dv.toLong)
        }.toDF("version", "kind", "n_adds", "n_removes", "n_dv_adds")
          .orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(1 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
             |  (CAST(2 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
             |  (CAST(3 AS BIGINT), 'delete',  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
             |  (CAST(4 AS BIGINT), 'merge',   CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
             |  (CAST(5 AS BIGINT), 'replace', CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT))
             |) AS t(version, kind, n_adds, n_removes, n_dv_adds)
             |ORDER BY version""".stripMargin),
      "S-observability: DESCRIBE HISTORY — per-version kind + file deltas from the log alone, no data scan"),

    GraftQuery(
      "src22_planned_skipping",
      (spark, dir) => {
        // PLANNING-TIME FILE SKIPPING, NO API OPT-IN — src14/src15's
        // stats tier moved INSIDE Catalyst: [[SnapshotFileIndex]]
        // surfaces a snapshot as an ordinary DataFrame whose FileIndex
        // consults the log-carried typed stats (a batch's sidecar only
        // for path-only entries) during the scan's file listing (the
        // Delta TahoeFileIndex pattern), so ANY query
        // shape — here plain SQL TEXT against a registered view, the
        // reference's dashboard idiom (`fire_detection_app.py:99`
        // filters the last N minutes in SQL) — prunes files from its
        // own pushed-down predicates. The caller never names a pruned-
        // read helper; the planner does the skipping, and parquet's
        // row-group pruning composes within the kept files. Audited by
        // the EXECUTED scan's own numFiles metric vs the snapshot's
        // file count, and against an unpruned scan of every file.
        import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
        val root = graft.streaming.Streams.dataDir("graft_snapplan_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val nB = 6L
        val w = (maxId + nB) / nB
        (0L until nB).foreach { b =>
          SnapshotCatalog.append(ev.filter(col("event_id") >= b * w &&
            col("event_id") < (b + 1) * w).repartition(2), root, s"b$b")
        }
        SnapshotFileIndex.snapshotDF(spark, root)
          .createOrReplaceTempView("graft_events_snap")
        val (lo, hi) = (2L * w, 4L * w - 1L)
        val q = spark.sql(
          s"""SELECT count(*) AS n_rows,
             |  count(DISTINCT event_type) AS n_types,
             |  CAST(sum(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |FROM graft_events_snap
             |WHERE event_id BETWEEN $lo AND $hi""".stripMargin)
        val (Array(r), scanned, total) = SnapshotFileIndex.collectScanned(q, root)
        val full = SnapshotFileIndex.unprunedDF(spark, root)
          .filter(col("event_id").between(lo, hi))
          .agg(count(lit(1)), countDistinct(col("event_type")),
            graft.functions.Canon.sumCents(col("value"))).head()
        spark.range(1).select(
          lit(r.getLong(0)).as("n_rows"),
          lit(r.getLong(1)).as("n_types"),
          lit(r.getLong(2)).as("sum_value_cents"),
          lit(scanned < total).as("files_skipped"),
          lit(r == full).as("sql_equals_full_scan"))
      },
      Some("""WITH b AS (
             |  SELECT (max(event_id) + 6) // 6 AS w FROM events)
             |SELECT count(*) AS n_rows,
             |  count(DISTINCT event_type) AS n_types,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS files_skipped,
             |  TRUE AS sql_equals_full_scan
             |FROM events, b
             |WHERE event_id >= 2 * w AND event_id < 4 * w""".stripMargin),
      "S-planner: planning-time file skipping — SQL text over the FileIndex-backed view prunes from its own predicates"),

    GraftQuery(
      "src23_partitioned_catalog",
      (spark, dir) => {
        // PARTITION COLUMNS THROUGH THE CATALOG — append(partitionBy)
        // lays batches out hive-style and records the partition SPEC in
        // the delta log, so [[SnapshotFileIndex]] surfaces a real
        // partitionSchema: a partition predicate cuts FILES at planning
        // time (here 2 of 10 — one file per (batch, type)), and a
        // dim-filtered join is eligible for dynamic partition pruning
        // (q83's lever, the reference's date-filtered dashboards —
        // fire_detection_app.py:99) with no path glob or bespoke API.
        // Audited by the executed scan's numFiles and by equality of
        // three read paths: the pruned SQL, the dim join, and a full
        // recompute. The partition column itself is served from the
        // directory values (it is not in the data files) — its
        // round-trip is part of the check.
        import graft.sources.{SnapshotCatalog, SnapshotFileIndex}
        val root = graft.streaming.Streams.dataDir("graft_snapdpp_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.filter(col("event_id") % 2 === 0).coalesce(1),
          root, "b0", partitionBy = Seq("event_type"))
        SnapshotCatalog.append(ev.filter(col("event_id") % 2 === 1).coalesce(1),
          root, "b1", partitionBy = Seq("event_type"))
        val snap = SnapshotFileIndex.snapshotDF(spark, root)
        snap.createOrReplaceTempView("graft_events_part")
        val q = spark.sql(
          """SELECT count(*) AS n_signup,
            |  CAST(sum(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            |FROM graft_events_part WHERE event_type = 'signup'""".stripMargin)
        val (Array(r), scanned, total) = SnapshotFileIndex.collectScanned(q, root)
        // the dim-join path: small dim broadcast, join on the PARTITION
        // column — the DPP-eligible shape
        val spark2 = spark
        import spark2.implicits._
        val dim = Seq(("signup", true), ("error", true), ("click", false),
          ("view", false), ("purchase", false))
          .toDF("event_type", "audited")
        val joined = snap.join(dim.filter(col("audited")), Seq("event_type"))
          .agg(count(lit(1)).as("n"),
            graft.functions.Canon.sumCents(col("value")).as("c"))
        val jr = joined.collect().head
        spark.range(1).select(
          lit(r.getLong(0)).as("n_signup"),
          lit(r.getLong(1)).as("sum_signup_cents"),
          lit(jr.getLong(0)).as("n_audited"),
          lit(jr.getLong(1)).as("sum_audited_cents"),
          lit(scanned < total && scanned == total / 5)
            .as("partition_filter_cut_files"))
      },
      Some("""SELECT
             |  (SELECT count(*) FROM events WHERE event_type = 'signup') AS n_signup,
             |  (SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |     FROM events WHERE event_type = 'signup') AS sum_signup_cents,
             |  (SELECT count(*) FROM events
             |     WHERE event_type IN ('signup', 'error')) AS n_audited,
             |  (SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |     FROM events WHERE event_type IN ('signup', 'error')) AS sum_audited_cents,
             |  TRUE AS partition_filter_cut_files""".stripMargin),
      "S-partitions: hive-style partition columns through the catalog — spec in the log, planning-time file cut, DPP-eligible joins"),

    GraftQuery(
      "src24_partition_overwrite",
      (spark, dir) => {
        // DYNAMIC PARTITION OVERWRITE UNDER SNAPSHOT ISOLATION —
        // src10's correction semantics moved INSIDE the catalog: a
        // correction batch re-lands exactly its touched partitions in
        // ONE commit (removes = the touched partitions' live files,
        // adds = the new generation), untouched partitions keep their
        // VERY files (identity-audited), and the pre-correction
        // version still time-travels (src10's plain dynamic overwrite
        // can't — the old files are gone). At 100 TB this is the
        // nightly restatement path: O(touched partitions), never a
        // table rewrite, with readers never observing a half-corrected
        // table. The change feed refuses across it like any rewrite
        // (st39's consumer contract applies unchanged).
        import graft.sources.SnapshotCatalog
        val root = graft.streaming.Streams.dataDir("graft_snapovr_")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.coalesce(1), root, "b0",
          partitionBy = Seq("event_type"))
        val v1 = SnapshotCatalog.latestVersion(root)
        val preSignup = SnapshotCatalog.readSnapshot(spark, root)
          .filter(col("event_type") === "signup")
          .agg(graft.functions.Canon.sumCents(col("value"))).head().getLong(0)
        val untouchedBefore = SnapshotCatalog.manifestFiles(root, v1)
          .filterNot(_.contains("event_type=signup")).toSet
        // the correction: signup's values restate by +10%
        val (v2, nTouched) = SnapshotCatalog.replacePartitions(spark, root,
          ev.filter(col("event_type") === "signup")
            .withColumn("value", col("value") * 1.1).coalesce(1), "fix0")
        val untouchedAfter = SnapshotCatalog.manifestFiles(root, v2)
          .filterNot(_.contains("event_type=signup")).toSet
        val live = SnapshotCatalog.readSnapshot(spark, root)
        val corrected = live.filter(col("event_type") === "signup")
          .agg(count(lit(1)).as("n"),
            graft.functions.Canon.sumCents(col("value")).as("c")).head()
        val others = live.filter(col("event_type") =!= "signup")
          .agg(graft.functions.Canon.sumCents(col("value"))).head().getLong(0)
        val v1Signup = SnapshotCatalog.readSnapshot(spark, root, Some(v1))
          .filter(col("event_type") === "signup")
          .agg(graft.functions.Canon.sumCents(col("value"))).head().getLong(0)
        spark.range(1).select(
          lit(live.count()).as("n_rows"),
          lit(corrected.getLong(1)).as("signup_corrected_cents"),
          lit(others).as("others_cents"),
          lit(untouchedBefore == untouchedAfter && nTouched == 1)
            .as("untouched_files_reused"),
          lit(v1Signup == preSignup).as("prior_version_intact"))
      },
      Some("""SELECT
             |  (SELECT count(*) FROM events) AS n_rows,
             |  (SELECT CAST(sum(CAST(floor(value * 1.1 * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |     FROM events WHERE event_type = 'signup') AS signup_corrected_cents,
             |  (SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |     FROM events WHERE event_type <> 'signup') AS others_cents,
             |  TRUE AS untouched_files_reused,
             |  TRUE AS prior_version_intact""".stripMargin),
      "S-partitions: dynamic partition overwrite under snapshot isolation — one commit swaps exactly the touched partition, old version time-travels"),

    GraftQuery(
      "src25_sql_catalog",
      (spark, dir) => {
        // THE SQL CATALOG SURFACE — the reference's dashboards reach
        // tables BY NAME over plain SQL (`fire_detection_app.py:64-74`
        // aggregates fire_detections per camera; `streamlit_app.py:42`
        // selects absa_results): a registered `graft` TableCatalog
        // ([[GraftCatalog]]) serves the same shape natively —
        // `SELECT ... FROM graft.db.t` — with the analysis rewrite
        // planning the SAME pruned [[SnapshotFileIndex]] scan as the
        // programmatic API (partition cut audited via the executed
        // scan's numFiles), `VERSION AS OF` time-traveling the delta
        // log, and `INSERT INTO` landing as one catalog commit. The
        // dashboard aggregate (count / conditional count / max per
        // category, the fetch_statistics shape) runs verbatim against
        // the named table.
        import graft.sources.{GraftCatalog, SnapshotCatalog, SnapshotFileIndex}
        // ONE warehouse per JVM (the catalog instance is cached by name
        // with its warehouse option); each invocation gets a fresh
        // table NAME so benchmark/probe repetitions stay independent
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val tbl = "events_" + src25Runs.incrementAndGet()
        val root = s"$wh/db/$tbl"
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val split = maxId / 2
        SnapshotCatalog.append(ev.filter(col("event_id") <= split).coalesce(1),
          root, "b0", partitionBy = Seq("event_type"))
        val v1 = SnapshotCatalog.latestVersion(root)
        // the second half lands through SQL — INSERT INTO is ONE commit
        ev.filter(col("event_id") > split).coalesce(1)
          .createOrReplaceTempView("src25_tail")
        spark.sql(s"INSERT INTO graft_src25.db.$tbl " +
          "SELECT event_id, user_id, value, event_type FROM src25_tail")
        // the dashboard statistics query, per category, by table name
        val stats = spark.sql(
          s"""SELECT event_type,
            |  count(*) AS n_events,
            |  sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS n_hot,
            |  CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_value_cents,
            |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
            |FROM graft_src25.db.$tbl
            |GROUP BY event_type""".stripMargin)
        // time travel by name: the pre-INSERT snapshot
        val v1Rows = spark.sql(
          s"SELECT count(*) AS n FROM graft_src25.db.$tbl VERSION AS OF $v1")
          .head().getLong(0)
        // the named partition-filtered read cuts files at planning time
        val cut = spark.sql(
          s"SELECT count(*) AS n FROM graft_src25.db.$tbl WHERE event_type = 'signup'")
        val (_, scanned, total) = SnapshotFileIndex.collectScanned(cut, root)
        val nSplit = ev.filter(col("event_id") <= split).count()
        stats.select(col("event_type"), col("n_events"), col("n_hot"),
            col("max_value_cents"), col("sum_value_cents"),
            lit(v1Rows == nSplit).as("version_as_of_served_old_snapshot"),
            lit(scanned < total).as("named_read_cut_partitions"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
             |  CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_value_cents,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS version_as_of_served_old_snapshot,
             |  TRUE AS named_read_cut_partitions
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      "S-catalog: DSv2 TableCatalog — dashboard SQL by table name over the delta log, VERSION AS OF, INSERT INTO as one commit, pruned FileIndex scan"),

    GraftQuery(
      "src26_sql_dml",
      (spark, dir) => {
        // SQL ROW-LEVEL DML THROUGH THE CATALOG — `DELETE FROM` routes
        // into the deletion-vector tier via the DSv2 SupportsDelete
        // seam: ONE O(matched rows) commit, NO data file rewritten
        // (manifest identity audited across the delete — at 100 TB a
        // takedown costs the matched rows, never a rewrite), time
        // travel still serves the pre-delete content, and an
        // inexpressible predicate REFUSES at analysis instead of
        // deleting the wrong rows. `TRUNCATE TABLE` is one replace
        // commit to empty with the prior version intact. The Delta-user
        // migration surface: DELETE/TRUNCATE/INSERT by table name with
        // the same semantics.
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val tbl = "dml_" + src25Runs.incrementAndGet()
        val root = s"$wh/db/$tbl"
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.coalesce(2), root, "b0")
        val v1 = SnapshotCatalog.latestVersion(root)
        val filesBefore = SnapshotCatalog.manifestFiles(root, v1)
        spark.sql(s"DELETE FROM graft_src25.db.$tbl " +
          "WHERE event_type = 'click' OR value < 1.0")
        val v2 = SnapshotCatalog.latestVersion(root)
        val dvDelete = SnapshotCatalog.history(root)
          .find(_._1 == v2).exists(_._2 == "delete")
        val filesUntouched =
          SnapshotCatalog.manifestFiles(root, v2) == filesBefore
        // a predicate BEYOND the pushed-filter subset (arithmetic):
        // the full-predicate tier routes through deleteWhere — same
        // one-DV-commit, no-rewrite shape
        spark.sql(s"DELETE FROM graft_src25.db.$tbl WHERE event_id % 97 = 0")
        val v3 = SnapshotCatalog.latestVersion(root)
        val arithmeticDv = SnapshotCatalog.history(root)
          .find(_._1 == v3).exists(_._2 == "delete") &&
          SnapshotCatalog.manifestFiles(root, v3) == filesBefore
        // a SUBQUERY predicate refuses at analysis, loudly — never a
        // wrong delete
        val refused =
          try { spark.sql(s"DELETE FROM graft_src25.db.$tbl WHERE " +
                  s"event_id IN (SELECT event_id FROM graft_src25.db.$tbl " +
                  "WHERE value > 99)")
                false }
          catch { case _: Exception => true }
        val after = spark.sql(
          s"""SELECT count(*) AS n,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |FROM graft_src25.db.$tbl""".stripMargin).head()
        val preDelete = spark.sql(
          s"SELECT count(*) AS n FROM graft_src25.db.$tbl VERSION AS OF $v1")
          .head().getLong(0)
        val total = ev.count()
        spark.sql(s"TRUNCATE TABLE graft_src25.db.$tbl")
        val postTrunc = spark.sql(
          s"SELECT count(*) AS n FROM graft_src25.db.$tbl").head().getLong(0)
        spark.range(1).select(
          lit(after.getLong(0)).as("n_after_delete"),
          lit(after.getLong(1)).as("cents_after_delete"),
          lit(dvDelete && filesUntouched)
            .as("delete_landed_as_dv_no_rewrite"),
          lit(arithmeticDv).as("arithmetic_predicate_dv_delete"),
          lit(refused).as("subquery_delete_refused"),
          lit(preDelete == total).as("time_travel_served_predelete"),
          lit(postTrunc == 0L).as("truncate_emptied_live"))
      },
      Some("""SELECT count(*) AS n_after_delete,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_after_delete,
             |  TRUE AS delete_landed_as_dv_no_rewrite,
             |  TRUE AS arithmetic_predicate_dv_delete,
             |  TRUE AS subquery_delete_refused,
             |  TRUE AS time_travel_served_predelete,
             |  TRUE AS truncate_emptied_live
             |FROM events WHERE NOT (event_type = 'click' OR value < 1.0)
             |  AND event_id % 97 <> 0""".stripMargin),
      "S-catalog: SQL row-level DML — DELETE FROM lands as one deletion-vector commit (no rewrite) for ANY deterministic predicate, subqueries refuse, TRUNCATE keeps time travel"),

    GraftQuery(
      "src27_sql_update_merge",
      (spark, dir) => {
        // SQL UPDATE + MERGE INTO through the catalog — the rest of the
        // Delta-user DML matrix: UPDATE lands as ONE merge-on-read
        // commit (matched positions DV-deleted + transformed copies
        // appended atomically — O(matched rows), untouched files
        // byte-reused, and the change feed derives it as retractions +
        // inserts), and the canonical upsert MERGE (ON key equality,
        // UPDATE SET *, INSERT *) routes to the same mergeOnRead the
        // Scala API uses; a WHEN NOT MATCHED BY SOURCE clause refuses
        // loudly (src28 covers the conditioned matched-action matrix).
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val tbl = "updmrg_" + src25Runs.incrementAndGet()
        val root = s"$wh/db/$tbl"
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.coalesce(2), root, "b0")
        val filesBefore = SnapshotCatalog.manifestFiles(root, 1)
        // UPDATE: one O(matched) commit
        spark.sql(s"UPDATE graft_src25.db.$tbl SET value = value * 2 " +
          "WHERE event_type = 'error'")
        val vUpd = SnapshotCatalog.latestVersion(root)
        val updAudit = SnapshotCatalog.history(root).last._2 == "merge" &&
          filesBefore.forall(
            SnapshotCatalog.manifestFiles(root, vUpd).contains)
        // the upsert MERGE: restate every 50th row (+100) and add 5
        // synthetic rows past the id space
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val spark2 = spark
        import spark2.implicits._
        spark.sql(s"SELECT event_id, event_type, value + 100 AS value " +
            s"FROM graft_src25.db.$tbl WHERE event_id % 50 = 0")
          .unionByName((1L to 5L).map(i =>
            (maxId + i, "synthetic", 1.0)).toDF("event_id", "event_type", "value"))
          .createOrReplaceTempView("src27_src")
        spark.sql(
          s"""MERGE INTO graft_src25.db.$tbl t USING src27_src s
             |ON t.event_id = s.event_id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val mrgAudit = SnapshotCatalog.history(root).last._2 == "merge"
        // a non-equality ON condition refuses loudly — the merge-on-
        // read tier keys on same-named equi columns (a theta merge
        // would multi-match by construction); NOT MATCHED BY SOURCE
        // now routes through mergeInto (src30 covers it)
        val refused =
          try { spark.sql(
            s"""MERGE INTO graft_src25.db.$tbl t USING src27_src s
               |ON t.event_id < s.event_id
               |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
            false }
          catch { case _: Exception => true }
        spark.sql(
          s"""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  $updAudit AS update_one_commit_no_rewrite,
             |  $mrgAudit AS merge_landed_as_merge_commit,
             |  $refused AS unsupported_merge_refused
             |FROM graft_src25.db.$tbl
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""WITH up AS (
             |  SELECT event_id,
             |    event_type,
             |    CASE WHEN event_type = 'error' THEN value * 2 ELSE value END AS value
             |  FROM events),
             |src AS (
             |  SELECT event_id, event_type, value + 100 AS value
             |  FROM up WHERE event_id % 50 = 0
             |  UNION ALL
             |  SELECT (SELECT max(event_id) FROM events) + i, 'synthetic', 1.0
             |  FROM range(1, 6) t(i)),
             |final AS (
             |  SELECT * FROM up
             |  WHERE event_id NOT IN (SELECT event_id FROM src)
             |  UNION ALL SELECT * FROM src)
             |SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS update_one_commit_no_rewrite,
             |  TRUE AS merge_landed_as_merge_commit,
             |  TRUE AS unsupported_merge_refused
             |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin),
      "S-catalog: SQL UPDATE (one merge-on-read commit, CDC-derivable) + upsert MERGE INTO routed to mergeOnRead; non-equi ON refuses"),

    GraftQuery(
      "src28_sql_merge_matrix",
      (spark, dir) => {
        // THE FULL MERGE MATCHED-ACTION MATRIX — the Delta-user shapes
        // past the star upsert: `WHEN MATCHED AND cond THEN DELETE`,
        // conditioned PARTIAL `UPDATE SET` (RHS mixing both sides,
        // evaluated against the PRE-merge row), and conditioned
        // `INSERT (cols) VALUES (...)` — all landing as ONE
        // merge-on-read commit ([[SnapshotCatalog.mergeInto]]): every
        // actioned target position DV-deleted, the update copies and
        // insert rows appended together, untouched files byte-reused
        // (audited by manifest identity — at 100 TB the commit costs
        // O(matched + inserted rows), never a rewrite). Clause-order
        // semantics: a matched row takes the FIRST clause whose
        // condition holds. A source with duplicate merge keys REFUSES
        // loudly (non-deterministic matched action) and commits
        // nothing.
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val tbl = "mrgx_" + src25Runs.incrementAndGet()
        val root = s"$wh/db/$tbl"
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.coalesce(2), root, "b0")
        val v1 = SnapshotCatalog.latestVersion(root)
        val filesBefore = SnapshotCatalog.manifestFiles(root, v1)
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val spark2 = spark
        import spark2.implicits._
        // source: takedowns (%37), restatements (%40), 5 new rows to
        // insert (op='new') and 3 the insert condition must skip
        spark.sql(
          s"""SELECT event_id, value + 100 AS nv,
             |  CASE WHEN event_id % 37 = 0 THEN 'del' ELSE 'upd' END AS op
             |FROM graft_src25.db.$tbl
             |WHERE event_id % 37 = 0 OR event_id % 40 = 0""".stripMargin)
          .unionByName(
            ((1L to 5L).map(i => (maxId + i, 5.0, "new")) ++
              (6L to 8L).map(i => (maxId + i, 5.0, "skip")))
              .toDF("event_id", "nv", "op"))
          .createOrReplaceTempView("src28_src")
        spark.sql(
          s"""MERGE INTO graft_src25.db.$tbl t USING src28_src s
             |ON t.event_id = s.event_id
             |WHEN MATCHED AND s.op = 'del' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET value = s.nv
             |WHEN NOT MATCHED AND s.op = 'new'
             |  THEN INSERT (event_id, event_type, value) VALUES (s.event_id, 'merged', s.nv)""".stripMargin)
        val v2 = SnapshotCatalog.latestVersion(root)
        val oneCommitNoRewrite = v2 == v1 + 1 &&
          SnapshotCatalog.history(root).last._2 == "merge" &&
          filesBefore.forall(SnapshotCatalog.manifestFiles(root, v2).contains)
        // duplicate merge keys → non-deterministic matched action:
        // refuse loudly, commit nothing
        Seq((40L, 1.0), (40L, 2.0)).toDF("event_id", "nv")
          .createOrReplaceTempView("src28_dup")
        val dupRefused =
          try { spark.sql(
            s"""MERGE INTO graft_src25.db.$tbl t USING src28_dup s
               |ON t.event_id = s.event_id
               |WHEN MATCHED THEN UPDATE SET value = s.nv""".stripMargin)
            false }
          catch { case _: Exception =>
            SnapshotCatalog.latestVersion(root) == v2 }
        spark.sql(
          s"""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  $oneCommitNoRewrite AS one_merge_commit_no_rewrite,
             |  $dupRefused AS multi_match_refused_nothing_committed
             |FROM graft_src25.db.$tbl
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""WITH final AS (
             |  SELECT event_id, event_type,
             |    CASE WHEN event_id % 40 = 0 THEN value + 100 ELSE value END AS value
             |  FROM events WHERE event_id % 37 <> 0
             |  UNION ALL
             |  SELECT (SELECT max(event_id) FROM events) + i, 'merged', 5.0
             |  FROM range(1, 6) t(i))
             |SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS one_merge_commit_no_rewrite,
             |  TRUE AS multi_match_refused_nothing_committed
             |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin),
      "S-catalog: the MERGE matched-action matrix — conditioned DELETE + partial UPDATE + conditioned INSERT as one merge-on-read commit; multi-match refuses"),

    GraftQuery(
      "src29_sql_maintenance",
      (spark, dir) => {
        // SQL MAINTENANCE VERBS — a migrating Delta user types
        // `OPTIMIZE` / `VACUUM` / `DESCRIBE HISTORY` before anything
        // else; the [[GraftSqlParser]] extension gives them a grammar
        // (no Spark statement exists) resolving through the registered
        // catalog. The audits pin the 100 TB contracts: DESCRIBE
        // HISTORY is O(surviving commits) metadata; OPTIMIZE fires the
        // INCREMENTAL pass — the clean large file survives BYTE-
        // IDENTICAL (md5-audited: a user running OPTIMIZE after every
        // load pays O(new litter), never O(table)), DVs apply and
        // clear, litter bin-packs; VACUUM expires history while the
        // live snapshot stays intact and time-travelable at its own
        // version.
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val tbl = "maint_" + src25Runs.incrementAndGet()
        val root = s"$wh/db/$tbl"
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val cut = maxId / 2
        // one large clean batch + 5 small-file litter appends
        SnapshotCatalog.append(ev.filter(col("event_id") <= cut).coalesce(1),
          root, "big")
        val w = (maxId - cut + 4) / 5
        (0L until 5L).foreach { b =>
          SnapshotCatalog.append(ev.filter(
            col("event_id") > cut + b * w &&
              col("event_id") <= (cut + (b + 1) * w)).coalesce(1),
            root, s"lit$b")
        }
        // the delete's positions land only in the litter files — the
        // big file stays CLEAN, so OPTIMIZE must not touch it
        spark.sql(s"DELETE FROM graft_src25.db.$tbl " +
          s"WHERE event_id > $cut AND event_type = 'click'")
        val bigFile = SnapshotCatalog.manifestFiles(root, 1).head
        def md5(p: String): String = {
          val d = java.security.MessageDigest.getInstance("MD5")
          java.util.Base64.getEncoder.encodeToString(d.digest(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
              new org.apache.hadoop.fs.Path(p).toUri.getPath))))
        }
        val bigMd5 = md5(bigFile)
        val hist = spark.sql(s"DESCRIBE HISTORY graft_src25.db.$tbl")
          .collect().map(r => (r.getInt(0), r.getString(1)))
        val histOk = hist.length == 7 && hist.head._2 == "delete" &&
          hist.map(_._1).toSeq == (7 to 1 by -1) &&
          hist.tail.forall(_._2 == "append")
        val filesBefore = SnapshotCatalog
          .manifestFiles(root, SnapshotCatalog.latestVersion(root)).size
        val fired = spark.sql(s"OPTIMIZE graft_src25.db.$tbl")
          .collect().head.getBoolean(0)
        val vOpt = SnapshotCatalog.latestVersion(root)
        val optIncremental = fired &&
          SnapshotCatalog.manifestFiles(root, vOpt).contains(bigFile) &&
          md5(bigFile) == bigMd5 &&
          SnapshotCatalog.dvFiles(root, vOpt).isEmpty &&
          SnapshotCatalog.manifestFiles(root, vOpt).size < filesBefore
        val vac = spark.sql(s"VACUUM graft_src25.db.$tbl RETAIN 0 HOURS")
          .collect().head
        val vacuumed = vac.getInt(0) > 0 &&
          SnapshotCatalog.versions(root) == Seq(vOpt)
        spark.sql(
          s"""SELECT count(*) AS n_live,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS live_cents,
             |  $histOk AS describe_history_complete,
             |  $optIncremental AS optimize_incremental_big_file_untouched,
             |  $vacuumed AS vacuum_expired_history_kept_live
             |FROM graft_src25.db.$tbl""".stripMargin)
      },
      Some("""SELECT count(*) AS n_live,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS live_cents,
             |  TRUE AS describe_history_complete,
             |  TRUE AS optimize_incremental_big_file_untouched,
             |  TRUE AS vacuum_expired_history_kept_live
             |FROM events
             |WHERE NOT (event_id > (SELECT max(event_id) // 2 FROM events)
             |           AND event_type = 'click')""".stripMargin),
      "S-catalog: SQL maintenance verbs — DESCRIBE HISTORY metadata rows, OPTIMIZE firing the incremental pass (clean large file md5-identical), VACUUM expiry with live content intact"),

    GraftQuery(
      "src30_merge_by_source",
      (spark, dir) => {
        // `WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE` — the last
        // MERGE shape in the Delta-user matrix: target rows matching
        // NO source row take the first by-source clause whose
        // condition holds (clause order exercised: conditioned DELETE
        // before an unconditioned UPDATE). Still ONE merge-on-read
        // commit: every actioned position — matched AND unmatched —
        // DV-deleted together, transformed copies appended, untouched
        // files byte-reused (manifest-audited: at 100 TB the by-source
        // side scans the table — inherent to its semantics — but
        // WRITES only O(actioned rows), never a rewrite). The narrowed
        // concurrent-abort is disabled for these merges: a concurrent
        // append disjoint from the source keys is exactly what the
        // by-source clause acts on.
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val tbl = "mrgbys_" + src25Runs.incrementAndGet()
        val root = s"$wh/db/$tbl"
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.coalesce(2), root, "b0")
        val v1 = SnapshotCatalog.latestVersion(root)
        val filesBefore = SnapshotCatalog.manifestFiles(root, v1)
        // source: restatements for every 10th row; everything else is
        // unmatched-by-source and falls to the by-source clauses
        spark.sql(
          s"""SELECT event_id, value + 100 AS nv
             |FROM graft_src25.db.$tbl WHERE event_id % 10 = 0""".stripMargin)
          .createOrReplaceTempView("src30_src")
        spark.sql(
          s"""MERGE INTO graft_src25.db.$tbl t USING src30_src s
             |ON t.event_id = s.event_id
             |WHEN MATCHED THEN UPDATE SET value = s.nv
             |WHEN NOT MATCHED BY SOURCE AND t.event_type = 'click' THEN DELETE
             |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET value = t.value + 1""".stripMargin)
        val v2 = SnapshotCatalog.latestVersion(root)
        val oneCommitNoRewrite = v2 == v1 + 1 &&
          SnapshotCatalog.history(root).last._2 == "merge" &&
          filesBefore.forall(SnapshotCatalog.manifestFiles(root, v2).contains)
        spark.sql(
          s"""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  $oneCommitNoRewrite AS one_merge_commit_no_rewrite
             |FROM graft_src25.db.$tbl
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""WITH final AS (
             |  SELECT event_id, event_type,
             |    CASE WHEN event_id % 10 = 0 THEN value + 100
             |         ELSE value + 1 END AS value
             |  FROM events
             |  WHERE event_id % 10 = 0
             |     OR event_type <> 'click')
             |SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS one_merge_commit_no_rewrite
             |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin),
      "S-catalog: MERGE WHEN NOT MATCHED BY SOURCE (conditioned DELETE + UPDATE, clause order) as the same single merge-on-read commit — matched and unmatched positions DV-deleted together, no rewrite"),

    GraftQuery(
      "src31_sql_constraints_evolution",
      (spark, dir) => {
        // CHECK CONSTRAINTS + TBLPROPERTIES + DROP COLUMN — the write-
        // quality tier a migrating Delta user reaches for next:
        // `ADD CONSTRAINT` validates existing rows in ONE pass then
        // lands metadata-only; every later INSERT/UPDATE/MERGE enforces
        // it INSIDE its own write pass (a cond-OR-raise_error filter —
        // zero extra scans at any scale) and a violating write commits
        // NOTHING; TBLPROPERTIES are log-carried (one `K` line per
        // change, survive rewrites); DROP COLUMN is metadata-only with
        // a resurrection tombstone (re-adding the name would serve the
        // dropped data from pre-drop files — refused until a rewrite).
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val tbl = "cons_" + src25Runs.incrementAndGet()
        val root = s"$wh/db/$tbl"
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.coalesce(2), root, "b0")
        // constraint lands metadata-only after a one-pass validation
        val vBefore = SnapshotCatalog.latestVersion(root)
        spark.sql(s"ALTER TABLE graft_src25.db.$tbl " +
          "ADD CONSTRAINT value_nonneg CHECK (value >= 0)")
        val consMetadataOnly =
          SnapshotCatalog.latestVersion(root) == vBefore + 1 &&
          SnapshotCatalog.manifestFiles(root, vBefore + 1) ==
            SnapshotCatalog.manifestFiles(root, vBefore)
        // a violating INSERT fails the WRITE and commits nothing
        val vC = SnapshotCatalog.latestVersion(root)
        val violationRefused =
          try { spark.sql(s"INSERT INTO graft_src25.db.$tbl " +
            "VALUES (100001, 'bad', -1.0)"); false }
          catch { case _: Exception =>
            SnapshotCatalog.latestVersion(root) == vC }
        spark.sql(s"INSERT INTO graft_src25.db.$tbl " +
          "VALUES (100001, 'synthetic', 1.0)")
        // TBLPROPERTIES round-trip through the log
        spark.sql(s"ALTER TABLE graft_src25.db.$tbl " +
          "SET TBLPROPERTIES ('pipeline' = 'graft-r17')")
        val propsOk = spark.sql(s"SHOW TBLPROPERTIES graft_src25.db.$tbl")
          .collect().exists(r =>
            r.getString(0) == "pipeline" && r.getString(1) == "graft-r17")
        // DROP COLUMN: accrete a note column, write through it, drop it
        // metadata-only; the name refuses to come back (tombstone)
        spark.sql(s"ALTER TABLE graft_src25.db.$tbl ADD COLUMNS (note STRING)")
        spark.sql(s"INSERT INTO graft_src25.db.$tbl " +
          "VALUES (100002, 'synthetic', 1.0, 'temp')")
        val filesPreDrop = SnapshotCatalog
          .manifestFiles(root, SnapshotCatalog.latestVersion(root))
        spark.sql(s"ALTER TABLE graft_src25.db.$tbl DROP COLUMN note")
        val vDrop = SnapshotCatalog.latestVersion(root)
        val dropMetadataOnly =
          SnapshotCatalog.manifestFiles(root, vDrop) == filesPreDrop &&
          spark.sql(s"SELECT * FROM graft_src25.db.$tbl").columns.toSeq ==
            Seq("event_id", "event_type", "value")
        val resurrectionRefused =
          try { spark.sql(s"ALTER TABLE graft_src25.db.$tbl " +
            "ADD COLUMNS (note STRING)"); false }
          catch { case _: Exception => true }
        spark.sql(
          s"""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  $consMetadataOnly AS constraint_metadata_only,
             |  $violationRefused AS violation_refused_nothing_committed,
             |  $propsOk AS tblproperties_log_carried,
             |  $dropMetadataOnly AS drop_column_metadata_only,
             |  $resurrectionRefused AS tombstone_refused_resurrection
             |FROM graft_src25.db.$tbl
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""WITH final AS (
             |  SELECT event_id, event_type, value FROM events
             |  UNION ALL
             |  SELECT 100001, 'synthetic', 1.0
             |  UNION ALL
             |  SELECT 100002, 'synthetic', 1.0)
             |SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS constraint_metadata_only,
             |  TRUE AS violation_refused_nothing_committed,
             |  TRUE AS tblproperties_log_carried,
             |  TRUE AS drop_column_metadata_only,
             |  TRUE AS tombstone_refused_resurrection
             |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin),
      "S-catalog: CHECK constraints (one-pass ADD validation, in-write-pass enforcement, violating writes commit nothing) + log-carried TBLPROPERTIES + metadata-only DROP COLUMN with resurrection tombstone"),

    GraftQuery(
      "src32_shallow_clone",
      (spark, dir) => {
        // SHALLOW CLONE — the zero-copy sandbox (Delta's CLONE shape):
        // one v1 commit REFERENCING the source's files + in-effect DVs
        // + schema/spec/properties (O(live files) metadata; at 100 TB a
        // clone costs a manifest write, never a copy — audited here by
        // the clone's data dir holding ZERO files). Clone and source
        // then diverge independently: the clone's DELETE lands its own
        // DV commit, the source's later append never shows in the
        // clone, and the clone's vacuum GCs only its own staged files.
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val n = src25Runs.incrementAndGet()
        val (srcT, cloneT) = (s"clsrc_$n", s"clone_$n")
        val (srcRoot, cloneRoot) = (s"$wh/db/$srcT", s"$wh/db/$cloneT")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        SnapshotCatalog.append(ev.coalesce(2), srcRoot, "b0")
        // a source-side DV delete the clone must inherit in effect
        spark.sql(s"DELETE FROM graft_src25.db.$srcT WHERE event_id % 11 = 0")
        spark.sql(s"CREATE TABLE graft_src25.db.$cloneT " +
          s"SHALLOW CLONE graft_src25.db.$srcT")
        val zeroCopy =
          SnapshotCatalog.listDataEntries(s"$cloneRoot/data").isEmpty
        // divergence both ways
        spark.sql(s"DELETE FROM graft_src25.db.$cloneT WHERE event_id % 7 = 0")
        spark.sql(s"INSERT INTO graft_src25.db.$srcT " +
          "VALUES (200001, 'synthetic', 1.0)")
        val srcIndependent =
          spark.sql(s"SELECT count(*) FROM graft_src25.db.$srcT " +
            "WHERE event_id % 7 = 0 AND event_id % 11 <> 0")
            .head().getLong(0) > 0L &&
          spark.sql(s"SELECT count(*) FROM graft_src25.db.$cloneT " +
            "WHERE event_id = 200001").head().getLong(0) == 0L
        spark.sql(
          s"""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  $zeroCopy AS clone_zero_copy,
             |  $srcIndependent AS clone_source_independent
             |FROM graft_src25.db.$cloneT
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS clone_zero_copy,
             |  TRUE AS clone_source_independent
             |FROM events
             |WHERE event_id % 11 <> 0 AND event_id % 7 <> 0
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      "S-catalog: SHALLOW CLONE — zero-copy v1 commit referencing the source's files + in-effect DVs; clone and source diverge independently (clone DELETE, source append)"),

    GraftQuery(
      "src33_scoped_optimize",
      (spark, dir) => {
        // `OPTIMIZE t WHERE p = '...'` — Delta's partition-scoped pass:
        // only matching partitions' litter compacts and only their DV
        // positions apply; OUT-of-scope partitions keep their VERY
        // files (manifest-identity audited) and their deletes stay in
        // effect (the DV set is restructured — withdrawn and re-landed
        // for surviving positions — never reset). At 100 TB this is
        // the maintenance shape a partitioned ingest runs after each
        // load: O(touched partition's litter), never a table pass.
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val tbl = "optw_" + src25Runs.incrementAndGet()
        val root = s"$wh/db/$tbl"
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        // 3 litter appends per partition layout
        (0 until 3).foreach { b =>
          SnapshotCatalog.append(ev.filter(col("event_id") % 3 === b)
            .coalesce(1), root, s"b$b", partitionBy = Seq("event_type"))
        }
        // deletes landing DV positions in EVERY partition
        spark.sql(s"DELETE FROM graft_src25.db.$tbl WHERE event_id % 17 = 0")
        val vPre = SnapshotCatalog.latestVersion(root)
        val outPre = SnapshotCatalog.manifestFiles(root, vPre)
          .filterNot(_.contains("event_type=click"))
        spark.sql(s"OPTIMIZE graft_src25.db.$tbl WHERE event_type = 'click'")
        val vPost = SnapshotCatalog.latestVersion(root)
        val postFiles = SnapshotCatalog.manifestFiles(root, vPost)
        val scopedIncremental =
          // out-of-scope partitions: the very same files
          outPre.forall(postFiles.contains) &&
          // in-scope partition compacted below its litter count
          postFiles.count(_.contains("event_type=click")) <
            SnapshotCatalog.manifestFiles(root, vPre)
              .count(_.contains("event_type=click")) &&
          // out-of-scope deletes still in effect via re-landed DVs
          SnapshotCatalog.dvFiles(root, vPost).nonEmpty
        spark.sql(
          s"""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  $scopedIncremental AS scoped_optimize_incremental
             |FROM graft_src25.db.$tbl
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS scoped_optimize_incremental
             |FROM events WHERE event_id % 17 <> 0
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      "S-catalog: partition-scoped OPTIMIZE WHERE — in-scope litter compacts with deletes applied, out-of-scope partitions keep their very files and their deletion vectors re-land intact"),

    GraftQuery(
      "src34_copy_into",
      (spark, dir) => {
        // `COPY INTO t FROM '<dir>'` — Delta's idempotent external-file
        // loader: EXACTLY ONCE PER SOURCE FILE, because the loaded-file
        // markers (`L` log lines, checkpointed like entries) land in
        // the SAME atomic commit as the data — a replayed COPY loads
        // zero files and commits nothing; an incremental COPY after new
        // files arrive loads exactly the remainder. At 100 TB the skip
        // path is an O(source files) driver anti-join against the
        // log-carried set — no data read for anything already loaded.
        import graft.sources.{GraftCatalog, SnapshotCatalog}
        val wh = src25Warehouse
        spark.conf.set("spark.sql.catalog.graft_src25",
          classOf[GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_src25.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_src25.db")
        val n = src25Runs.incrementAndGet()
        val tbl = s"cpy_$n"
        val root = s"$wh/db/$tbl"
        spark.sql(s"CREATE TABLE graft_src25.db.$tbl " +
          "(event_id BIGINT, event_type STRING, value DOUBLE)")
        val ev = graft.core.Tables(spark, dir).events
          .select(col("event_id"), col("event_type"), col("value"))
        val staging = graft.streaming.Streams.dataDir(s"graft_cpy_src_$n")
        ev.filter(col("event_id") % 2 === 0).coalesce(1)
          .write.parquet(s"$staging/even")
        val n1 = spark.sql(s"COPY INTO graft_src25.db.$tbl FROM '$staging'")
          .collect().head.getInt(0)
        val vAfter = SnapshotCatalog.latestVersion(root)
        val n2 = spark.sql(s"COPY INTO graft_src25.db.$tbl FROM '$staging'")
          .collect().head.getInt(0)
        val replayNoop = n2 == 0 &&
          SnapshotCatalog.latestVersion(root) == vAfter
        ev.filter(col("event_id") % 2 === 1).coalesce(1)
          .write.parquet(s"$staging/odd")
        val n3 = spark.sql(s"COPY INTO graft_src25.db.$tbl FROM '$staging'")
          .collect().head.getInt(0)
        val exactlyOncePerFile = n1 == 1 && replayNoop && n3 == 1
        spark.sql(
          s"""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  $exactlyOncePerFile AS copy_exactly_once_per_file
             |FROM graft_src25.db.$tbl
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             |  TRUE AS copy_exactly_once_per_file
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      "S-catalog: COPY INTO — idempotent external-file loading, exactly once per source file (markers atomic with the data commit), replay loads zero, incremental loads the remainder"))
}
