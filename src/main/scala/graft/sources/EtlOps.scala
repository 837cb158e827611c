package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.Materialize.scratchDir

/** ETL source/sink surface — SURVEY.md §2.1, the reference's own core job:
  * extract JSON from a paginated API, normalize, append into a raw
  * collection with an ingestion timestamp, and re-run without duplicating
  * (/root/reference/README.md:11–12, 21–23, 27–28, 98–99).
  *
  * Offline substitutions (the snapshot has no network and no MongoDB):
  * the paginated API becomes page FILES of JSON records; the Mongo
  * collection becomes a parquet directory. Both are format details behind
  * the same dataflow — `format("mongodb")` via the mongo connector would
  * slot into `Connector.sink` unchanged.
  *
  * Scale notes (100 TB): sinks write partitioned parquet via the normal
  * distributed writer (no driver materialization); upsert is one window
  * (single shuffle on the natural key) over union-of-loads, never a
  * row-at-a-time merge; the page loop is per-PAGE driver work (bounded by
  * page count, the reference's own loop shape) — each page's rows are
  * parsed executor-side by the JSON reader.
  */
object EtlOps {

  /** One source→transform→sink pipeline — the reference's connector unit
    * (README.md:8, 74). Each stage is independently testable; `run` wires
    * them in the mandated E→T→L order.
    */
  final case class Connector(
      name: String,
      source: SparkSession => DataFrame,
      transform: DataFrame => DataFrame,
      sink: DataFrame => Unit) {
    def run(spark: SparkSession): Unit = sink(transform(source(spark)))
  }

  /** Schema-on-read JSON scan (README.md:21): round-trip the nation dim
    * through JSON lines and read it back with inference. JSON numbers
    * infer as BIGINT — the typed-cast stage after a JSON scan is exactly
    * the reference's "clean or reformat" step.
    */
  def scanJson(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "json_src").toString
    spark.read.parquet(s"$sfDir/nation.parquet")
      .write.mode(SaveMode.Overwrite).json(dir)
    spark.read.json(dir)
      .select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast("long").as("n_regionkey"))
      .orderBy("n_nationkey")
  }

  /** Header+typed CSV scan (README.md:22 format normalization): region
    * through csv with explicit schema (inference would re-scan the data —
    * at 100 TB always pass the schema).
    */
  def scanCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "csv_src").toString
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
    spark.read
      .option("header", "true")
      .schema("r_regionkey INT, r_name STRING")
      .csv(dir)
      .orderBy("r_regionkey")
  }

  /** JSONL export round trip — the interchange format LLM training
    * corpora actually ship in (one JSON document per line, splittable,
    * appendable). Write shards the corpus as .json lines, read declares
    * the schema (inference would re-scan — the scan_xml rule), and the
    * audit census must match the parquet original byte-for-byte:
    * JSON round-trips the text payload losslessly or this entry goes
    * red. Oracle = the same census on the source table.
    */
  def sinkJsonl(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "docs_jsonl").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.mode(SaveMode.Overwrite).json(dir)
    spark.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_meta"),
        sum(length(col("text"))).as("chars_text"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("source")
  }

  /** Recursive + glob file discovery — the layout-tolerant scan a raw
    * data lake needs: loads arrive in NESTED directories of varying
    * depth (not hive-partitioned), with stray non-data files alongside.
    * `recursiveFileLookup` walks the tree, `pathGlobFilter` admits only
    * the data files — the junk sentinel staged next to them must be
    * invisible (the read would otherwise fail on it). Oracle = the
    * original table: discovery must be complete AND exact.
    */
  def scanGlob(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "glob_src")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    region.filter(col("r_regionkey") % 2 === 0)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/even/load")
    region.filter(col("r_regionkey") % 2 =!= 0)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/odd/deeper/load")
    Files.writeString(dir.resolve("junk.txt"), "not parquet at all")
    spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir.toString)
      .orderBy("r_regionkey")
  }

  /** FILE PROVENANCE via the hidden `_metadata` struct (round 8) — the
    * per-file lineage an idempotent append pipeline audits with
    * (README.md:27–28: which load did each record arrive in?): every
    * file-source row carries `_metadata.file_name` for free (constant
    * per file, populated by the reader — no join against a manifest),
    * so "rows / distinct users / high-water mark PER LOAD FILE" is one
    * group-by away. Two deterministic parity-split load files make the
    * provenance oracle-pairable: the file a row lands in is a pure
    * function of its key.
    */
  def scanFileMetadata(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "events_files")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"))
    for (half <- 0 to 1) {
      val tmp = scratchDir(sfDir, s"events_files_stage$half")
      events.filter(col("event_id") % 2 === half)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val part = Materialize.listDir(tmp).find(_.toString.endsWith(".parquet")).get
      Files.copy(part, dir.resolve(s"load-$half.parquet"))
    }
    spark.read.parquet(dir.toString)
      .select(
        regexp_extract(col("_metadata.file_name"), "(load-\\d+)", 1)
          .as("load_file"),
        col("event_id"), col("user_id"))
      .groupBy(col("load_file"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        max(col("event_id")).as("max_id"))
      .orderBy("load_file")
  }

  /** Raw TEXT-source scan — the format a web-corpus pipeline actually
    * starts from (one record per line, no schema at all): the documents
    * table round-trips through `.text` files (tab-joined — the corpus
    * carries no tabs/newlines, asserted by the n_fields audit column) and
    * is re-parsed line-side with split-limit 2, so payload tabs would
    * stay in the text rather than corrupt the id. The schema boundary is
    * THE point: everything after the split is the engine's usual typed
    * world, and the oracle proves the round-trip lossless against the
    * original table. At 100 TB this is a plain linear scan; text files
    * split by line, so parallelism follows file/block layout.
    */
  def scanText(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "text_src").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")))
      .write.mode(SaveMode.Overwrite).text(dir)
    val parts = split(col("value"), "\t", 2)
    spark.read.text(dir)
      .select(
        element_at(parts, 1).cast("long").as("doc_id"),
        element_at(parts, 2).as("text_rt"),
        size(split(col("value"), "\t", -1)).as("n_fields"))
      .orderBy("doc_id")
  }

  /** In-flight pipeline VALIDATION metrics (README.md:31–32, 63 "Test
    * and validate your pipeline"): the load's row count, value total,
    * and null-key count are OBSERVED during the query itself via
    * `observe()` (accumulator-backed — collected as the rows stream
    * past, no second job). At 100 TB this is the only affordable
    * validation: a separate metrics re-scan doubles the bill, while
    * observed metrics are free and arrive with the load. Metrics attach
    * BEFORE the cleaning filter, so they describe the raw feed (what an
    * ingest audit wants); the data result is metric-invisible (oracle =
    * the plain load) and the spec asserts the observed values equal an
    * independent recomputation.
    */
  def scanObserved(spark: SparkSession, sfDir: String): DataFrame =
    scanObservedWith(spark, sfDir, org.apache.spark.sql.Observation("load_audit"))

  private[graft] def scanObservedWith(
      spark: SparkSession, sfDir: String,
      obs: org.apache.spark.sql.Observation): DataFrame =
    spark.read.parquet(s"$sfDir/orders.parquet")
      .observe(obs,
        count(lit(1)).as("rows_loaded"),
        round(sum(col("o_totalprice")), 2).as("value_loaded"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_keys"))
      .filter(col("o_totalprice") > 0)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_orderkey")

  /** Declarative data-quality constraint suite (README.md:31–33's
    * validation mandate, the Deequ/dbt-test shape): a SET of table
    * constraints evaluated together and reported as one pass/fail table.
    * The scale contract: every row-level constraint — row count, null
    * fraction, range violations, composite-key uniqueness — folds into
    * ONE scan-aggregate over the fact table (uniqueness rides the same
    * pass as count(*) − count(DISTINCT struct)), so adding a constraint
    * costs zero extra scans; only referential integrity genuinely needs
    * a second relation, and it joins anti on the compact key. The report
    * is the (check, observed, ok) tall table a pipeline gate consumes.
    */
  def scanConstraints(li: DataFrame, orders: DataFrame): DataFrame = {
    val rowChecks = li.agg(
      count(lit(1)).as("row_count"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("quantity_range"),
      sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("price_positive"),
      (count(lit(1)) -
        countDistinct(struct(col("l_orderkey"), col("l_linenumber"))))
        .as("key_duplicates"))
    val orphans = li.join(orders,
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("fk_orphans"))
    val tall = rowChecks.select(
      explode(map(
        lit("row_count"), col("row_count"),
        lit("null_orderkey"), col("null_orderkey"),
        lit("quantity_range"), col("quantity_range"),
        lit("price_positive"), col("price_positive"),
        lit("key_duplicates"), col("key_duplicates"))).as(Seq("check_name", "observed")))
      .unionByName(orphans.select(
        lit("fk_orphans").as("check_name"), col("fk_orphans").as("observed")))
    tall
      .select(col("check_name"), col("observed"),
        // row_count is a min-threshold check; every other metric counts
        // VIOLATIONS and must be zero
        when(col("check_name") === "row_count", col("observed") > 0)
          .otherwise(col("observed") === 0).as("ok"))
      .orderBy("check_name")
  }

  /** Columnar ORC round-trip — the third file format (after parquet and
    * the JSON/CSV text formats): same reader/writer API surface, same
    * pushdown behavior, different encoder. Oracle compares against the
    * original parquet, so the round-trip must be lossless.
    */
  def scanOrc(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "orc_src").toString
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .write.mode(SaveMode.Overwrite).orc(dir)
    spark.read.orc(dir)
      .filter(col("s_acctbal") > 1000)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal"), 2).as("bal"))
      .orderBy("s_suppkey")
  }

  /** XML round-trip — the fourth interchange format (README.md:22 "clean
    * or reformat data"), through Spark 4's BUILT-IN XML source (one
    * record per `rowTag` element; multi-record files split executor-side
    * like any text format). The float column travels as integer cents:
    * XML is a TEXT format, and decimal-text float round-trips are the
    * classic lossy edge a connector must design out, not hope past. Read
    * side passes the schema explicitly — inference would re-scan, and at
    * 100 TB schema-on-read means DECLARED schema, inferred only in dev.
    */
  def scanXml(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "xml_src").toString
    spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal") * 100).cast("bigint").as("bal_cents"))
      .write.mode(SaveMode.Overwrite)
      .option("rootTag", "suppliers").option("rowTag", "supplier")
      .format("xml").save(dir)
    spark.read
      .option("rowTag", "supplier")
      .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, bal_cents BIGINT")
      .format("xml").load(dir)
      .orderBy("s_suppkey")
  }

  /** Quoted multi-line CSV — the reader capability `scan_csv` doesn't
    * exercise: fields carrying the DELIMITER, the QUOTE char, and
    * embedded NEWLINES (free-text columns in real exports always do).
    * The writer quotes/escapes them; the reader needs `multiLine` (a
    * record no longer equals a physical line, so files can't be split
    * at newlines — the documented cost of quoted-newline CSV at scale,
    * and the reason pipelines prefer parquet for such columns). The
    * tricky value is CONSTRUCTED (name,"\nname), so the oracle is exact
    * by construction and the round-trip provably lossless.
    */
  /** Corrupt-file TOLERANCE — `spark.sql.files.ignoreCorruptFiles`: at
    * 100 TB some file is always truncated (killed writer, partial
    * upload); the default read fails the whole job on one bad footer,
    * the flag turns it into a skip. Staged here: 4 good shards plus one
    * garbage "parquet", read back with the flag on — the census equals
    * exactly the good shards (and the conf is restored after, so no
    * other entry silently inherits tolerance).
    */
  def scanCorruptFilesSkip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "orders_corruptmix")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(dir.toString)
    Files.write(dir.resolve("part-99999-truncated.parquet"),
      "PAR1 this is not a real parquet footer".getBytes("UTF-8"))
    val prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    try {
      spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
      spark.read.parquet(dir.toString)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
        // the aggregate is tiny — force it while the conf is set
        .localCheckpoint()
    } finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
  }

  /** MULTI-CHARACTER CSV delimiter (Spark 4) — legacy exports routinely
    * separate with "||" or "~|~" precisely because single characters
    * collide with content; Spark's reader accepts multi-char `sep`
    * directly (pre-4.0 engines forced a regex-split detour through the
    * text source). Round trip: write with the 2-char delimiter, read it
    * back with a declared schema; values that CONTAIN a single pipe
    * prove the delimiter really is the pair.
    */
  def scanCsvMultidelim(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "csv_multidelim").toString
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey"),
        concat(lit("a|"), col("n_name")).as("piped"), // single pipe inside
        col("n_regionkey"))
      .write.mode(SaveMode.Overwrite)
      .option("header", "true").option("sep", "||").csv(dir)
    spark.read
      .option("header", "true").option("sep", "||")
      .schema("n_nationkey INT, piped STRING, n_regionkey INT")
      .csv(dir)
      .orderBy("n_nationkey")
  }

  def scanCsvQuoted(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "csv_quoted").toString
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey"),
        concat(col("n_name"), lit(",\"\n"), col("n_name")).as("tricky"))
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
    spark.read
      .option("header", "true").option("multiLine", "true")
      .schema("n_nationkey INT, tricky STRING")
      .csv(dir)
      .orderBy("n_nationkey")
  }

  /** `binaryFile` source — the ingest format of a MULTIMODAL lake (image
    * / audio / arbitrary blobs arrive as FILES, not rows): each file
    * becomes one row of (path, length, content BINARY), read
    * executor-side with no decode. Staging writes one file per document
    * through the DISTRIBUTED text writer (partitionBy(doc_id) — the
    * driver never touches a payload); the read proves identity by
    * content digest, the only sane equality for blobs. The
    * wall-clock `modificationTime` column is deliberately dropped —
    * everything else round-trips exactly. Downstream this column IS
    * `multimodal_cols`' payload input; at 100 TB the source's per-file
    * task granularity is what makes blob ingest embarrassingly parallel.
    */
  def scanBinary(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "bin_src").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text").as("value"))
      .write.mode(SaveMode.Overwrite).partitionBy("doc_id").text(dir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(
        regexp_extract(col("path"), "doc_id=(\\d+)", 1).cast("long").as("doc_id"),
        col("length"),
        sha2(col("content"), 256).as("sha"))
      .orderBy("doc_id")
  }

  /** Invalid-response handling at the SOURCE level (README.md:32, 105
    * "Test for invalid responses"): a JSON stream where some pages came
    * back as non-JSON error bodies (the 503-HTML-in-a-JSON-feed failure
    * mode). PERMISSIVE mode routes every unparseable line into
    * `_corrupt_record`: good rows arrive typed, bad rows arrive
    * quarantined with the raw payload preserved for triage — no row is
    * silently dropped and no job is killed by one bad page. At 100 TB this
    * is the only viable contract: FAILFAST loses the batch, DROPMALFORMED
    * loses the evidence.
    */
  def scanJsonCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "json_corrupt").toString
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    // every 5th record is an error body, not JSON (deterministic, so the
    // quarantine split is oracle-checkable)
    nation.select(
      when(col("n_nationkey") % 5 === 0,
        concat(lit("<html>503 Service Unavailable "), col("n_nationkey").cast("string")))
        .otherwise(to_json(struct(col("n_nationkey"), col("n_name"), col("n_regionkey"))))
        .as("value"))
      .write.mode(SaveMode.Overwrite).text(dir)
    spark.read
      .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .select(
        col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("_corrupt_record").isNotNull.as("quarantined"),
        col("_corrupt_record").as("raw"))
      .orderBy(col("quarantined"), col("n_nationkey"), col("raw"))
  }

  /** Malformed-CSV quarantine scan — `scan_json_corrupt`'s contract for
    * the OTHER text format a raw feed ships in: every 5th line is
    * garbage (a single unparseable token, the shape of a truncated
    * upload or an interleaved error message). PERMISSIVE + a corrupt-
    * record column keeps the batch AND the evidence: bad lines surface
    * with all typed fields null, the raw line in `raw`, and
    * `quarantined` = true, so the load proceeds while the quarantine
    * slice stays queryable. Same at-scale reasoning as the JSON form:
    * FAILFAST loses the batch, DROPMALFORMED loses the evidence.
    */
  def scanCsvMalformed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "csv_malformed").toString
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    nation.select(
      when(col("n_nationkey") % 5 === 0,
        concat(lit("garbage line with no commas key="), col("n_nationkey").cast("string")))
        .otherwise(concat_ws(",",
          col("n_nationkey").cast("string"), col("n_name"),
          col("n_regionkey").cast("string")))
        .as("value"))
      .write.mode(SaveMode.Overwrite).text(dir)
    spark.read
      .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .select(
        col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("_corrupt_record").isNotNull.as("quarantined"),
        col("_corrupt_record").as("raw"))
      .orderBy(col("quarantined"), col("n_nationkey"), col("raw"))
  }

  /** Bounded retry with exponential backoff for a driver-side page fetch
    * (README.md:12, 32: rate limits / connectivity errors). Retries are
    * the DRIVER's job in the file-paged form — each attempt re-issues one
    * page "request"; executor tasks already have Spark's own task retry
    * underneath them. Backoff doubles per failed attempt
    * (backoffMs, 2×backoffMs, 4×…) and sleeps only BETWEEN attempts —
    * never before the first or after the last. The sleeper is injectable
    * so specs assert the exact pacing without wall-clock sleeps.
    */
  def withRetry[T](maxAttempts: Int, backoffMs: Long = 0L,
      sleeper: Long => Unit = Thread.sleep)(f: Int => T): T = {
    var attempt = 1
    while (true) {
      try return f(attempt)
      catch {
        case _: Exception if attempt < maxAttempts =>
          if (backoffMs > 0) sleeper(backoffMs << (attempt - 1))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Retry honoring the server's `Retry-After` hint — the 429 contract,
    * distinct from `withRetry`'s exponential guess: the server TELLS the
    * client when the window refills, so the compliant client sleeps
    * exactly that long (no under-sleep that bounces off the still-empty
    * bucket, no over-sleep that wastes the budget). Non-429 failures are
    * not handled here — they are `withRetry`'s fault class. Bounded by
    * `maxAttempts` so a permanently-starved endpoint fails the job
    * loudly instead of hanging the driver.
    */
  def honoringRetryAfter[T](maxAttempts: Int,
      sleeper: Long => Unit = Thread.sleep)(f: => T): T = {
    var attempt = 1
    while (true) {
      try return f
      catch {
        case e: RateLimitException if attempt < maxAttempts =>
          sleeper(e.retryAfterMs)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Paginated source against a server-enforced RATE LIMIT (HTTP 429 +
    * Retry-After; README.md:12 "rate limits", :32 "Test for … rate
    * limits") — the last EP2 fault class: `source_api_retry` covers the
    * transient 503 (clears on any re-attempt) and `RatePacer` covers
    * client-side prevention, but neither models a server that REJECTS
    * with a refill schedule the client must honor. The simulated
    * endpoint is a token bucket (burst capacity 2, one token per 250 ms)
    * the client cannot see into; page requests that find it empty get a
    * 429 whose Retry-After is the exact time to the next refill, and the
    * client sleeps precisely that (`honoringRetryAfter`). Throttling
    * must be invisible in the DATA: oracle = the un-paginated original
    * (the `source_api_auth` stance). EtlTextSpec pins, on a virtual
    * clock, that the compliant client drains all pages with the expected
    * 429 count and that a client ignoring Retry-After starves and fails.
    * At 100 TB the shape is unchanged: the limiter gates driver-side
    * page REQUESTS (a provider-budget concern, O(pages)), never executor
    * parallelism over the fetched bytes.
    */
  def sourceApiRatelimit(spark: SparkSession, sfDir: String): DataFrame = {
    // 25 ms refill for the registry entry: semantics (429 counts, drain
    // order, starvation) are pinned on a VIRTUAL clock in EtlTextSpec,
    // so the real-sleep path here only needs a nonzero schedule to
    // exercise honoringRetryAfter — 250 ms added ~750 ms of guaranteed
    // driver sleep to every full sweep for no extra coverage (r9 ADVICE)
    val endpoint = new RateLimitedEndpoint(capacity = 2, refillIntervalMs = 25L)
    sourceApiRatelimitWith(spark, sfDir, endpoint)
  }

  private[graft] def sourceApiRatelimitWith(
      spark: SparkSession, sfDir: String, endpoint: RateLimitedEndpoint,
      sleeper: Long => Unit = Thread.sleep): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    val pagesDir = scratchDir(sfDir, "api_pages_ratelimit")
    val nPages = 5
    events
      .withColumn("page", pmod(col("event_id"), lit(nPages)))
      .write.mode(SaveMode.Overwrite).partitionBy("page").json(pagesDir.toString)
    val pages = (0 until nPages).map { p =>
      honoringRetryAfter(maxAttempts = 4, sleeper) {
        endpoint.request(p) // 429 before any read when the bucket is empty
        spark.read.json(s"$pagesDir/page=$p")
      }
    }
    pages
      .reduce(_ unionByName _)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** Paginated source with transient-failure semantics: one designated
    * page fails on its first fetch (a simulated 503) and succeeds on
    * retry; another is RATE-LIMITED (a simulated 429) for two attempts
    * and clears on the third, with exponential backoff pacing the
    * re-requests (README.md:12 "rate limits"). The result must be
    * byte-identical to the clean paginated read — a retried page is not
    * a dropped or duplicated page. A page that NEVER succeeds must fail
    * the job after `maxAttempts` (poisoned-page spec in EtlTextSpec),
    * because silently skipping a page is data loss.
    */
  def sourceApiRetry(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    val pagesDir = scratchDir(sfDir, "api_pages_retry")
    val nPages = 5
    val flakyPage = 2      // one-shot 503: succeeds on attempt 2
    val throttledPage = 4  // 429 rate limit: clears on attempt 3
    events
      .withColumn("page", pmod(col("event_id"), lit(nPages)))
      .write.mode(SaveMode.Overwrite).partitionBy("page").json(pagesDir.toString)
    // pacing + retry compose: the pacer spaces the page REQUESTS (429
    // prevention), withRetry's backoff spaces the RE-attempts of one page
    val pacer = new RatePacer(minIntervalMs = 5L)
    val pages = (0 until nPages).map { p =>
      withRetry(maxAttempts = 3, backoffMs = 25L) { attempt =>
        pacer.acquire()
        if (p == flakyPage && attempt == 1)
          throw new RuntimeException(s"simulated 503 on page $p attempt $attempt")
        if (p == throttledPage && attempt < 3)
          throw new RuntimeException(s"simulated 429 Too Many Requests on page $p attempt $attempt")
        spark.read.json(s"$pagesDir/page=$p")
      }
    }
    pages
      .reduce(_ unionByName _)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** Paginated source behind a CIRCUIT BREAKER — the hard-down fault
    * class (README.md:12, 32): the endpoint is out for its first
    * `outageCalls` REAL calls, and per-page retry alone would hammer it
    * attempts × pages times while every page eats the full failure
    * latency. The breaker fails fast instead: 3 consecutive failures
    * trip it OPEN, deferred pages short-circuit WITHOUT touching the
    * endpoint, a half-open probe after the cooldown re-tests (first
    * probe lands inside the outage and re-opens; the second closes),
    * then the backlog drains. The timeline is a VIRTUAL tick clock —
    * no wall sleeps (improving on the ratelimit entry's 25 ms refill),
    * and the whole trace is deterministic: the spec pins the exact
    * transition sequence and that the endpoint saw ZERO calls while
    * open. Fail-loud attempt budget (a breaker that never closes must
    * kill the job, not spin). The census must equal the clean paginated
    * read — an outage ridden out through the breaker is not data loss.
    */
  def sourceApiCircuitBreaker(spark: SparkSession, sfDir: String): DataFrame =
    sourceApiCircuitBreakerWith(spark, sfDir, outageCalls = 4)._1

  private[graft] def sourceApiCircuitBreakerWith(
      spark: SparkSession, sfDir: String, outageCalls: Int):
      (DataFrame, CircuitBreaker, Long) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    val pagesDir = scratchDir(sfDir, "api_pages_breaker")
    val nPages = 5
    events
      .withColumn("page", pmod(col("event_id"), lit(nPages)))
      .write.mode(SaveMode.Overwrite).partitionBy("page").json(pagesDir.toString)
    var tick = 0L
    val breaker = new CircuitBreaker(
      failThreshold = 3, cooldownMs = 5L, clock = () => tick)
    var realCalls = 0L
    val fetched = scala.collection.mutable.Map.empty[Int, DataFrame]
    val pending = scala.collection.mutable.Queue(0 until nPages: _*)
    var attempts = 0
    while (pending.nonEmpty) {
      attempts += 1
      require(attempts <= 64,
        "circuit breaker never closed within the attempt budget — " +
          "endpoint still down; refusing to spin (and silently dropping " +
          "pages would be data loss)")
      val p = pending.dequeue()
      try fetched(p) = breaker.call {
        realCalls += 1
        if (realCalls <= outageCalls)
          throw new RuntimeException(s"simulated 503 (outage) on page $p")
        spark.read.json(s"$pagesDir/page=$p")
      } catch {
        // Deferred faults only: the simulated outage and the breaker's
        // short-circuit both re-enqueue the page; fatal errors (OOM,
        // interrupts) propagate instead of being retried as if they were
        // the outage until the attempt budget trips with a misleading
        // "breaker never closed" message.
        case scala.util.control.NonFatal(_) => pending.enqueue(p)
      }
      tick += 1
    }
    val census = (0 until nPages).map(fetched)
      .reduce(_ unionByName _)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
    (census, breaker, realCalls)
  }

  /** Paginated source, offline file-paged form (README.md:11–12): pages of
    * JSON records are fetched one per driver-loop iteration (the
    * reference's pagination loop) and unioned BY NAME into one frame. The
    * page count is bounded and small; row parsing is executor-side.
    * Returns per-type counts so the oracle can check against the
    * un-paginated original — pagination must be lossless.
    */
  def sourceApiPaginated(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    val pagesDir = scratchDir(sfDir, "api_pages")
    val nPages = 5
    events
      .withColumn("page", pmod(col("event_id"), lit(nPages)))
      .write.mode(SaveMode.Overwrite).partitionBy("page").json(pagesDir.toString)
    // min-interval pacing between page requests (README.md:12 rate
    // limits): stay under the provider budget instead of bouncing off it
    val pacer = new RatePacer(minIntervalMs = 5L)
    val pages = (0 until nPages).map { p =>
      pacer.acquire()
      spark.read.json(s"$pagesDir/page=$p") // one "request" per page
    }
    pages
      .reduce(_ unionByName _)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** Paginated source, DataSource V2 form: the same page layout read
    * through `graft.sources.PagedJsonSource` — one InputPartition per
    * page, JSON parsed executor-side, zero driver-loop reads. Same oracle
    * as the file-paged form: the two implementations must agree exactly.
    */
  def sourceApiV2(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    val pagesDir = scratchDir(sfDir, "api_pages_v2")
    val nPages = 5
    events
      .withColumn("page", pmod(col("event_id"), lit(nPages)))
      .write.mode(SaveMode.Overwrite).partitionBy("page").json(pagesDir.toString)
    spark.read.format("graft.sources.PagedJsonSource")
      .option("pages", nPages.toString)
      .option("paceMs", "5") // executor-side request pacing (README.md:12)
      .load(pagesDir.toString)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** AUTHENTICATED paginated source (README.md:11 "authentication", :21
    * "secure token/headers", :88–92 credentials in a local `.env`): the
    * API token is PROVISIONED into a dotenv file — never code — resolved
    * once at plan-build time through the standard config chain
    * (`configValue`: conf → env → dotenv), and attached to every page
    * request as an `Authorization: Bearer` header. The simulated endpoint
    * rejects any request whose header doesn't carry the provisioned
    * secret (401) — the unauthenticated path CANNOT reach data, which is
    * the property the reference mandates. Auth must be invisible in the
    * DATA: oracle = the un-paginated original (the `source_env_config`
    * precedent); the rejected-without-token / rejected-with-wrong-token
    * behavior is pinned in EtlTextSpec via the injectable header.
    * At 100 TB the shape is unchanged: credential resolution is one
    * driver-side lookup before the page loop; the secret never enters a
    * task closure or the data path.
    */
  def sourceApiAuth(spark: SparkSession, sfDir: String): DataFrame =
    sourceApiAuthWith(spark, sfDir)

  private[graft] def sourceApiAuthWith(
      spark: SparkSession, sfDir: String,
      headerFor: String => Option[String] = tok => Some(s"Bearer $tok"))
      : DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    val pagesDir = scratchDir(sfDir, "api_pages_auth")
    val nPages = 5
    events
      .withColumn("page", pmod(col("event_id"), lit(nPages)))
      .write.mode(SaveMode.Overwrite).partitionBy("page").json(pagesDir.toString)

    // Credential provisioning (README.md:88–92): the deploy drops the
    // secret into a dotenv file; deterministic per sfDir so the entry is
    // reproducible run-over-run.
    val secret = "graft-" + java.lang.Integer.toHexString(sfDir.hashCode) + "-token"
    val envFile = scratchDir(sfDir, "api_auth_env").resolve("auth.env")
    Files.writeString(envFile,
      s"# provisioned by the deployment, never committed\nGRAFT_API_TOKEN=$secret\n")

    // Resolve through the standard chain, pointed at the provisioned
    // file. Process-level GRAFT_API_TOKEN / GRAFT_ENV_FILE are excluded:
    // this entry demonstrates the dotenv leg deterministically, and a
    // stray token in the harness environment must not shadow it.
    val prevEnvFile = spark.conf.getOption("spark.graft.env.file")
    val token =
      try {
        spark.conf.set("spark.graft.env.file", envFile.toString)
        configValue(spark, "api.token",
          sys.error("GRAFT_API_TOKEN is not provisioned"),
          env = sys.env -- Seq("GRAFT_API_TOKEN", "GRAFT_ENV_FILE"))
      } finally {
        prevEnvFile match {
          case Some(v) => spark.conf.set("spark.graft.env.file", v)
          case None    => spark.conf.unset("spark.graft.env.file")
        }
      }

    // The simulated endpoint: a page is served ONLY to a request bearing
    // the provisioned secret; anything else is a 401 before any read.
    def fetchPage(p: Int, authorization: Option[String]): DataFrame = {
      if (!authorization.contains(s"Bearer $secret"))
        throw new RuntimeException(
          s"simulated 401 Unauthorized on page $p: missing or invalid Authorization header")
      spark.read.json(s"$pagesDir/page=$p")
    }

    val pacer = new RatePacer(minIntervalMs = 5L)
    val pages = (0 until nPages).map { p =>
      pacer.acquire()
      fetchPage(p, headerFor(token))
    }
    pages
      .reduce(_ unionByName _)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** `.env`-style configuration resolution (README.md:16–17, 88–92): the
    * reference mandates connector settings (endpoint, page count, target
    * collection) come from environment configuration, never from code —
    * including a literal `.env` file created locally (README.md:88–92).
    * The Spark-native layering of the same contract, in precedence order:
    * `spark.graft.<key>` runtime conf (set via `--conf` / the session
    * builder — the cluster-deploy path) → `GRAFT_<KEY>` environment
    * variable → the same `GRAFT_<KEY>` name in a dotenv file (path from
    * `spark.graft.env.file` conf / `GRAFT_ENV_FILE` env, default `.env`
    * in the working directory) → caller default. `env` is injectable so
    * specs pin the precedence without mutating the process environment.
    */
  def configValue(spark: SparkSession, key: String, default: => String,
      env: Map[String, String] = sys.env): String = {
    // Locale.ROOT: default-locale toUpperCase turns "dir" into "DİR"
    // on a Turkish-locale JVM and the env lookup silently misses
    val envKey = "GRAFT_" +
      key.toUpperCase(java.util.Locale.ROOT).replace('.', '_')
    spark.conf.getOption(s"spark.graft.$key")
      .orElse(env.get(envKey))
      .orElse(dotenvFile(spark, env).get(envKey))
      .getOrElse(default)
  }

  /** The resolved dotenv file as a key→value map — empty when the file is
    * absent, which keeps the layer a no-op on clusters that configure via
    * conf/env only. Driver-side IO: config resolution happens once at
    * plan-build time, never per row, so re-reading the (tiny) file per
    * lookup is simpler than a cache that could go stale mid-session.
    */
  private[graft] def dotenvFile(
      spark: SparkSession, env: Map[String, String]): Map[String, String] = {
    val path = spark.conf.getOption("spark.graft.env.file")
      .orElse(env.get("GRAFT_ENV_FILE"))
      .getOrElse(".env")
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) Map.empty
    else {
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      try parseDotenv(src.getLines()) finally src.close()
    }
  }

  /** dotenv grammar, the subset every implementation agrees on: KEY=VALUE
    * per line; blank lines and `#` comments skipped; whitespace around
    * key and value trimmed; matching single or double quotes around the
    * value stripped (preserving inner whitespace); malformed lines (no
    * `=`, empty key) ignored rather than fatal — a hand-edited file must
    * not take the pipeline down. Later duplicates win, like a shell
    * re-export.
    */
  private[graft] def parseDotenv(lines: Iterator[String]): Map[String, String] =
    lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        val eq = l.indexOf('=')
        if (eq <= 0) None
        else {
          val k = l.substring(0, eq).trim
          val raw = l.substring(eq + 1).trim
          val v =
            if (raw.length >= 2 &&
              ((raw.head == '"' && raw.last == '"') ||
                (raw.head == '\'' && raw.last == '\'')))
              raw.substring(1, raw.length - 1)
            else raw
          if (k.isEmpty) None else Some(k -> v)
        }
      }.toMap

  /** The fully config-wired connector (README.md:88–92): page count and
    * page directory come from `spark.graft.*` / `GRAFT_*`, so one
    * pipeline re-points across environments with zero code change. Same
    * audit output (and oracle) as the other paginated forms —
    * configuration must be invisible in the data.
    */
  def sourceConfigured(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nPages = configValue(spark, "pages.count", "5").toInt
    require(nPages > 0, s"configured page count must be positive, got $nPages")
    val pagesDir = configValue(spark, "pages.dir",
      scratchDir(sfDir, "api_pages_env").toString)
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    events
      .withColumn("page", pmod(col("event_id"), lit(nPages)))
      .write.mode(SaveMode.Overwrite).partitionBy("page").json(pagesDir)
    val pages = (0 until nPages).map(p => spark.read.json(s"$pagesDir/page=$p"))
    pages
      .reduce(_ unionByName _)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** The load stage (README.md:23, 27–28, 98–99): append records + an
    * ingestion timestamp into `<name>_raw`, run TWICE to prove appends
    * accumulate. Output is the read-back audit: rows per load equal, every
    * row stamped, load ids monotone, ingested total = loads × price.
    * Oracle-paired since round 8: the wall-clock ingested_at stays
    * data-invisible (only its non-nullness is counted), while the
    * deterministic load_id carries the append semantics into the hash.
    */
  def sinkRawAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = scratchDir(sfDir, "orders_raw").toString
    val batch = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    // every row still carries the wall-clock ingestion stamp the reference
    // mandates (README.md:23) — verified as NON-NULL via n_stamped — plus
    // a deterministic per-run load_id (the sink_upsert precedent), which
    // is what makes the entry oracle-pairable (round-7 verdict, item 3)
    var load = 0
    val connector = Connector(
      name = "orders",
      source = _ => batch,
      transform = df => {
        load += 1
        df.withColumn("ingested_at", current_timestamp())
          .withColumn("load_id", lit(load))
      },
      sink = _.write.mode(SaveMode.Append).parquet(raw))
    connector.run(spark)
    connector.run(spark)
    spark.read.parquet(raw)
      .groupBy(col("o_orderkey"))
      .agg(
        count(lit(1)).as("n_loads"),
        count(col("ingested_at")).as("n_stamped"),
        max(col("load_id")).as("last_load"),
        round(sum(col("o_totalprice")), 2).as("total_ingested"))
      .orderBy("o_orderkey")
  }

  /** Date-partitioned raw layout — the 100 TB organization of an
    * append-only event table (SURVEY §4: "partition raw tables by date"):
    * `partitionBy(event_date)` at write time turns time predicates into
    * partition pruning at read time (the scan's PartitionFilters — see
    * PlanSpec). Output: per-day counts for one month, read back through
    * the pruned scan.
    */
  def sinkPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = scratchDir(sfDir, "events_by_day").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .transform(graft.Tables.normalizeTs)
      .withColumn("event_date", col("ts").cast("date"))
      .write.mode(SaveMode.Overwrite).partitionBy("event_date").parquet(raw)
    spark.read.parquet(raw)
      .filter(col("event_date").between("2024-01-01", "2024-01-31"))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .select(col("event_date").cast("string").as("day"), col("n"), col("n_users"))
      .orderBy("day")
  }

  /** Z-ORDERED data layout — multi-dimensional clustering for a sink that
    * must serve range predicates on TWO columns at once (the data-skipping
    * move behind Delta/Iceberg `OPTIMIZE ZORDER BY`): each dimension is
    * binned to 8 bits, the bits INTERLEAVE into one 16-bit Morton key
    * (unrolled at the Scala level — plain int expressions, fully
    * codegen'd), and the write range-partitions + sorts by that key. Rows
    * close in (user_id, value) space land in the same files, so parquet
    * min/max stats make a 2-D box predicate skip most row groups — where
    * a 1-D sort could only serve its own leading column. The layout is
    * data-invisible: the audit (and oracle) is the box query, which must
    * return exactly what the unsorted table returns; the files-touched
    * advantage over a hash layout is measured in EtlTextSpec.
    */
  def sinkZorder(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = scratchDir(sfDir, "events_zorder").toString
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    events.withColumn("z", zorder16(col("user_id"), col("value")))
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions("z")
      .write.mode(SaveMode.Overwrite).parquet(dir)
    spark.read.parquet(dir)
      .filter(col("user_id").between(4, 11) &&
        col("value") >= 100.0 && col("value") < 150.0)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** 16-bit Morton (Z-curve) key: `user_id` binned at width 8 and `value`
    * binned at width 4, each clamped to 8 bits, interleaved. Bit b of
    * each dimension lands at positions 2b+1 / 2b — an unrolled sum of
    * masked shifts, no UDF, no loop at runtime.
    */
  private[graft] def zorder16(userId: Column, value: Column): Column = {
    val ubin = least(floor(userId / 8).cast("int"), lit(255))
    val vbin = least(floor(value / 4).cast("int"), lit(255))
    (0 until 8).map { b =>
      shiftright(ubin, b).bitwiseAND(lit(1)) * lit(1 << (2 * b + 1)) +
        shiftright(vbin, b).bitwiseAND(lit(1)) * lit(1 << (2 * b))
    }.reduce(_ + _)
  }

  /** Schema evolution across loads (README.md:21 "fields vary between
    * documents"): an early load without a column and a later load with it
    * live in one raw directory; `mergeSchema` unifies them at read time,
    * filling the missing column with null — no rewrite of old files. The
    * 100 TB contract: schema drift is absorbed by the READER; historical
    * data is immutable.
    */
  def scanMergeSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "orders_evolving").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode(SaveMode.Append).parquet(dir)
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode(SaveMode.Append).parquet(dir)
    spark.read.option("mergeSchema", "true").parquet(dir)
      .select(
        col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        col("o_orderstatus"), col("o_orderstatus").isNull.as("pre_evolution"))
      .orderBy("o_orderkey")
  }

  /** Incremental (idempotent) ingestion via anti-join: a re-run ingests
    * ONLY keys the sink has never seen (left_anti against the sink's key
    * set) — the reference's "re-run without duplicating" mandate
    * (README.md:28, 98–99) done the way that scales: one shuffle on the
    * natural key, no per-row lookups. Overlapping second load (keys %2 ∩
    * %3) must land exactly once; the audit projects per-key copy counts.
    */
  def sinkIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val sink = scratchDir(sfDir, "orders_incr").toString
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode(SaveMode.Append).parquet(sink)
    val load2 = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val seen = spark.read.parquet(sink).select("o_orderkey")
    load2.join(seen, Seq("o_orderkey"), "left_anti")
      .write.mode(SaveMode.Append).parquet(sink)
    spark.read.parquet(sink)
      .groupBy(col("o_orderkey"))
      .agg(round(min(col("o_totalprice")), 2).as("price"), count(lit(1)).as("n_copies"))
      .orderBy("o_orderkey")
  }

  /** LOAD-RETENTION maintenance — the expiry half of the append-only raw
    * store lifecycle (README.md:27 keeps every timestamped load; a real
    * store also DROPS the old ones): loads land as `load_id=` partitions,
    * and retention removes whole expired partition DIRECTORIES — a pure
    * file/metadata operation, like `ALTER TABLE DROP PARTITION` or an
    * Iceberg expire-snapshots. The surviving data is NEVER rewritten —
    * the property that makes retention affordable at 100 TB (a
    * rewrite-based retention would re-shuffle the whole store monthly).
    * The post-retention census proves exactly the expired load is gone
    * and the kept loads are byte-complete.
    */
  def sinkRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val dirP = scratchDir(sfDir, "orders_retain")
    val dir = dirP.toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    for (l <- 1 to 3)
      orders.filter(pmod(col("o_orderkey"), lit(3)) === (l - 1))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .withColumn("load_id", lit(l))
        .write.mode(SaveMode.Append).partitionBy("load_id").parquet(dir)
    Materialize.deleteTree(dirP.resolve("load_id=1"))
    spark.read.parquet(dir)
      .groupBy(col("load_id").cast("int").as("load_id"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("load_id")
  }

  /** Incremental MATERIALIZED-AGGREGATE maintenance (merge-on-refresh) —
    * the pattern that keeps a 100 TB rollup affordable: the historical
    * aggregate is persisted as PARTIAL STATE (group key + algebraic
    * accumulators), and a refresh aggregates ONLY the delta batch and
    * merges the two state tables — cost proportional to the delta, never
    * a rescan of history. Works exactly when the aggregate decomposes
    * algebraically: count and sum merge by addition, avg derives from
    * merged (sum, count) — which is why the state carries (n, sum_cents)
    * and never a pre-divided average. Sums are kept in integer cents so
    * the two-stage summation is EXACTLY the one-pass sum regardless of
    * order (the `sinkCompact` rule: double accumulation is partitioning-
    * dependent); the oracle is the full recompute the merge must be
    * indistinguishable from.
    */
  def sinkAggRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.Tables.events(spark, sfDir) // nanos-ts normalization

    val cents = round(col("value") * 100).cast("long")
    val cutoff = lit("2024-01-21")
    val state = scratchDir(sfDir, "agg_state").toString
    events.filter(to_date(col("ts")) < cutoff)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sum_cents"))
      .write.mode(SaveMode.Overwrite).parquet(state)
    val delta = events.filter(to_date(col("ts")) >= cutoff)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sum_cents"))
    spark.read.parquet(state).unionByName(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sc"))
      .select(col("event_type"), col("n"),
        round(col("sc") / 100.0, 2).as("sum_value"),
        round(col("sc") / 100.0 / col("n"), 6).as("avg_value"))
      .orderBy("event_type")
  }

  /** Small-files compaction — the standing maintenance job of any
    * append-heavy raw table (thousands of per-micro-batch files destroy
    * scan parallelism bookkeeping and NameNode/listing budgets at 100 TB).
    * Simulates a fragmented table (64 tiny files), rewrites it at a target
    * partition count, and audits that the data survived bit-exactly
    * (integer-cents sum — double summation order is engine- and
    * partitioning-dependent, so the audit uses an associative integer
    * sum). File-count invariants live in the spec; the oracle checks the
    * data.
    */
  /** Parquet BLOOM-FILTER layout — the storage-level point-lookup
    * accelerator: the writer embeds a bloom filter on the lookup key in
    * each file's metadata, and a reader's equality predicate can skip
    * whole row groups whose filter proves absence (the needle-in-
    * haystack path a 100 TB "find this customer" query takes; min/max
    * stats alone can't prune high-cardinality unsorted keys). The
    * acceleration is DATA-INVISIBLE (the scan_observed stance): the
    * oracle is the plain filtered aggregate, the layout is the tested
    * artifact — written per-shard, fully distributed.
    */
  def scanParquetBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "orders_bloom").toString
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(4)
      .write.mode(SaveMode.Overwrite)
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
      // parquet SKIPS the bloom when a row group stays fully dictionary-
      // encoded (the dictionary already proves membership exactly); at
      // production cardinality the key column overflows the dictionary
      // and the bloom kicks in — disabling the dictionary for just this
      // column reproduces that regime at test scale
      .option("parquet.enable.dictionary#o_custkey", "false")
      .parquet(dir)
    spark.read.parquet(dir)
      .filter(col("o_custkey") === 7)
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
  }

  /** MANIFEST-committed sink — the atomic-visibility protocol object
    * stores need (S3 has no directory rename): data files land first,
    * then ONE manifest write commits exactly that file list; readers
    * resolve the manifest, never the directory listing, so a partial
    * file from a failed concurrent writer is INVISIBLE (the Iceberg /
    * Delta commit principle in its minimal form). Here: 4 shards
    * written, an orphan part-file planted AFTER the manifest (the
    * crashed-writer debris), and the audit reads through the manifest —
    * its census must equal the source exactly, orphan excluded. The
    * manifest is metadata-sized (one line per file), driver-side by
    * design; data files stay fully distributed.
    */
  def sinkManifestCommit(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "orders_manifested")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val dataFiles = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    // COMMIT: the manifest names exactly the files written above
    Files.write(dir.resolve("_manifest.json"),
      dataFiles.mkString("\n").getBytes("UTF-8"))
    // crashed-writer debris arriving after the commit — must stay invisible
    val orphanTmp = scratchDir(sfDir, "orders_orphan")
    spark.range(5)
      .select(col("id").as("o_orderkey"), lit(9.99).as("o_totalprice"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(orphanTmp.toString)
    val orphanPart = Option(orphanTmp.toFile.listFiles()).get
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(orphanPart.toPath, dir.resolve("part-99999-orphan.parquet"))
    // READ PATH: resolve the manifest, load only its files
    val committed = new String(
      Files.readAllBytes(dir.resolve("_manifest.json")), "UTF-8")
      .split("\n").map(f => dir.resolve(f).toString)
    val dirParquets = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    spark.read.parquet(committed: _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
      .withColumn("n_manifest_files", lit(committed.length))
      .withColumn("orphan_invisible", lit(dirParquets > committed.length))
  }

  /** VACUUM — the cleanup half of the manifest-commit protocol: files in
    * the sink directory that the manifest does NOT reference are debris
    * (failed writers, superseded compactions) and get deleted; manifest
    * files are never touched. The audit proves vacuum removed exactly
    * the planted orphans and the committed data read back bit-complete —
    * deletion that cannot eat committed data is the property that makes
    * retention automation safe to run continuously at 100 TB. File ops
    * are metadata-sized and driver-side by design.
    */
  def sinkVacuum(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "orders_vacuum")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val dataFiles = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    Files.write(dir.resolve("_manifest.json"),
      dataFiles.mkString("\n").getBytes("UTF-8"))
    // two debris files from failed/superseded writers
    val orphanTmp = scratchDir(sfDir, "orders_vacuum_orphan")
    spark.range(7)
      .select(col("id").as("o_orderkey"), lit(1.23).as("o_totalprice"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(orphanTmp.toString)
    val orphanPart = Option(orphanTmp.toFile.listFiles()).get
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(orphanPart.toPath, dir.resolve("part-99998-stale.parquet"))
    Files.copy(orphanPart.toPath, dir.resolve("part-99999-stale.parquet"))
    // VACUUM: delete every parquet the manifest does not reference
    val referenced = new String(
      Files.readAllBytes(dir.resolve("_manifest.json")), "UTF-8")
      .split("\n").toSet
    val removed = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !referenced(f.getName))
    removed.foreach(f => Files.delete(f.toPath))
    val survivors = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    spark.read.parquet(dir.toString) // plain directory read is safe again
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
      .withColumn("n_removed", lit(removed.length))
      .withColumn("vacuum_clean", lit(survivors == referenced.size))
  }

  def sinkCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val frag = scratchDir(sfDir, "orders_frag").toString
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(frag)
    val compact = scratchDir(sfDir, "orders_compact").toString
    spark.read.parquet(frag)
      .repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(compact)
    val files = Option(new java.io.File(compact).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    spark.read.parquet(compact)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))
      .withColumn("compacted", lit(files <= 4))
  }

  /** DOCUMENT-shaped export (README.md:22 "MongoDB compatibility", :98–99
    * collection shape): re-nest the flat raw table into the BSON-ish
    * document a collection stores — a natural `_id`, the payload as a
    * NESTED struct (with a sub-document), and the ingestion timestamp as
    * a TYPED field, not a string. The nesting happens declaratively
    * (`struct(...)` — one map-side projection, no shuffle) and the sink
    * is columnar parquet of the nested schema; `format("mongodb")` via
    * the connector would consume the identical frame (the wire connector
    * is documented-unavailable offline). The audit reads the STORED
    * collection back and serializes each document with `to_json`, so the
    * oracle (DuckDB struct_pack → to_json) must reproduce every document
    * byte-for-byte — field order, nesting, and types all survive.
    * Amounts ride as integer cents inside the JSON (float formatting is
    * engine-specific; integers are not). The load stamp is a
    * deterministic literal so the entry is oracle-checkable — swap in
    * `current_timestamp()` for wall-clock use (the sink_upsert
    * precedent). At 100 TB: pure map-side reshaping, the writer stays
    * fully distributed, and `_id` is the natural key so a downstream
    * upsert shuffles once on it.
    */
  def sinkDocShape(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "orders_docs").toString
    val docs = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(
        concat(lit("order-"), col("o_orderkey").cast("string")).as("_id"),
        struct(
          col("o_orderkey").as("key"),
          col("o_orderstatus").as("status"),
          struct(
            round(col("o_totalprice") * 100).cast("long").as("amount_cents"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("placed")
          ).as("detail"),
          col("o_custkey").as("customer_id")
        ).as("doc"),
        lit("2024-06-01 00:00:00").cast("timestamp").as("ingested_at"))
    docs.write.mode(SaveMode.Overwrite).parquet(dir)
    spark.read.parquet(dir)
      .select(col("_id"), to_json(col("doc")).as("doc_json"), col("ingested_at"))
      .orderBy("_id")
  }

  /** SCD2 history sink: instead of latest-wins (sinkUpsert), KEEP every
    * version — each (key, load) becomes a row with `valid_from` = its
    * load, `valid_to` = the next load that changed it (null while
    * current). One `lead` window per key = one shuffle; the history table
    * appends, never rewrites old versions — the audit-trail ingestion
    * shape (README.md:28 updates + :27 timestamped raw history).
    */
  def sinkScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val load1 = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), lit(1).as("valid_from"))
    val load2 = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit(2).as("valid_from"))
    val w = Window.partitionBy("o_orderkey").orderBy("valid_from")
    val hist = load1.unionByName(load2)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        col("valid_from"), col("valid_to"), col("is_current"))
    val dir = scratchDir(sfDir, "orders_scd2").toString
    hist.write.mode(SaveMode.Overwrite).parquet(dir)
    spark.read.parquet(dir).orderBy("o_orderkey", "valid_from")
  }

  /** Idempotent re-ingestion (README.md:28 "updates"): two loads of
    * overlapping key ranges, upsert = latest load wins per natural key,
    * resolved by ONE keyed window — a single shuffle on the key, the only
    * merge shape that survives 100 TB. Deterministic load ids make this
    * oracle-checkable; swap in the ingestion timestamp for wall-clock use.
    */
  /** CDC APPLY — materialize current entity state from a keyed change
    * log carrying the verb `sink_upsert`/`sink_scd2` lack: DELETE. Each
    * event is a change to its user's state (purchase closes the session
    * entity → D; anything else upserts → U); latest-op-wins per key by
    * (ts, event_id), and a key whose latest op is D leaves the state
    * entirely — the MERGE WHEN MATCHED THEN DELETE contract a change-
    * data feed needs. ONE shuffle on the natural key (the same
    * single-window shape as sink_upsert); at 100 TB the log is the
    * small delta side and the window runs per key, never per table.
    */
  def sinkCdcApply(events: DataFrame): DataFrame = {
    val log = events.select(
      col("user_id"), col("ts"), col("event_id"), col("value"),
      when(col("event_type") === "purchase", lit("D")).otherwise(lit("U")).as("op"))
    val latest = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    log
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), round(col("value"), 6).as("value"),
        unix_micros(col("ts")).as("ts_us"))
      .orderBy("user_id")
  }

  /** SQL `MERGE INTO` — the statement form of the upsert family
    * (README.md:28 "updates"): seed a v2 catalog table with load 1, then
    * merge load 2 with all three verbs in one statement — UPDATE on
    * match, DELETE on a matched high-price guard, INSERT on no-match.
    * Runs through Spark's native MERGE machinery (`RewriteMergeIntoTable`
    * → delta-based WriteDelta) against `graft.plans.MergeableCatalog`,
    * the in-JVM v2 catalog implementing `SupportsRowLevelOperations` —
    * the same interface and plan Iceberg's merge-on-read mode uses, so
    * this entry pins the surface a warehouse user actually types. Only
    * the changed rows are written: matched rows as deletes by position
    * plus their new images, unmatched source rows as inserts; target
    * rows no clause touches are not rewritten. The merged result is
    * deterministic (load ids, fixed guard), so the oracle replays the
    * same three-way split relationally.
    */
  def sqlMergeInto(spark: SparkSession, sfDir: String): DataFrame = {
    val target = seededStateTable(spark, sfDir, "orders_state")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") + 1000.0, 2).as("price"),
        lit(2).as("load_id"))
      .createOrReplaceTempView("graft_merge_src")
    spark.sql(
      s"""MERGE INTO $target t
          USING graft_merge_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.price > 400000.0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET price = s.price, load_id = s.load_id
          WHEN NOT MATCHED THEN INSERT (o_orderkey, price, load_id)
            VALUES (s.o_orderkey, s.price, s.load_id)""")
    spark.table(target).orderBy("o_orderkey")
  }

  /** SQL `UPDATE` — the single-table statement form (README.md:28):
    * in-place column rewrite behind a predicate, through Spark's
    * `RewriteUpdateTable` delta path over the same v2 catalog as
    * [[sqlMergeInto]]. The rewrite filters the scan (rows plus their
    * positions) by the predicate and commits each selected row as a
    * delete by position plus its new image; untouched rows stay where
    * they are — one distributed pass, no per-row RPC.
    */
  def sqlUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val target = seededStateTable(spark, sfDir, "orders_upd")
    // +1000.0 is exact in binary doubles (a x1.1-style multiplier lands
    // on half-way products whose rounding differs between engines)
    spark.sql(
      s"""UPDATE $target
          SET price = price + 1000.0, load_id = 9
          WHERE o_orderkey % 10 = 0""")
    spark.table(target).orderBy("o_orderkey")
  }

  /** SQL `DELETE FROM` — the retention/redaction statement (the GDPR
    * shape a raw store needs): predicate delete through
    * `RewriteDeleteFromTable`'s delta path — the commit marks the
    * matching positions deleted and writes no row.
    */
  def sqlDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val target = seededStateTable(spark, sfDir, "orders_del")
    spark.sql(s"DELETE FROM $target WHERE price > 400000.0")
    spark.table(target).orderBy("o_orderkey")
  }

  /** SQL time travel (`VERSION AS OF`) — the queryable form of the
    * reference's timestamped raw history (README.md:27): the v2 catalog
    * snapshots every commit, so a versioned read joins PRE-update state
    * (version 1 = the seed load) against current state after an UPDATE —
    * the audit-diff every warehouse history feature exists to serve.
    * Versioned and current scans are two independent snapshot reads of
    * shared immutable pages, each skipping the rows its own version's
    * bitmaps mark deleted; no copy, no log replay.
    */
  def sqlTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val target = seededStateTable(spark, sfDir, "orders_tt") // commit 1
    spark.sql(
      s"""UPDATE $target
          SET price = price + 1000.0, load_id = 9
          WHERE o_orderkey % 10 = 0""") // commit 2
    spark.sql(
      s"""SELECT cur.o_orderkey,
                 v1.price AS price_v1,
                 cur.price AS price_cur,
                 cur.price <> v1.price AS changed
          FROM $target cur
          JOIN $target VERSION AS OF 1 v1
            ON cur.o_orderkey = v1.o_orderkey
          ORDER BY cur.o_orderkey""")
  }

  /** SQL time travel by TIMESTAMP (`TIMESTAMP AS OF`) — the calendar
    * form of [[sqlTimeTravel]]: "what did this table say at 00:01:30?"
    * resolves to the latest snapshot committed at or before that
    * instant (floor semantics — the Iceberg/Delta contract). The
    * catalog's commit clock is synthetic (version v at BASE + v min,
    * see MergeableCatalog.loadTable) so the entry is deterministic;
    * 00:01:30 lands strictly BETWEEN commits 1 and 2 and must floor to
    * the seed load, proving the lookup is ≤, not nearest.
    */
  def sqlTimeTravelTs(spark: SparkSession, sfDir: String): DataFrame = {
    val target = seededStateTable(spark, sfDir, "orders_ttts") // commit 1
    spark.sql(
      s"""UPDATE $target
          SET price = price + 1000.0, load_id = 9
          WHERE o_orderkey % 10 = 0""") // commit 2
    spark.sql(
      s"""SELECT cur.o_orderkey,
                 v1.price AS price_v1,
                 cur.price AS price_cur,
                 cur.price <> v1.price AS changed
          FROM $target cur
          JOIN $target TIMESTAMP AS OF '2024-06-01 00:01:30' v1
            ON cur.o_orderkey = v1.o_orderkey
          ORDER BY cur.o_orderkey""")
  }

  /** SQL `INSERT OVERWRITE` — the truncate-and-reload statement (the
    * full-refresh counterpart of the incremental DML family): the v2
    * write requests `truncate()` on the builder and the commit swaps the
    * table contents atomically — readers of the previous snapshot are
    * unaffected (and the old state stays reachable via VERSION AS OF).
    */
  def sqlInsertOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val target = seededStateTable(spark, sfDir, "orders_ow")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        lit(2).as("load_id"))
      .createOrReplaceTempView("graft_overwrite_src")
    spark.sql(s"INSERT OVERWRITE $target SELECT * FROM graft_overwrite_src")
    spark.table(target).orderBy("o_orderkey")
  }

  /** SQL `CREATE TABLE AS SELECT` — the derive-a-table statement (the
    * "transform" leg of the reference's E→T→L as DDL): schema comes from
    * the query, creation and load are one statement through the v2
    * non-atomic CTAS path (create, then append; a `StagingTableCatalog`
    * would make it atomic — the statement surface is identical). The
    * SELECT itself is a normal distributed plan; nothing about CTAS
    * changes how it scales.
    */
  def sqlCtas(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    val target = "graftcat.etl.orders_ctas"
    spark.sql(s"DROP TABLE IF EXISTS $target")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("graft_ctas_src")
    spark.sql(
      s"""CREATE TABLE $target AS
          SELECT o_orderkey, round(o_totalprice, 2) AS price,
                 o_orderstatus AS status
          FROM graft_ctas_src WHERE o_orderkey % 4 = 0""")
    spark.table(target).orderBy("o_orderkey")
  }

  /** SQL `ALTER TABLE ADD COLUMNS` — in-place schema evolution, the
    * statement a long-lived raw store cannot live without (a connector's
    * upstream WILL add fields; README.md:21 "handle variations in data
    * formats"): seed the v2 table, widen it with a trailing column, load
    * the next batch against the WIDER schema. Old rows read back with
    * NULL backfill — schema-on-read, the same contract
    * `scan_merge_schema` pins file-side — and the pre-evolution snapshot
    * stays time-travelable under the new schema. No data rewrite: at
    * scale ALTER is a metadata commit, never a table scan.
    */
  def sqlAlterEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    val target = seededStateTable(spark, sfDir, "orders_evo")
    spark.sql(s"ALTER TABLE $target ADD COLUMNS (priority STRING)")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        lit(2).as("load_id"), col("o_orderpriority").as("priority"))
      .createOrReplaceTempView("graft_evo_src")
    spark.sql(s"INSERT INTO $target SELECT * FROM graft_evo_src")
    spark.table(target).orderBy("o_orderkey")
  }

  /** STORAGE-PARTITIONED JOIN — the v2 answer to `join_bucketed`'s file
    * buckets: both tables declare `PARTITIONED BY (bucket(16, key))`,
    * their scans report `KeyGroupedPartitioning` with per-partition keys,
    * and Spark joins them with ZERO shuffle — neither side is exchanged,
    * because the layout already co-locates matching keys (the Iceberg
    * SPJ contract, `spark.sql.sources.v2.bucketing.enabled`). At 100 TB
    * this is THE fact-fact join move: the shuffle that dominates such a
    * join is paid once at write time and amortized over every
    * subsequent join. Plan-pinned in EtlTextSpec (sort-merge join with
    * no ShuffleExchange under it); the bucket function is plain
    * sign-safe mod, so the layout is oracle-invisible and replayable.
    */
  def joinStoragePartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val ordersT = "graftcat.spj.orders_b"
    val custT = "graftcat.spj.customer_b"
    spark.sql(s"DROP TABLE IF EXISTS $ordersT")
    spark.sql(s"DROP TABLE IF EXISTS $custT")
    spark.sql(
      s"""CREATE TABLE $ordersT (
          o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
          PARTITIONED BY (bucket(16, o_custkey))""")
    spark.sql(
      s"""CREATE TABLE $custT (c_custkey BIGINT, c_mktsegment STRING)
          PARTITIONED BY (bucket(16, c_custkey))""")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .writeTo(ordersT).append()
    spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
      .writeTo(custT).append()
    spark.table(ordersT).hint("merge")
      .join(spark.table(custT), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        // integer-cents sum (the skewAqe convention): order-invariant
        round(sum(round(col("o_totalprice") * 100).cast("bigint")) / 100.0, 2)
          .as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** Shared seeding for the DML-statement entries: a fresh v2 table
    * loaded with the even-keyed half of orders at load 1.
    */
  private def seededStateTable(
      spark: SparkSession, sfDir: String, name: String): String = {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    val target = s"graftcat.etl.$name"
    spark.sql(s"DROP TABLE IF EXISTS $target")
    spark.sql(
      s"CREATE TABLE $target (o_orderkey BIGINT, price DOUBLE, load_id INT)")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        lit(1).as("load_id"))
      .writeTo(target).append()
    target
  }

  /** CHANGEFEED generation — the PRODUCER side of CDC (the engine's
    * `sink_cdc_apply`/`stream_merge` are the consumer side): diff the
    * current table against `VERSION AS OF 1` into (op, before, after)
    * change rows — exactly what a downstream incremental consumer
    * replays. One FULL OUTER self-join on the key between two snapshot
    * scans; all three verbs are staged (UPDATE, DELETE, INSERT) so the
    * feed carries U, D, and I rows. At scale the join is key-partitioned
    * like any other; snapshot scans share the catalog's storage.
    */
  def sqlChangefeed(spark: SparkSession, sfDir: String): DataFrame = {
    val target = seededStateTable(spark, sfDir, "orders_cf") // commit 1
    spark.sql(
      s"""UPDATE $target SET price = price + 500.0, load_id = 2
          WHERE o_orderkey % 10 = 4""") // commit 2: U rows
    spark.sql(s"DELETE FROM $target WHERE o_orderkey % 10 = 8") // commit 3: D rows
    spark.sql(s"INSERT INTO $target VALUES (1, 42.5, 3)") // commit 4: the I row
    spark.sql(
      s"""SELECT coalesce(cur.o_orderkey, v1.o_orderkey) AS o_orderkey,
             CASE WHEN v1.o_orderkey IS NULL THEN 'I'
                  WHEN cur.o_orderkey IS NULL THEN 'D'
                  ELSE 'U' END AS op,
             v1.price AS price_before,
             cur.price AS price_after
          FROM $target cur
          FULL OUTER JOIN $target VERSION AS OF 1 v1
            ON cur.o_orderkey = v1.o_orderkey
          WHERE v1.o_orderkey IS NULL OR cur.o_orderkey IS NULL
             OR cur.price <> v1.price
          ORDER BY o_orderkey""")
  }

  def sinkUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val load1 = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), lit(1).as("load_id"))
    val load2 = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit(2).as("load_id"))
    val w = Window.partitionBy("o_orderkey").orderBy(desc("load_id"))
    val upserted = load1.unionByName(load2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("load_id"))
    // materialize through the sink and read back — the audit view is of
    // the STORED table, not the in-flight frame
    val dir = scratchDir(sfDir, "orders_upserted").toString
    upserted.write.mode(SaveMode.Overwrite).parquet(dir)
    spark.read.parquet(dir).orderBy("o_orderkey")
  }

  /** Quality-GATED ingest: every arriving batch is validated by the
    * expectation checks BEFORE commit — a clean batch appends to the
    * serving table, a failing batch quarantines WHOLE (the
    * all-or-nothing contract a curated corpus needs: nulls in a key
    * column signal upstream corruption, and letting the batch's clean
    * half through would make the failure invisible downstream). This is
    * `quality_expectations` composed with the sink path — the
    * multimodal_ingest_decode sequencing-proof stance applied to
    * validation.
    *
    * One batch arrives CORRUPTED by construction (every 10th row's
    * user_id nulled — a planted upstream join regression), so both
    * routes demonstrably carry rows. The audit reads BOTH tables back
    * from disk. Per batch the gate costs one conditional-aggregate scan
    * (a 1-row scalar pull — the house in-loop allowance) before the
    * write; at 100 TB the check shares the write's scan pass via
    * observe() metrics, which `scan_observed` already exercises.
    */
  def sinkQualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.Tables.events(spark, sfDir)
    val mm = events.agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
      .head()
    val (lo, span) = (mm.getLong(0), mm.getLong(1) - mm.getLong(0) + 1)
    val qtrExpr = expr(s"CAST(((event_id - ${lo}L) * 4) DIV ${span}L AS INT)")
    val clean = scratchDir(sfDir, "gate_clean").toString
    val quarantine = scratchDir(sfDir, "gate_quarantine").toString
    for (i <- 0 until 4) {
      val arrived = events.filter(qtrExpr === i)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val batch =
        if (i == 2)
          arrived.withColumn("user_id",
            when(col("event_id") % 10 === 0, lit(null).cast("long"))
              .otherwise(col("user_id")))
        else arrived
      // the SHARED structural checks (QualityOps) — one definition across
      // the batch suite, the streaming validator, and this gate
      val nBad = batch.agg(
        (graft.operators.QualityOps.eventNullUserFail +
          graft.operators.QualityOps.eventBadTypeFail).as("bad"))
        .head().getLong(0)
      batch.withColumn("batch_qtr", lit(i))
        .write.mode(SaveMode.Append)
        .parquet(if (nBad == 0L) clean else quarantine)
    }
    val readBack = spark.read.parquet(clean).withColumn("tbl", lit("clean"))
      .unionByName(
        spark.read.parquet(quarantine).withColumn("tbl", lit("quarantine")))
    readBack.groupBy(col("tbl"), col("batch_qtr"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_user"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy("tbl", "batch_qtr")
  }
}
