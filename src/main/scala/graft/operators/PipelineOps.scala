package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.Materialize.scratchDir
// TextOps.qualityScore / tokenHash60 and LlmOps.dedupNear are reused by
// pipelinePretrainV2 so every funnel gate is the SAME expression its
// standalone operator ships (one definition, one oracle convention).

/** Corpus-assembly operators — the stage of an LLM data pipeline that
  * sits BETWEEN cleaning/dedup (LlmOps, TextOps, SimOps) and the trainer:
  * deciding what mixture of sources to keep, how to cut documents into
  * retrieval chunks, how the surviving token stream packs into fixed-width
  * training sequences, and which URL-keyed records are the same page.
  * (Reference mandate: README.md:22 "Transform: clean or reformat the
  * data" + the builder prompt's training-data-pipeline extension list.)
  *
  * Everything here is deterministic by construction (content-hash
  * sampling, arithmetic chunk boundaries, rule-based canonicalization),
  * so every operator is oracle-paired — no seeded randomness anywhere.
  */
object PipelineOps {

  /** GPT-style sequence PACKING — documents are concatenated per source
    * shard in a deterministic order and the stream is cut every `budget`
    * tokens into training sequences (a document may straddle a cut; the
    * trainer masks attention across the boundary). The operator computes
    * each document's placement: its start offset in the shard's token
    * stream and the first/last sequence it lands in.
    *
    * Shape: token counts are map-side; the ONLY shuffle is the per-source
    * window that forms the running offset (a prefix sum — Spark sorts
    * within each source partition once). Offsets never leave their shard,
    * so shards pack independently and in parallel — exactly how a 100 TB
    * corpus packs: there is no global token stream, only per-shard
    * streams, so the window key IS the scale unit. A source bigger than
    * one task's comfortable sort is sub-sharded first (salt the source
    * key; offsets are per-shard by definition, so salting changes nothing
    * semantically) — the same escape hatch as every keyed window here.
    */
  def pipelinePack(documents: DataFrame, budget: Int = 64): DataFrame = {
    val prior = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("start_tok", coalesce(sum(col("n_toks")).over(prior), lit(0L)))
      .select(
        col("source"), col("doc_id"), col("n_toks"), col("start_tok"),
        floor(col("start_tok") / budget).as("seq_first"),
        floor((col("start_tok") + col("n_toks") - 1) / budget).as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .orderBy("source", "doc_id")
  }

  /** Sequence count and padding waste along the PACKING-BUDGET dial —
    * the tuning curve for [[pipelinePack]]'s one free parameter (a wider
    * sequence wastes less boundary padding but costs quadratic
    * attention; this table is the data half of that trade). One-pass
    * identity: per-source streams pack independently and a stream of
    * T tokens cuts into ceil(T/B) sequences whatever B is — so ONE
    * per-source token aggregate serves every budget, the sweep is
    * integer arithmetic ((T + B − 1) DIV B, exact both engines).
    */
  def pipelinePackSweep(
      documents: DataFrame, budgets: Seq[Int] = Seq(64, 256, 1024)): DataFrame = {
    val perSource = documents
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("t"))
    val aggs = budgets.map { b =>
      sum(expr(s"(t + ${b - 1}) DIV $b")).as(s"s$b")
    } :+ sum(col("t")).as("tot")
    val one = perSource.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(budgets.map(b => struct(
        lit(b).as("budget"), col(s"s$b").as("n_sequences"),
        (col(s"s$b") * b - col("tot")).as("waste_toks"),
        expr(s"(tot * 1000000) DIV (s$b * $b)").as("utilization_ppm"))): _*))
        .as("r"))
      .select(col("r.budget").as("budget"),
        col("r.n_sequences").as("n_sequences"),
        col("r.waste_toks").as("waste_toks"),
        col("r.utilization_ppm").as("utilization_ppm"))
      .orderBy("budget")
  }

  /** Domain-mixture SAMPLING — downsample each source to a target rate so
    * the corpus matches a designed mixture (the "data recipe" step every
    * published pretraining pipeline runs; rates here derive from the
    * source index, standing in for the real hand-tuned recipe table).
    * Selection is CONTENT-HASH based (the `sample_hash` rule): a document
    * is kept iff its first md5 hex digit falls under the rate threshold —
    * deterministic at any scale, partitioning, and re-run, and the
    * hex-digit thresholds (16ths) make the rate exact in expectation with
    * no RNG state. The mixture spec is DATA (a tiny table broadcast onto
    * the corpus), not code — swapping recipes touches no operator; it is
    * DERIVED from the OBSERVED distinct sources (rate by source index
    * mod 4, the stand-in recipe rule) rather than hard-coding a source
    * list, so a source outside a fixed list can never be silently
    * dropped by the join — the same derivation the oracle runs.
    *
    * Output is the per-source census a recipe audit reads: docs in/kept,
    * tokens kept, and each source's share of the kept token budget. The
    * share window runs over the per-source aggregate, not the corpus.
    */
  def pipelineMix(documents: DataFrame): DataFrame = {
    // source names are "src<N>"; the recipe keys on N % 4
    val idx = substring(col("source"), 4, 10).cast("int") % 4
    val mixture = documents.select(col("source")).distinct()
      .select(col("source"),
        when(idx === 0, 1.0).when(idx === 1, 0.5)
          .when(idx === 2, 0.25).otherwise(0.125).as("rate"),
        // 'g': every hex digit sorts below it
        when(idx === 0, "g").when(idx === 1, "8")
          .when(idx === 2, "4").otherwise("2").as("thr"))
    val kept = substring(md5(concat_ws("|", col("doc_id"))), 1, 1) < col("thr")
    documents
      .join(broadcast(mixture), "source")
      .select(col("source"), col("rate"), kept.as("kept"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("source"), col("rate"))
      .agg(
        count(lit(1)).as("n_docs_in"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("n_tokens_kept"))
      .withColumn("token_share",
        round(col("n_tokens_kept") /
          sum(col("n_tokens_kept")).over(Window.partitionBy()), 6))
      .orderBy("source")
  }

  /** Curriculum STAGING — order the corpus by a difficulty proxy and cut
    * it into equal-population training stages (curriculum learning's
    * easy→hard schedule; the proxy here is mean word length in chars ×
    * 1000, the stand-in for a learned difficulty model's score). The
    * score is EXACT INTEGER arithmetic (floor of chars·1000 / tokens —
    * both engines truncate identically after an explicit floor, the
    * agg_product rule), and the stage cut is ntile over the total order
    * (score, doc_id) — ntile's front-loaded remainder rule is identical
    * in Spark and DuckDB, so stage membership is bit-reproducible.
    *
    * Shape: the score is map-side; the ntile is ONE global sort of
    * (score, doc_id) pairs — the corpus-wide ranking a curriculum
    * inherently needs. At 100 TB the same plan holds because the sorted
    * payload is two longs per document (the text never enters the sort),
    * and range partitioning splits the order across executors; the
    * per-stage census it feeds is a bounded aggregate. Output: one row
    * per stage — population, token budget, score span, first doc.
    */
  def pipelineCurriculum(documents: DataFrame, stages: Int = 4): DataFrame = {
    // feeds the histogram AND the rank join — materialized once
    val scored = documents.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"),
      col("n_chars").cast("long").as("n_chars"))
      .select(col("doc_id"), col("n_toks"),
        floor(col("n_chars") * 1000 / col("n_toks")).cast("long").as("score"))
      .localCheckpoint()
    // global rank WITHOUT a single-partition corpus window: the running
    // count below each score comes from the SCORE HISTOGRAM (bounded by
    // the score domain — the only unpartitioned window here runs over
    // that small aggregate, the pipelineMix rule), and the intra-score
    // tie-break is a window PARTITIONED by score. rank = below + rn.
    val below = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    val cum = scored.groupBy(col("score")).agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum(col("c")).over(below), lit(0L)))
      .select("score", "below")
    val total = scored.agg(count(lit(1)).as("n"))
    val ranked = scored
      .join(broadcast(cum), "score")
      .withColumn("rn",
        row_number().over(Window.partitionBy("score").orderBy("doc_id")))
      .withColumn("rnk", col("below") + col("rn"))
      .crossJoin(broadcast(total))
    // ntile's front-loaded remainder rule in closed form: with q = n/k
    // and r = n%k, ranks 1..r(q+1) land in the first r stages of size
    // q+1, the rest in stages of size q — exact integer arithmetic, so
    // the oracle's plain ntile reproduces stage membership bit-for-bit
    val q = floor(col("n") / stages).cast("long")
    val r = col("n") % stages
    val stage = when(col("rnk") <= r * (q + 1),
        floor((col("rnk") + q) / (q + 1)).cast("long"))
      .otherwise(r + floor((col("rnk") - r * (q + 1) + q - 1) / q).cast("long"))
    ranked
      .withColumn("stage", stage)
      .groupBy(col("stage"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        min_by(col("doc_id"), struct(col("score"), col("doc_id"))).as("first_doc"))
      .orderBy("stage")
  }

  /** Span-corruption RENDERING — the artifact half of
    * `pipelineSpanCorruption` (which plans the mask): the actual
    * (input, target) training pair, T5-style — masked spans collapse to
    * a sentinel in the input and reappear after their sentinel in the
    * target. Same md5(doc, span) mask rule; the assembly is pure
    * higher-order-function list algebra (transform → flatten →
    * array_join), zero shuffles, and the rendered strings are
    * byte-compared by the oracle (document-sized rows — the text_chunk
    * precedent).
    */
  def pipelineSpanRender(documents: DataFrame, span: Int = 3): DataFrame = {
    val toks = split(col("text"), " ")
    val nToks = size(toks).cast("long")
    val nSpans = floor((col("n_toks") + span - 1) / span).cast("long")
    val masked = (i: Column) =>
      substring(md5(concat_ws("|", col("doc_id"), i)), 1, 1) < "3"
    documents
      .select(col("doc_id"), toks.as("tk"), nToks.as("n_toks"))
      .withColumn("n_spans", nSpans)
      .withColumn("spans",
        transform(sequence(lit(0L), col("n_spans") - 1),
          i => struct(
            masked(i).as("m"),
            slice(col("tk"), (i * span + 1).cast("int"), lit(span)).as("seg"))))
      .select(
        col("doc_id"), col("n_toks"),
        array_join(flatten(transform(col("spans"),
          s => when(s.getField("m"), array(lit("<M>")))
            .otherwise(s.getField("seg")))), " ").as("input_text"),
        array_join(transform(
          filter(col("spans"), s => s.getField("m")),
          s => concat(lit("<M> "), array_join(s.getField("seg"), " "))), " ")
          .as("target_text"))
      .orderBy("doc_id")
  }

  /** Cross-split LEAKAGE audit — the eval-hygiene check every held-out
    * set owes: NEAR-DUPLICATE pairs (the production MinHash/LSH dedup,
    * reused verbatim — one definition, one oracle convention) that
    * straddle the train/val/test boundary leak training signal into
    * evaluation even though no doc id is shared. Pairs land in a
    * per-(split_a, split_b) census; a cross-split pair touching an eval
    * split is flagged. Cost = the dedup itself + one broadcast-sized
    * split map join; at 100 TB the pair set is the already-banded
    * candidate output, never all-pairs.
    */
  def pipelineLeakageAudit(documents: DataFrame): DataFrame = {
    val pairs = LlmOps.dedupNear(documents)
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val splits = documents.select(col("doc_id"),
      when(h < "c", "train").when(h < "e", "val").otherwise("test")
        .as("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        "doc_b")
      .groupBy(col("split_a"), col("split_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(min(col("jac")), 6).as("min_jac"),
        round(max(col("jac")), 6).as("max_jac"))
      .withColumn("is_leak", col("split_a") =!= col("split_b") &&
        (col("split_a").isin("val", "test") ||
          col("split_b").isin("val", "test")))
      .orderBy("split_a", "split_b")
  }

  /** EPOCH SHUFFLE plan — the deterministic global permutation a
    * multi-epoch training run needs: per epoch, every document gets a
    * fresh pseudo-random position from md5(epoch, doc_id) (content-hash
    * determinism — reproducible across re-runs and partitioning, yet
    * DIFFERENT between epochs), then positions map to (shard, offset)
    * under a fixed shard size. The audit proves each epoch is a COMPLETE
    * permutation (every doc exactly once, every shard full except the
    * tail) and that epochs genuinely reshuffle (pairwise different
    * orders). The rank is a per-epoch window over (hash, doc_id) —
    * partitioned by epoch, and at 100 TB by (epoch, hash-prefix) with
    * offsets composed exactly like pipeline_curriculum's histogram rank.
    */
  def pipelineEpochShuffle(documents: DataFrame, epochs: Int = 2,
      shardSize: Int = 64): DataFrame = {
    val eps = (1 to epochs).map(lit(_))
    val byHash = Window.partitionBy("epoch").orderBy(col("h"), col("doc_id"))
    documents
      .select(col("doc_id"), explode(array(eps: _*)).as("epoch"))
      .withColumn("h", md5(concat_ws("|", col("epoch"), col("doc_id"))))
      .withColumn("pos", row_number().over(byHash).cast("long") - 1)
      .select(col("epoch"), col("doc_id"),
        floor(col("pos") / shardSize).cast("long").as("shard"),
        (col("pos") % shardSize).as("offset"))
      .groupBy(col("epoch"), col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        // order fingerprint: epochs must differ, re-runs must not
        sum(col("offset") * col("doc_id")).as("order_fp"))
      .orderBy("epoch", "shard")
  }

  /** LENGTH-BUCKET batching — sequence-length bucketing (the standard
    * padding-efficiency move: batch similar-length documents so pad
    * tokens don't dominate). Buckets are power-of-two ceilings chosen by
    * an EXPLICIT threshold CASE (float log2 would mis-bucket exact
    * powers); per bucket the census reports batch count under a fixed
    * token budget and the realized padding efficiency — the number a
    * training-throughput dashboard watches. Map-side + one bounded
    * aggregate.
    */
  def pipelineLengthBuckets(
      documents: DataFrame, budgetToks: Int = 4096): DataFrame = {
    val n = size(split(col("text"), " ")).cast("long")
    val bucket = when(n <= 16, 16L).when(n <= 32, 32L).when(n <= 64, 64L)
      .when(n <= 128, 128L).when(n <= 256, 256L).when(n <= 512, 512L)
      .otherwise(1024L)
    documents
      .select(n.as("n_toks"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
      .withColumn("rows_per_batch", floor(lit(budgetToks) / col("bucket")).cast("long"))
      .withColumn("n_batches",
        floor((col("n_docs") + col("rows_per_batch") - 1) / col("rows_per_batch"))
          .cast("long"))
      .withColumn("pad_efficiency",
        round(col("sum_toks").cast("double") / (col("n_docs") * col("bucket")), 6))
      .orderBy("bucket")
  }

  /** Deterministic TRAIN/VAL/TEST split — the held-out partition every
    * training run needs, assigned by CONTENT HASH (the `sample_hash`
    * rule): md5 first hex digit 0–b → train (12/16), c–d → val, e–f →
    * test. Hash assignment is stable under re-runs, repartitioning, and
    * corpus growth (a doc never migrates between splits), which is what
    * makes the val set trustworthy across pipeline versions. Splits are
    * disjoint and exhaustive BY CONSTRUCTION; the census makes the
    * partition law auditable per source. Entirely map-side + one
    * bounded aggregate.
    */
  def pipelineSplit(documents: DataFrame): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    documents
      .select(col("source"),
        when(h < "c", "train").when(h < "e", "val").otherwise("test")
          .as("split"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("doc_share", round(
        col("n_docs") / sum(col("n_docs")).over(
          Window.partitionBy(col("source"))), 6))
      .orderBy("source", "split")
  }

  /** T5-style SPAN CORRUPTION planning — the denoising-objective mask:
    * tokens are grouped into fixed spans of 3 and each span is masked iff
    * its content hash falls under a 3/16 rate (the `sample_hash` rule
    * keyed on (doc_id, span_idx) — deterministic at any partitioning,
    * no RNG state to coordinate across executors). The operator emits
    * each document's corruption plan: span count, masked spans, masked
    * tokens (the last span may run short — masked-token arithmetic uses
    * its true size), and the realized corruption rate.
    *
    * Shape: there is NO shuffle and NO token explosion — the span walk
    * runs inside `aggregate(sequence(...))` (a codegen'd higher-order
    * expression over the span INDEX list, bounded by n_toks/3 per row),
    * so the whole plan is a map-side projection followed by the
    * presentation sort. This is the 100 TB form: masking is decided per
    * document row, never by a corpus-wide pass.
    */
  def pipelineSpanCorruption(documents: DataFrame, span: Int = 3): DataFrame = {
    val nToks = size(split(col("text"), " ")).cast("long")
    // ceil(n/span) in exact integer form
    val nSpans = floor((col("n_toks") + span - 1) / span).cast("long")
    val masked = (i: Column) =>
      substring(md5(concat_ws("|", col("doc_id"), i)), 1, 1) < "3"
    documents
      .select(col("doc_id"), nToks.as("n_toks"))
      .withColumn("n_spans", nSpans)
      .select(
        col("doc_id"), col("n_toks"), col("n_spans"),
        aggregate(sequence(lit(0L), col("n_spans") - 1), lit(0L),
          (acc, i) => acc + when(masked(i), 1L).otherwise(0L))
          .as("n_spans_masked"),
        aggregate(sequence(lit(0L), col("n_spans") - 1), lit(0L),
          (acc, i) => acc + when(masked(i),
            least(lit(span.toLong), col("n_toks") - i * span)).otherwise(0L))
          .as("n_toks_masked"))
      .withColumn("corrupt_rate",
        round(col("n_toks_masked").cast("double") / col("n_toks"), 6))
      .orderBy("doc_id")
  }

  /** Retrieval CHUNKING — cut each document into overlapping fixed-width
    * token windows (width 32, stride 24 → 8-token overlap), the unit a
    * RAG index embeds and retrieves. Boundaries are pure arithmetic on
    * the token count: starts at 0, stride, 2·stride, …; every token is
    * covered; the final chunk may run short; an empty-ish document still
    * yields exactly one chunk (chunk_idx 0), so no document silently
    * vanishes from the index.
    *
    * Entirely map-side: the chunk fan-out is sequence+explode inside the
    * projection (a Generator — executor-side row multiplication, like
    * `dedup_paragraph`'s segmenter), and there is NO shuffle before the
    * presentation sort. Fan-out is bounded by n_toks/stride per document.
    */
  def textChunk(documents: DataFrame, width: Int = 32, stride: Int = 24): DataFrame = {
    // stride > width leaves uncovered gaps between chunks and stride <= 0
    // breaks the boundary arithmetic — both violate the coverage
    // invariant silently, so they are rejected loudly instead
    require(stride > 0 && stride <= width,
      s"textChunk requires 0 < stride <= width, got stride=$stride width=$width")
    val toks = split(col("text"), " ")
    // ceil((n - overlap) / stride), at least 1 — overlap = width - stride
    val nChunks = greatest(lit(1L),
      floor((size(toks) - (width - stride) + stride - 1) / lit(stride.toDouble))
        .cast("long"))
    documents
      .select(col("doc_id"), toks.as("t"), size(toks).cast("long").as("n"),
        explode(sequence(lit(0L), nChunks - 1)).as("i"))
      .select(
        col("doc_id"),
        col("i").as("chunk_idx"),
        (col("i") * stride).as("start_tok"),
        least(lit(width.toLong), col("n") - col("i") * stride).as("n_chunk_toks"),
        array_join(
          slice(col("t"), (col("i") * stride + 1).cast("int"), lit(width)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** URL-canonicalization dedup — the web-crawl page-identity rule: two
    * fetches are the same page when their URLs agree after canonical
    * form. The corpus carries no URLs, so deterministic noisy ones are
    * derived from doc_id (the `fn_url` convention — which also makes the
    * oracle exact BY CONSTRUCTION): mixed-case scheme/host, tracking
    * `utm_*` params, shuffled param order, and a fragment, varying by
    * doc_id parity rules; the PAGE identity (host, path, id/ref params)
    * repeats every 200 ids, so true duplicates exist across the noise
    * at every scale factor (the corpus floor is 500 docs).
    *
    * Canonicalizer (all map-side `parse_url` + array ops, codegen'd):
    * lowercase scheme and host, drop the fragment (parse_url QUERY
    * excludes it), drop `utm_*` tracking params, SORT the surviving
    * params (param order never carries page identity). Dedup is then
    * `dedup_exact`'s shape — one hash aggregate on the canonical string.
    * At 100 TB the groupBy key would be sha2(canonical) per the engine's
    * never-group-on-raw-payload rule; the canonical URL is short and
    * bounded here, and the output must present it anyway.
    */
  def dedupUrl(documents: DataFrame): DataFrame = {
    val d = col("doc_id")
    val idp = concat(lit("id="), (d % 200).cast("string"))
    val refp = concat(lit("ref=r"), ((d % 200) % 7).cast("string"))
    val utm = lit("utm_source=feed")
    val query = when(d % 3 === 0,
      when(d % 2 === 0, concat_ws("&", idp, utm, refp))
        .otherwise(concat_ws("&", utm, refp, idp)))
      .otherwise(
        when(d % 2 === 0, concat_ws("&", idp, refp))
          .otherwise(concat_ws("&", refp, idp)))
    val url = concat(
      when(d % 2 === 0, lit("https")).otherwise(lit("HTTPS")), lit("://"),
      lit("Host"), (d % 20).cast("string"), lit(".Example.COM"),
      lit("/docs/"), (d % 200).cast("string"),
      lit("?"), query,
      when(d % 5 === 0, lit("#top")).otherwise(lit("")))
    val canonical = documents
      .select(url.as("url"), col("doc_id"))
      .select(
        concat(
          lower(parse_url(col("url"), lit("PROTOCOL"))), lit("://"),
          lower(parse_url(col("url"), lit("HOST"))),
          parse_url(col("url"), lit("PATH")),
          lit("?"),
          array_join(
            array_sort(filter(
              split(parse_url(col("url"), lit("QUERY")), "&"),
              p => substring(p, 1, 4) =!= "utm_")), "&")).as("canonical_url"),
        col("doc_id"))
    canonical
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("first_doc"))
      .orderBy("canonical_url")
  }

  /** The COMPLETE pretraining funnel — `pipeline_pretrain` (quality →
    * exact dedup → near-dup) extended with the two gates a production
    * corpus run adds: the Gopher-style repetition gate (drop documents
    * whose duplicate-trigram fraction exceeds 5% — `text_repetition`'s
    * statistic as a filter) and GPT-3-style benchmark DECONTAMINATION
    * (`text_decontaminate`'s 8-gram overlap as a removal stage: the
    * benchmark slice itself leaves the training set, and any training
    * document sharing a gram with it is dropped). Six census stages:
    *   0 base → 1 quality → 2 repetition → 3 exact → 4 near-dup → 5 decon.
    *
    * Scale shape is inherited piecewise from the parts, all previously
    * plan-audited: gates 1–2 are map-side expression filters; stage 3 is
    * one hash-keyed window; stage 4 is the LSH-bounded candidate chain;
    * stage 5 is per-doc gram hashes (map-side) → one equi-join against
    * the distinct benchmark grams (tiny by definition — broadcasts at
    * any corpus size). The sequencing matters and is what the oracle
    * checks: each stage filters the SURVIVORS of the previous one, while
    * benchmark grams come from the ORIGINAL corpus slice (eval identity
    * must not depend on what cleaning kept).
    */
  /** In-engine TRAINED quality classifier — the fastText-style learned
    * filter every pretraining pipeline runs after the rule-based gates
    * (weak label here: is-English, learned from two surface features).
    * Batch gradient descent, `rounds` full passes: per round ONE
    * scan-aggregate produces the gradient (map-side partial aggregation,
    * 4 longs per partition on the wire) and the driver updates the
    * 3-scalar weight vector — the Lloyd-loop shape of sim_kmeans, with
    * the model (not the data) on the driver. Determinism is engineered
    * like the kmeans oracles' integer domain: the squashing function is
    * the ALGEBRAIC sigmoid 0.5 + z/(2(1+|z|)) — same IEEE arithmetic on
    * every engine, unlike exp() whose last-ulp differs across libm
    * implementations — and per-row gradient contributions are quantized
    * to integer micro-units before the sum, so partial aggregation order
    * cannot perturb the result and DuckDB can replay training exactly
    * (unrolled-round oracle). Features are materialized once
    * (lazy localCheckpoint) and reused by all round scans + scoring.
    */
  def pipelineQualityClassifier(
      documents: DataFrame, rounds: Int = 3, lr: Double = 0.5): DataFrame = {
    val toks = split(col("text"), " ")
    val stop = array(Seq("the", "and", "of", "to", "in", "a", "is", "it")
      .map(lit): _*)
    val alphaRatio = length(regexp_replace(col("text"), "[^a-z]", ""))
      .cast("double") / length(col("text"))
    val stopRatio = size(array_intersect(array_distinct(toks), stop))
      .cast("double") / lit(8.0)
    val feats = documents.select(
      col("doc_id"),
      alphaRatio.as("x1"),
      stopRatio.as("x2"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      .localCheckpoint(eager = false)
    def sigOf(w: Array[Double]): Column = {
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    }
    var w = Array(0.0, 0.0, 0.0)
    for (_ <- 1 to rounds) {
      val err = sigOf(w) - col("y")
      // quantize per row, sum exactly: integer micro-units make the
      // gradient independent of partition/summation order
      val g = feats.agg(
        sum(round(err * lit(1e6)).cast("long")).as("g0"),
        sum(round(err * col("x1") * lit(1e6)).cast("long")).as("g1"),
        sum(round(err * col("x2") * lit(1e6)).cast("long")).as("g2"),
        count(lit(1)).as("n")).head()
      val n = g.getLong(3).toDouble
      w = Array(
        w(0) - lr * (g.getLong(0).toDouble / 1e6) / n,
        w(1) - lr * (g.getLong(1).toDouble / 1e6) / n,
        w(2) - lr * (g.getLong(2).toDouble / 1e6) / n)
    }
    val sig = sigOf(w)
    feats.select(
      col("doc_id"),
      round(sig, 6).as("score"),
      (sig >= 0.5).as("pred_en"),
      (col("y") === 1.0).as("is_en"))
      .orderBy("doc_id")
  }

  /** CALIBRATION audit of the trained quality classifier — the 10-bin
    * reliability table (mean predicted probability vs empirical positive
    * rate per score bin, exact integer micro-units) plus the Expected
    * Calibration Error summary row (bin −1, the drift_psi summary
    * convention). A filter threshold is only meaningful if the scores
    * are calibrated — a classifier that says 0.9 and is right 60% of the
    * time quarantines the wrong documents — so the audit ships WITH the
    * trainer (composes `pipelineQualityClassifier` verbatim; the oracle
    * shares the scored CTE chain, so audit and model cannot drift).
    * Scale: one pass over the scored corpus into a ≤10-row bin table;
    * ECE is integer arithmetic on that table.
    */
  def pipelineClassifierCalibration(documents: DataFrame): DataFrame = {
    val scored = pipelineQualityClassifier(documents)
    val b = scored.select(
      least(floor(col("score") * 10).cast("long"), lit(9L)).cast("int").as("bin"),
      round(col("score") * 1e6).cast("long").as("score_u"),
      when(col("is_en"), 1L).otherwise(0L).as("pos"))
    val bins = b.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      expr("sum(score_u) DIV count(1)").as("mean_score_u"),
      expr("(sum(pos) * 1000000) DIV count(1)").as("pos_rate_u"))
      .withColumn("gap_u", abs(col("mean_score_u") - col("pos_rate_u")))
      .localCheckpoint() // ≤10 rows feed both the table and the summary
    val summary = bins.agg(
      sum(col("n")).as("n"),
      expr("sum(n * gap_u) DIV sum(n)").as("ece_u"))
      .select(lit(-1).as("bin"), col("n"),
        lit(null).cast("long").as("mean_score_u"),
        lit(null).cast("long").as("pos_rate_u"),
        col("ece_u").as("gap_u"))
    bins.select("bin", "n", "mean_score_u", "pos_rate_u", "gap_u")
      .unionByName(summary)
      .orderBy("bin")
  }

  def pipelinePretrainV2(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"))
    // duplicate-trigram fraction, the text_repetition construction —
    // but built from SLICES zipped together, not element_at(ft, i) in a
    // transform lambda. The distinction is load-bearing: filter pushdown
    // substitutes the ft alias into this predicate, and HOF lambdas are
    // interpreted (no codegen CSE), so an outer-reference element_at
    // re-evaluates filter(split(lower(text))) PER ELEMENT — O(tokens^2)
    // per document, measured 10.9 s of a 14.8 s funnel at sf0.1. As
    // zip_with ARGUMENTS the slices are evaluated once per row: linear.
    val ft = col("ft")
    val tg = when(size(ft) < 3, array().cast("array<string>"))
      .otherwise(zip_with(
        zip_with(slice(ft, lit(1), size(ft) - 2), slice(ft, lit(2), size(ft) - 2),
          (a, b) => concat(a, lit(" "), b)),
        slice(ft, lit(3), size(ft) - 2),
        (ab, c) => concat(ab, lit(" "), c)))
    val dupFrac = when(size(tg) <= 0, lit(0.0))
      .otherwise(round(lit(1.0) -
        size(array_distinct(tg)).cast("double") / size(tg).cast("double"), 4))
    // ONE labeling pass instead of one filter chain per census branch:
    // each document carries its survival flag per stage (g1..g5), the
    // expensive sub-pipelines (near-dup, decontamination) run ONCE over
    // exactly the survivor sets the staged form fed them, and all six
    // censuses fall out of a single aggregate over the labeled corpus
    // (stage s counts docs with g_s). Cuts the funnel's corpus scans
    // from ~10 (per-branch recompute) to ~4 — the difference between a
    // reporting query and re-running the pipeline per report row.
    val staged2 = base
      .select(col("doc_id"), col("text"),
        (TextOps.qualityScore(col("text")) >= 0.5).as("g1"))
      .select(col("doc_id"), col("text"), col("g1"),
        filter(split(lower(col("text")), " "), x => x =!= "").as("ft"))
      .select(col("doc_id"), col("text"), col("g1"),
        (col("g1") && dupFrac <= 0.05).as("g2"))
    // first occurrence among stage-2 survivors of each exact-text group
    val wTxt = Window.partitionBy(sha2(col("text"), 256))
    val staged3 = staged2
      .withColumn("firstSurv", min(when(col("g2"), col("doc_id"))).over(wTxt))
      .withColumn("g3", col("g2") && col("doc_id") === col("firstSurv"))
      .drop("firstSurv")
    val e = staged3.filter(col("g3")).select("doc_id", "text")
    val removed = LlmOps.dedupNear(e).select(col("doc_b").as("doc_id"))
      .distinct().withColumn("nd", lit(true))
    val staged4 = staged3.join(removed, Seq("doc_id"), "left")
      .withColumn("g4", col("g3") && !coalesce(col("nd"), lit(false)))
      .drop("nd")
    // decontamination: 8-gram hashes (text_decontaminate's construction;
    // same materialize-before-lambda rule for the token array)
    val tk = col("tk")
    val gramsH = when(size(tk) >= 8,
      array_distinct(transform(sequence(lit(1), size(tk) - 7),
        i => TextOps.tokenHash60(array_join(slice(tk, i, lit(8)), " ")))))
      .otherwise(array().cast("array<bigint>"))
    def tokenized(df: DataFrame): DataFrame =
      df.select(col("doc_id"), split(col("text"), " ").as("tk"))
    val bench = tokenized(base.filter(col("doc_id") % 50 === 0))
      .select(explode(gramsH).as("g")).distinct()
    // Hits are computed over the full non-benchmark corpus, NOT the g4
    // survivors: `ht` only matters where g4 is true (g5 = g4 && !ht), so
    // the result is identical — but deriving this branch from `base`
    // instead of `staged4` keeps the near-dup subtree out of it, which
    // would otherwise run twice (once here, once in the final label
    // join). The extra gram hashing on non-survivors is bounded by the
    // survivor ratio; re-running MinHash+LSH is not.
    val hit = tokenized(base.filter(col("doc_id") % 50 =!= 0))
      .select(col("doc_id"), explode(gramsH).as("g"))
      .join(bench, "g").select("doc_id").distinct()
      .withColumn("ht", lit(true))
    val labeled = staged4.join(hit, Seq("doc_id"), "left")
      .withColumn("g5", col("g4") && col("doc_id") % 50 =!= 0 &&
        !coalesce(col("ht"), lit(false)))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        col("g1"), col("g2"), col("g3"), col("g4"), col("g5"))
    def cDocs(g: Column) = coalesce(sum(when(g, 1L).otherwise(0L)), lit(0L))
    def cToks(g: Column) = coalesce(sum(when(g, col("n_toks")).otherwise(0L)), lit(0L))
    val one = labeled.agg(
      coalesce(count(lit(1)), lit(0L)).as("c0"),
      coalesce(sum(col("n_toks")), lit(0L)).as("t0"),
      cDocs(col("g1")).as("c1"), cToks(col("g1")).as("t1"),
      cDocs(col("g2")).as("c2"), cToks(col("g2")).as("t2"),
      cDocs(col("g3")).as("c3"), cToks(col("g3")).as("t3"),
      cDocs(col("g4")).as("c4"), cToks(col("g4")).as("t4"),
      cDocs(col("g5")).as("c5"), cToks(col("g5")).as("t5"))
    one.select(explode(array((0 to 5).map(s =>
        struct(lit(s).as("stage"), col(s"c$s").as("n_docs"),
          col(s"t$s").as("n_tokens"))): _*)).as("st"))
      .select(col("st.stage").as("stage"), col("st.n_docs").as("n_docs"),
        col("st.n_tokens").as("n_tokens"))
      .orderBy("stage")
  }

  /** In-engine BPE TOKENIZER TRAINING (Sennrich et al. 2016 — the
    * public byte-pair-encoding recipe every LLM tokenizer descends
    * from): learn the first `rounds` merges over the corpus. The scale
    * anatomy is the point — the only corpus-sized stage is the word
    * count (ONE distinct-shuffle, exactly how production BPE trainers
    * scale: token frequencies first, merges on the compact vocabulary);
    * the merge loop then runs on the vocab-sized symbol table with a
    * per-round localCheckpoint (the dedup_clusters / Lloyd loop shape),
    * and each round's winning pair stays a 1-row broadcast — nothing is
    * ever collected. Merge application is the greedy leftmost-first
    * rule as a left fold over the symbol array (plain attribute refs in
    * the lambda — the interpreted-HOF hazard needs an EXPENSIVE outer
    * expression to bite); ties break lexicographically so training is
    * bit-deterministic, and the oracle replays every round (pair
    * counts, argmax, recursive merge application) in DuckDB.
    */
  def pipelineBpeTrain(documents: DataFrame, rounds: Int = 6): DataFrame =
    bpeLoop(documents, rounds)._1.orderBy("round")

  /** Tokenize WITH the learned tokenizer — apply the trained merges back
    * to the corpus and report per-document whitespace-vs-BPE token
    * counts (the number a sequence-packing budget actually needs; the
    * whitespace count `text_tokens` uses is only a proxy). The corpus
    * side is one explode + one join against the VOCAB-sized symbol
    * table (broadcast-sized by construction) — tokenizing 100 TB costs
    * one map-side join, the merges are learned once.
    */
  def pipelineBpeApply(documents: DataFrame, rounds: Int = 6): DataFrame = {
    val (_, seqs) = bpeLoop(documents, rounds)
    val vocab = seqs.select(col("w"), size(col("syms")).cast("long").as("n_sym"))
    documents.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_sym")).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY census — BPE symbols emitted per whitespace
    * word, per language: THE multilingual tokenizer-equity metric (a
    * language with 2× fertility pays 2× the context budget per word, so
    * mixes and packing budgets must know it). Reuses the learned merge
    * loop verbatim; the corpus-side cost is one explode + one join
    * against the vocab-sized symbol table + one hash aggregate — the
    * same single-pass shape as `pipelineBpeApply`, aggregated by lang
    * instead of doc.
    */
  def pipelineFertility(documents: DataFrame, rounds: Int = 6): DataFrame = {
    val (_, seqs) = bpeLoop(documents, rounds)
    val vocab = seqs.select(col("w"), size(col("syms")).cast("long").as("n_sym"))
    documents.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_sym")).as("n_bpe"))
      .select(col("lang"), col("n_ws"), col("n_bpe"),
        round(col("n_bpe").cast("double") / col("n_ws").cast("double"), 6)
          .as("fertility"))
      .orderBy("lang")
  }

  /** Shared merge-learning loop: returns (merge table, final per-word
    * symbol table). See [[pipelineBpeTrain]] for the design notes.
    */
  private def bpeLoop(documents: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val words = documents.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    // split keeps a trailing "" (limit -1 semantics) — drop it, or the
    // first rounds learn phantom (x, "") merges
    var seqs = words
      .select(col("w"), col("n"),
        array_remove(split(col("w"), "(?!^)"), "").as("syms"))
      .localCheckpoint(eager = false)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val pairs = seqs.select(col("n"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
      // the round's winner: frozen eagerly so later rounds' plans don't
      // re-run earlier rounds' argmax
      val best = pairs.orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
        .localCheckpoint()
      merges = {
        val row = best.select(lit(r).as("round"), col("a").as("sym_a"),
          col("b").as("sym_b"), concat(col("a"), col("b")).as("merged"),
          col("cnt"))
        if (merges == null) row else merges.unionAll(row)
      }
      seqs = applyMerge(seqs, best)
    }
    (merges, seqs)
  }

  /** Greedy leftmost-first application of one learned merge to every
    * word's symbol sequence (shared by the BPE and WordPiece loops) —
    * the winning pair arrives as a 1-row broadcast, application is a
    * left fold over the vocab-sized symbol table.
    */
  private def applyMerge(seqs: DataFrame, best: DataFrame): DataFrame =
    seqs.crossJoin(broadcast(best.select(col("a"), col("b"))))
      .select(col("w"), col("n"),
        aggregate(col("syms"), array().cast("array<string>"),
          (acc, x) => when(
              get(acc, size(acc) - 1) === col("a") && x === col("b"),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(col("a"), col("b")))))
            .otherwise(concat(acc, array(x)))).as("syms"))
      .localCheckpoint(eager = false)

  /** WORDPIECE training loop (Schuster & Nakajima 2012 — the BERT
    * tokenizer's objective): identical merge machinery to BPE, but the
    * round winner maximizes the LIKELIHOOD gain
    * score(a,b) = count(ab) / (count(a)·count(b)) instead of raw pair
    * frequency — a merge of two already-common symbols must pay for
    * itself, so WordPiece prefers cohesive units over frequent ones.
    * The score is the integer quotient (cnt·10¹²) DIV (cₐ·c_b),
    * computed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so it stays
    * exact and engine-identical at any corpus size — no silent Long
    * wraparound past cnt ≈ 9·10⁶ (r13 ADVICE).
    *
    * Scale shape: the corpus-sized stage is still ONE word count; per
    * round the pair table AND the symbol-count table are vocab-sized
    * aggregates off the symbol sequences, the argmax is a 1-row
    * TakeOrdered, and merge application is the shared vocab-sized fold.
    */
  private def wpLoop(documents: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val words = documents.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    var seqs = words
      .select(col("w"), col("n"),
        array_remove(split(col("w"), "(?!^)"), "").as("syms"))
      .localCheckpoint(eager = false)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val pairs = seqs.select(col("n"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
      val syms = seqs.select(col("n"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("n")).as("c"))
      val best = pairs
        .join(syms.select(col("s").as("a"), col("c").as("ca")), "a")
        .join(syms.select(col("s").as("b"), col("c").as("cb")), "b")
        // DECIMAL(38,0) intermediates: cnt·10¹² overflows a Long past
        // cnt ≈ 9.2·10⁶ (and cₐ·c_b independently) — Spark would wrap
        // silently while DuckDB promotes, diverging exactly at the
        // corpus sizes this is designed for (r13 ADVICE). Both engines
        // carry the 38-digit integer exactly; the quotient ≤ 10¹² is
        // cast back to BIGINT so the published schema is unchanged.
        .withColumn("score_u",
          expr("CAST((CAST(cnt AS DECIMAL(38,0)) * 1000000000000) DIV " +
            "(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) " +
            "AS BIGINT)"))
        .orderBy(desc("score_u"), asc("a"), asc("b")).limit(1)
        .localCheckpoint()
      merges = {
        val row = best.select(lit(r).as("round"), col("a").as("sym_a"),
          col("b").as("sym_b"), concat(col("a"), col("b")).as("merged"),
          col("cnt"), col("score_u"))
        if (merges == null) row else merges.unionAll(row)
      }
      seqs = applyMerge(seqs, best)
    }
    (merges, seqs)
  }

  /** The learned WordPiece merge table — see [[wpLoop]]. */
  def pipelineWordpieceTrain(documents: DataFrame, rounds: Int = 6): DataFrame =
    wpLoop(documents, rounds)._1.orderBy("round")

  /** Tokenize with the learned WordPiece merges: per-document whitespace
    * vs post-merge piece counts — same one-explode-one-broadcast-join
    * census as [[pipelineBpeApply]], so the two tokenizers' compression
    * is directly comparable per document.
    */
  def pipelineWordpieceApply(documents: DataFrame, rounds: Int = 6): DataFrame = {
    val (_, seqs) = wpLoop(documents, rounds)
    val vocab = seqs.select(col("w"), size(col("syms")).cast("long").as("n_sym"))
    documents.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_sym")).as("n_wp"))
      .orderBy("doc_id")
  }

  /** Per-language WordPiece fertility — [[pipelineFertility]]'s (BPE)
    * and [[pipelineUnigramFertility]]'s third sibling, completing the
    * tokenizer-equity comparison across all three training objectives:
    * join the per-lang rows of the three entries and the mix planner
    * reads which tokenizer taxes which language least.
    */
  def pipelineWordpieceFertility(documents: DataFrame, rounds: Int = 6): DataFrame = {
    val (_, seqs) = wpLoop(documents, rounds)
    val vocab = seqs.select(col("w"), size(col("syms")).cast("long").as("n_sym"))
    documents.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_sym")).as("n_wp"))
      .select(col("lang"), col("n_ws"), col("n_wp"),
        round(col("n_wp").cast("double") / col("n_ws").cast("double"), 6)
          .as("fertility"))
      .orderBy("lang")
  }

  /** Training-export SHARD MANIFEST — the reproducibility artifact a
    * corpus release ships alongside its shards: per shard, the doc and
    * token counts, the id range, and an ORDER-INVARIANT content
    * fingerprint (bit_xor of per-doc 60-bit md5 keys — any partitioning
    * or task order produces the same value, and a single changed /
    * dropped / duplicated doc changes it). Sharding is content-hashed
    * (md5 of the text, not the id), so shard sizes stay balanced no
    * matter how ids were assigned upstream — the property that keeps
    * downstream training readers uniform at 100 TB. One hash aggregate
    * on an 8-value key; the manifest is the only output, the shard
    * write itself is `sink_partitioned`'s job.
    */
  def pipelineShardManifest(documents: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    documents.select(col("doc_id"), col("text"))
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(8)).cast("int"))
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        expr("bit_xor(h)").as("content_fp"))
      .orderBy("shard")
  }

  /** Epoch PLANNING under a token budget — the data-constrained-scaling
    * table (how many epochs of each source to run, Muennighoff et al.
    * 2023): sources weight by √tokens (up-sampling small high-quality
    * sources), shares normalize over the weight sum, and per-source
    * epochs cap at 4 (the published diminishing-returns knee). The
    * determinism trick: weights are FLOOR(√(tokens·10⁶)) as integers, so
    * the cross-source normalizing sum is an order-invariant INTEGER sum
    * (a float Σ√ would vary with aggregation order); each output value
    * is then one fixed-order double expression over exact ints. One
    * corpus aggregate + O(sources) arithmetic.
    */
  def epochPlan(documents: DataFrame, budgetToks: Long = 60000L): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val perSource = documents
      .select(col("source"), size(toks).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_toks"))
      .withColumn("w",
        floor(sqrt(col("n_toks").cast("double") * 1000000.0)).cast("long"))
    val totalW = perSource.agg(sum(col("w")).as("sum_w"))
    perSource.crossJoin(broadcast(totalW))
      .select(col("source"), col("n_toks"), col("w"),
        least(lit(4.0),
          round(lit(budgetToks.toDouble) * col("w").cast("double") /
            (col("sum_w").cast("double") * col("n_toks").cast("double")), 4))
          .as("epochs"))
      .withColumn("planned_toks",
        round(col("epochs") * col("n_toks").cast("double")).cast("long"))
      .orderBy("source")
  }

  /** SFT example formatting — the supervised-fine-tuning prep step:
    * render each (prompt, response) pair through a chat template and
    * emit the LOSS-MASK span (the char range the trainer computes loss
    * over — everything before the response is masked). Pure map-side
    * string arithmetic, zero shuffles before the output sort; the
    * rendered text is fingerprinted (md5) rather than emitted, so the
    * oracle proves byte-exact formatting without hashing megabyte rows.
    * Docs too short to yield a non-empty response are dropped — the
    * deterministic eligibility rule, not a sample.
    */
  def sftFormat(
      documents: DataFrame, promptToks: Int = 12, respToks: Int = 20): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val prefix = "### Prompt:\n"
    val sep = "\n### Response:\n"
    documents
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > promptToks)
      .select(col("doc_id"),
        array_join(slice(col("toks"), 1, promptToks), " ").as("prompt"),
        array_join(slice(col("toks"), promptToks + 1, respToks), " ")
          .as("response"),
        (size(col("toks")) - promptToks).as("n_rest"))
      .select(
        col("doc_id"),
        least(col("n_rest"), lit(respToks)).as("n_resp_toks"),
        (length(col("prompt")) + lit(prefix.length + sep.length))
          .as("loss_start"),
        length(col("response")).as("loss_len"),
        md5(concat(lit(prefix), col("prompt"), lit(sep), col("response")))
          .as("rendered_md5"))
      .orderBy("doc_id")
  }

  /** Preference-pair construction — the (chosen, rejected) extraction
    * step of RLHF/DPO data prep: within each candidate group, pick the
    * best- and worst-scored document and emit one training pair with its
    * score margin. Score here is the doc-local type-token ratio (any
    * model- or heuristic-score column slots in); argmax/argmin are the
    * tie-deterministic `max_by`/`min_by` struct form (the agg_argmax
    * house rule). ONE hash aggregate over the group key — no window, no
    * per-group sort — so pair extraction is a single shuffle at any
    * corpus size; degenerate single-candidate groups drop (no pair).
    */
  def preferencePairs(documents: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val ttr = round(
      size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 6)
    documents
      .filter(size(toks) > 0)
      .select(col("source"), col("lang"), col("doc_id"), ttr.as("ttr"))
      .groupBy(col("source"), col("lang"))
      .agg(
        max_by(col("doc_id"), struct(col("ttr"), col("doc_id"))).as("chosen_id"),
        min_by(col("doc_id"), struct(col("ttr"), col("doc_id"))).as("rejected_id"),
        round(max(col("ttr")) - min(col("ttr")), 6).as("margin"),
        count(lit(1)).as("n_candidates"))
      .filter(col("chosen_id") =!= col("rejected_id"))
      .orderBy("source", "lang")
  }

  /** In-engine NODE-EMBEDDING training (DeepWalk's trainer stage,
    * closing the walks → pairs → embeddings chain the walk entries
    * opened): skip-gram with negative sampling over the
    * `graph_walk_pairs` census, as BATCH gradient descent — the
    * distributed form of SGNS (per-sample SGD is sequential by
    * construction; batch rounds are the Lloyd/quality-classifier
    * shape, and each round is ONE join + ONE grouped aggregate + ONE
    * update join, all on compact keys).
    *
    * Determinism is engineered exactly like `pipelineQualityClassifier`
    * (the precedent the unrolled DuckDB oracle needs):
    *   - the squashing function is the ALGEBRAIC sigmoid
    *     0.5 + z/(2(1+|z|)) — identical IEEE arithmetic on every
    *     engine, no libm exp();
    *   - the model STATE is integer micro-units end to end (the
    *     kmeans-xq quantization applied to the embedding table): every
    *     per-example gradient contribution is quantized BEFORE the
    *     per-node sum, the per-round update step is re-quantized to an
    *     integer, and the output is the raw micro-unit integers — no
    *     scale-6 float rounding anywhere, because round(x, 6) is the
    *     one op whose decimal-vs-binary path CAN diverge across
    *     engines on accumulated values (measured: 7 of 64k values
    *     straddled a 6th-decimal midpoint at sf0.1 under float state);
    *   - negatives are the seeded-md5 coin: for each positive
    *     (center, context) pair, ONE negative node drawn by hash rank
    *     over the vocabulary (fixed across rounds — a deterministic
    *     noise distribution the oracle replays; a draw may collide
    *     with the true context, which standard SGNS tolerates);
    *   - init embeddings are a pure integer function of (node, dim).
    * Examples are weighted by the pair census count, so the census IS
    * the positive distribution (no pair-row explosion back to walk
    * scale). Per-node updates normalize by the node's own example
    * weight (per-parameter step size, the practical SGNS scaling).
    *
    * Scale: the model lives DISTRIBUTED (node-keyed embedding table,
    * never collected); per round the example set joins it on center
    * and context keys — two compact-key shuffles — and the gradient
    * aggregate is map-side combinable. 100 TB of walks reduce to a
    * pair census first (`graph_walk_pairs`), so training cost is
    * O(distinct pairs), not O(walk corpus).
    */
  def pipelineNodeEmbed(orders: DataFrame, lineitem: DataFrame,
      steps: Int = 4, window: Int = 2, dim: Int = 4,
      rounds: Int = 2, lr: Double = 0.5): DataFrame =
    nodeEmbedWithLoss(orders, lineitem, steps, window, dim, rounds, lr,
      lossTrace = false)._1

  /** Dense 1..V rank of a compact non-negative id column WITHOUT a
    * single-partition corpus window — the `pipelineCurriculum`
    * histogram-rank machinery applied to the id domain. The id range is
    * cut into ≤1024 CONTIGUOUS buckets (width from one max-id scalar
    * pull, so the bucket count is fixed regardless of vocabulary size);
    * the running count below each bucket comes from the bucket-count
    * HISTOGRAM (≤1024 rows — the only unpartitioned window here runs
    * over that bounded aggregate, the house rule), and the intra-bucket
    * tie-break is a window PARTITIONED by bucket (~V/1024 rows per
    * task). Because buckets are contiguous id ranges, below + rn is
    * bit-identical to `row_number() OVER (ORDER BY id)` — the oracle
    * keeps the plain spelling. At 100 TB graph scale (billions of
    * nodes) every stage stays parallel: no corpus-scaled relation ever
    * passes through a single task.
    */
  private[graft] def denseRankById(ids: DataFrame, idCol: String = "node",
      buckets: Int = 1024, maxIdKnown: Option[Long] = None): DataFrame = {
    // callers that already hold the max id (e.g. from a fused scalar
    // aggregate) pass it in, saving the extra 1-row action (r14, §1.2)
    val maxId = maxIdKnown.getOrElse(
      ids.agg(max(col(idCol)).cast("long")).head().getLong(0))
    val width = maxId / buckets + 1 // ids are non-negative compact longs
    val bucketed = ids.withColumn("bkt",
      floor(col(idCol) / width).cast("long"))
    val below = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum(col("c")).over(below), lit(0L)))
      .select("bkt", "below")
    bucketed.join(broadcast(cum), "bkt")
      .withColumn("rnk", col("below") +
        row_number().over(Window.partitionBy("bkt").orderBy(idCol)))
      .select(col(idCol), col("rnk"))
  }

  /** The trainer with an optional per-round LOSS trace (quantized
    * squared error, exact integer micro-units — one extra 1-row
    * aggregate pull per round, spec-only: the registry entry skips it
    * so the bench number is pure training).
    */
  private[graft] def nodeEmbedWithLoss(orders: DataFrame, lineitem: DataFrame,
      steps: Int, window: Int, dim: Int, rounds: Int, lr: Double,
      lossTrace: Boolean): (DataFrame, Seq[Double]) = {
    // the UNSORTED census: the trainer re-keys it immediately, so the
    // declared entry's global sort would be checkpointed for nothing (r14)
    val pairsW = GraphOps.walkPairsRaw(orders, lineitem, steps, window)
      .localCheckpoint()
    val nodes = pairsW.select(col("center").as("node")).distinct()
    // vocabulary size + max id in ONE 1-row aggregate pull (r14: was two
    // separate scalar actions — nodes.count() here, max(id) in denseRankById)
    val vRow = nodes.agg(count(lit(1)), max(col("node")).cast("long")).head()
    val v = vRow.getLong(0)
    val ranked = denseRankById(nodes, maxIdKnown = Some(vRow.getLong(1)))
      .localCheckpoint()
    val negRank = conv(substring(
        md5(concat_ws("|", col("center"), col("context"))), 1, 8), 16, 10)
      .cast("long") % lit(v) + 1
    val pos = pairsW.select(col("center"), col("context"),
      col("n_pairs"), lit(1.0).as("label"))
    val negs = pairsW.select(col("center"), negRank.as("rnk"), col("n_pairs"))
      .join(ranked, "rnk")
      .select(col("center"), col("node").as("context"),
        col("n_pairs"), lit(0.0).as("label"))
    // integer micro-unit init: e = ((node·37 + i·101) mod 2001 − 1000)/1000,
    // stored ×1e6 — an exact long
    def initCol(i: Int): Column =
      ((col("node") * 37 + lit(i * 101)) % 2001 - 1000) * 1000
    // init embeddings stay LAZY: a trivial projection over the `ranked`
    // checkpoint — round 1 evaluates it once per join side, cheaper than
    // the checkpoint action it replaces (~0.45 s per one-shuffle checkpoint,
    // OPTIMIZATION_r14.md "Driver-overhead constants")
    var emb = ranked.select(
      col("node") +: (1 to dim).map(i => initCol(i).as(s"e$i")): _*)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    // r15 second session (r14 verdict item 3, §2.4): the example table is
    // the static O(pairs) side of every round's center join — cache it
    // partitioned+sorted on center (the co-purchase `kept` treatment) so
    // each round shuffles only the O(V) embedding projections, never the
    // examples. The cache replaces the eager localCheckpoint (whose scan
    // reported unknown partitioning, re-paying the exchange per round);
    // it materializes inside round 1's action.
    Materialize.releasing(pos.unionByName(negs)
      .repartition(col("center")).sortWithinPartitions("center")
      .persist()) { ex =>
      for (r <- 1 to rounds) {
        val u = emb.select(
          col("node").as("center") +: (1 to dim).map(i => col(s"e$i").as(s"u$i")): _*)
        val vv = emb.select(
          col("node").as("context") +: (1 to dim).map(i => col(s"e$i").as(s"v$i")): _*)
        val j = ex.join(u, "center").join(vv, "context")
        def du(i: Int): Column = col(s"u$i").cast("double") / lit(1e6)
        def dv(i: Int): Column = col(s"v$i").cast("double") / lit(1e6)
        val z = (1 to dim).map(i => du(i) * dv(i)).reduce(_ + _)
        val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
        if (lossTrace) {
          // weighted squared error in exact micro-units (order-proof sum)
          val l = j.agg(sum(round((p - col("label")) * (p - col("label"))
            * col("n_pairs") * lit(1e6)).cast("long")).as("l")).head().getLong(0)
          losses += l / 1e6
        }
        val err = (p - col("label")) * col("n_pairs")
        val contrib = j.select(
          Seq(col("center"), col("context"), col("n_pairs")) ++
            (1 to dim).map(i =>
              round(err * dv(i) * lit(1e6)).cast("long").as(s"gc$i")) ++
            (1 to dim).map(i =>
              round(err * du(i) * lit(1e6)).cast("long").as(s"go$i")): _*)
        val gcen = contrib.select(
          Seq(col("center").as("node"), col("n_pairs").as("nw")) ++
            (1 to dim).map(i => col(s"gc$i").as(s"g$i")): _*)
        val gctx = contrib.select(
          Seq(col("context").as("node"), col("n_pairs").as("nw")) ++
            (1 to dim).map(i => col(s"go$i").as(s"g$i")): _*)
        val aggs = sum(col("nw")).as("nw") +:
          (1 to dim).map(i => sum(col(s"g$i")).as(s"g$i"))
        val grad = gcen.unionByName(gctx).groupBy("node")
          .agg(aggs.head, aggs.tail: _*)
        // integer update: δ_micro = round(lr·g/nw) — 0.5·g is an exact
        // halving, the division is one deterministic IEEE op, and the
        // scale-0 round agrees across engines (no decimal re-scaling)
        emb = emb.join(grad, Seq("node"), "left")
          .select(col("node") +: (1 to dim).map(i =>
            when(col("nw").isNull, col(s"e$i"))
              .otherwise(col(s"e$i") - round(lit(lr)
                * col(s"g$i").cast("double")
                / col("nw").cast("double")).cast("long")).as(s"e$i")): _*)
        // checkpoint BETWEEN rounds (r15, §1.2: round r+1 consumes emb
        // twice and its joins need the materialized size estimate) AND
        // after the last round — the final checkpoint came back in the
        // second session because the lazy final emb still references the
        // clustered `ex` cache, which must be releasable before return
        // (the slices-over-unpersisted-adj lesson). Net actions are
        // unchanged: the cache materializes lazily inside round 1 where
        // the old eager ex.localCheckpoint() was its own job.
        emb = emb.localCheckpoint()
      }
    }
    // raw micro-unit integers out — the whole result hash-compares exactly
    val out = emb.select(
      col("node") +: (1 to dim).map(i => col(s"e$i")): _*)
      .orderBy("node")
    (out, losses.toSeq)
  }

  /** Nearest nodes by TRAINED embedding — the DeepWalk chain's
    * consumer (link prediction / node similarity off the learned
    * space): per probe node (every 64th id — present at every fixture
    * SF), the top-k other nodes by cosine over the SGNS embeddings.
    * The dot products and squared norms are EXACT integer arithmetic
    * in micro-unit space (values < 2^44 — no float accumulation at
    * all until the single final division), so the only doubles are one
    * division + two sqrts per candidate on identical integer inputs —
    * nothing order-sensitive for the oracle to diverge on. Probes are
    * the first `nProbes` nodes of the mod class (the betweenness
    * nSeeds discipline): a mod rule ALONE makes the probe count scale
    * with the corpus and the brute-force scan quadratic — the ×10
    * probe measured the uncapped form at 24× for 10× data; capped, the
    * cost is O(corpus) per fixed probe budget. Probes broadcast; the
    * corpus side streams — the sim_topk serving shape over a learned
    * table instead of a stored one.
    */
  def pipelineNodeEmbedTopk(orders: DataFrame, lineitem: DataFrame,
      steps: Int = 4, window: Int = 2, dim: Int = 4, rounds: Int = 2,
      lr: Double = 0.5, probeMod: Int = 64, nProbes: Int = 32,
      k: Int = 3): DataFrame = {
    val emb = nodeEmbedWithLoss(orders, lineitem, steps, window, dim,
      rounds, lr, lossTrace = false)._1.localCheckpoint()
    embedTopk(emb, dim, probeMod, nProbes, k)
  }

  /** The brute-force scoring kernel of [[pipelineNodeEmbedTopk]] over
    * any (node, e1..eN) micro-unit table — shared with the recall
    * audit so the exhaustive reference and the consumer entry cannot
    * drift.
    */
  private[graft] def embedTopk(embIn: DataFrame, dim: Int, probeMod: Int,
      nProbes: Int, k: Int): DataFrame = {
    val emb = embIn.select(
      col("node") +: (1 to dim).map(i => col(s"e$i")): _*)
    val nrm2 = (1 to dim).map(i => col(s"e$i") * col(s"e$i")).reduce(_ + _)
    val en = emb.withColumn("nrm2", nrm2)
    val probes = en.filter(col("node") % probeMod === 0)
      .orderBy("node").limit(nProbes)
      .select(col("node").as("probe") +:
        ((1 to dim).map(i => col(s"e$i").as(s"p$i")) :+ col("nrm2").as("pn")): _*)
    val dot = (1 to dim).map(i => col(s"e$i") * col(s"p$i")).reduce(_ + _)
    val w = Window.partitionBy("probe").orderBy(desc("cos"), asc("node"))
    en.crossJoin(broadcast(probes))
      .filter(col("node") =!= col("probe")
        && col("nrm2") > 0 && col("pn") > 0)
      .select(col("probe"), col("node"),
        round(dot.cast("double")
          / (sqrt(col("nrm2").cast("double")) * sqrt(col("pn").cast("double"))),
          6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe"), col("rank"), col("node"), col("cos"))
      .orderBy("probe", "rank")
  }

  /** Build half of the SERVED node-embedding index (r11 verdict item
    * 4): train the SGNS embeddings, assign every node to its SIGN-BYTE
    * cell (bit i set ⟺ e_i > 0 — the dedup_embedding blocking rule,
    * exactly replayable in SQL, no learned codebook needed for a
    * 4-dim space), and write the table `partitionBy(cell)` — the
    * `sink_ann_index` stance: the directory tree IS the inverted file.
    * Returns the layout dir for [[nodeEmbedIndexServe]] / Bench's
    * serve-only split.
    */
  private[graft] def nodeEmbedIndexBuild(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      steps: Int = 4, window: Int = 2, dim: Int = 4, rounds: Int = 2,
      lr: Double = 0.5): String = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val emb = nodeEmbedWithLoss(orders, lineitem, steps, window, dim,
      rounds, lr, lossTrace = false)._1
    val cell = (1 to dim).map(i =>
      when(col(s"e$i") > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val dir = scratchDir(sfDir, "node_embed_index").toString
    emb.withColumn("cell", cell.cast("int"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(dir)
    dir
  }

  /** Serve half: top-k nearest nodes per probe OFF THE STORED LAYOUT.
    * Probes (every `probeMod`-th node, capped at `nProbes` — the
    * quadratic-guard cap the ×10 probe forced on the brute-force twin)
    * rank the 16 sign cells by the exact integer score Σ±p_i (the
    * cell's sign pattern dotted with the probe) and read only their
    * `nprobeCells` best cells: the broadcast join on the partition
    * column prunes at FILE level, so serving cost is
    * O(probes · probed-cell bytes), insensitive to how many cells the
    * corpus has grown — the stream_ann_search precedent. Candidates
    * are duplicate-free by construction (each node lives in exactly
    * one cell); cosine is the integer micro-unit arithmetic of
    * [[pipelineNodeEmbedTopk]], one double division at the end.
    */
  private[graft] def nodeEmbedIndexServe(
      spark: org.apache.spark.sql.SparkSession, dir: String, dim: Int = 4,
      probeMod: Int = 64, nProbes: Int = 32, nprobeCells: Int = 4,
      k: Int = 3): DataFrame = {
    val index = spark.read.parquet(dir)
    val nrm2 = (1 to dim).map(i => col(s"e$i") * col(s"e$i")).reduce(_ + _)
    val probes = index
      .filter(col("node") % probeMod === 0).orderBy("node").limit(nProbes)
      .select(col("node").as("probe") +:
        ((1 to dim).map(i => col(s"e$i").as(s"p$i")) :+ nrm2.as("pn")): _*)
    val cells = spark.range(1 << dim).select(col("id").cast("int").as("cell"))
    val score = (1 to dim).map(i =>
      when(col("cell").bitwiseAND(lit(1 << (i - 1))) =!= 0, col(s"p$i"))
        .otherwise(-col(s"p$i"))).reduce(_ + _)
    val wP = Window.partitionBy("probe").orderBy(desc("score"), asc("cell"))
    val probeCells = probes.crossJoin(broadcast(cells))
      .withColumn("score", score)
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= nprobeCells)
      .select(col("cell") +: col("probe") +:
        ((1 to dim).map(i => col(s"p$i")) :+ col("pn")): _*)
    val dot = (1 to dim).map(i => col(s"e$i") * col(s"p$i")).reduce(_ + _)
    val wC = Window.partitionBy("probe").orderBy(desc("cos"), asc("node"))
    index.join(broadcast(probeCells), "cell")
      .withColumn("nrm2", nrm2)
      .filter(col("node") =!= col("probe")
        && col("nrm2") > 0 && col("pn") > 0)
      .select(col("probe"), col("node"),
        round(dot.cast("double")
          / (sqrt(col("nrm2").cast("double")) * sqrt(col("pn").cast("double"))),
          6).as("cos"))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select(col("probe"), col("rank"), col("node"), col("cos"))
      .orderBy("probe", "rank")
  }

  /** The graph-embedding chain UNIFIED with the vector-serving family:
    * train → cell-partitioned stored layout → partition-pruned top-k
    * serve, end to end. Build cost is once, amortized over every
    * query; the serve path never touches unprobed cells' bytes.
    */
  def pipelineNodeEmbedServed(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    nodeEmbedIndexServe(spark, nodeEmbedIndexBuild(spark, sfDir))

  /** RECALL audit of the served layout — the `sim_ivf_recall` stance
    * applied to the learned node space: how much does restricting
    * candidates to 4 probed sign cells cost against the exhaustive
    * scan? One index build feeds BOTH sides (the brute reference runs
    * [[embedTopk]] over the same stored table, so the two arms share
    * every scoring constant); per rank: probes compared, candidates the
    * layout found at all, exact node agreement, and the summed cosine
    * gap in micro-units (round-before-sum — order-proof). The number an
    * operator reads before trusting the served path with production
    * traffic, computed in-engine with no export.
    */
  def pipelineNodeEmbedRecall(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val dir = nodeEmbedIndexBuild(spark, sfDir)
    val index = spark.read.parquet(dir).localCheckpoint()
    val brute = embedTopk(index, dim = 4, probeMod = 64, nProbes = 32, k = 3)
      .select(col("probe"), col("rank"),
        col("node").as("b_node"), col("cos").as("b_cos"))
    val served = nodeEmbedIndexServe(spark, dir)
      .select(col("probe"), col("rank"),
        col("node").as("s_node"), col("cos").as("s_cos"))
    brute.join(served, Seq("probe", "rank"), "left")
      .groupBy(col("rank"))
      .agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("s_node").isNotNull, 1L).otherwise(0L)).as("n_served"),
        sum(when(col("s_node") === col("b_node"), 1L).otherwise(0L))
          .as("n_same_node"),
        sum(when(col("s_cos").isNotNull,
            round((col("b_cos") - col("s_cos")) * lit(1e6)).cast("long"))
          .otherwise(lit(0L))).as("cos_gap_micro"))
      .orderBy("rank")
  }

  /** Embedding-QUALITY audit — the recall-audit stance (dedup_near_recall,
    * sim_ivf_recall) applied to the trained node embeddings: does the
    * learned space actually encode the graph? For every true edge
    * (a, b) of the trade graph, draw one md5-rank NON-edge partner b′
    * and score both pairs by trained-embedding cosine (exact integer
    * micro-units — the rounded micro value is what sums and compares,
    * so the aggregate is order-proof). Per bucket: edge count, mean
    * edge/negative cosine mass, and how often the true edge outranks
    * its sampled negative — a paired ranking statistic (the AUC
    * estimator's per-pair form). A healthy embedding shows
    * edge mass ≫ negative mass; a collapsed or untrained one shows
    * parity — the audit that tells an operator whether to ship the
    * table, run more rounds, or investigate, without exporting
    * anything. Cost: one edge scan + three vec_id-keyed joins against
    * the embedding table (the negative draw may collide with a true
    * neighbor of a — standard for sampled-negative audits; the md5
    * rank is uniform over the vocabulary).
    */
  def pipelineNodeEmbedAudit(orders: DataFrame, lineitem: DataFrame,
      steps: Int = 4, window: Int = 2, dim: Int = 4, rounds: Int = 2,
      lr: Double = 0.5): DataFrame = {
    val emb = nodeEmbedWithLoss(orders, lineitem, steps, window, dim,
      rounds, lr, lossTrace = false)._1.localCheckpoint()
    val nrm2 = (1 to dim).map(i => col(s"e$i") * col(s"e$i")).reduce(_ + _)
    val en = emb.withColumn("nrm2", nrm2).filter(col("nrm2") > 0)
    val v = emb.count()
    val ranked = denseRankById(emb.select(col("node"))).localCheckpoint()
    val pairs = orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    val edges = pairs.select((col("cust") * 2).as("a"), (col("supp") * 2 + 1).as("b"))
    val negRank = conv(substring(
        md5(concat_ws("|", col("a"), col("b"))), 1, 8), 16, 10)
      .cast("long") % lit(v) + 1
    val withNeg = edges
      .join(ranked.select(col("rnk"), col("node").as("bneg")),
        negRank === col("rnk"))
      .select(col("a"), col("b"), col("bneg"))
    def side(tag: String): DataFrame = en.select(
      col("node").as(tag) +:
        ((1 to dim).map(i => col(s"e$i").as(s"$tag$i")) :+ col("nrm2").as(s"${tag}n")): _*)
    def cosMicro(x: String, y: String): Column = {
      val dot = (1 to dim).map(i => col(s"$x$i") * col(s"$y$i")).reduce(_ + _)
      round(dot.cast("double")
        / (sqrt(col(s"${x}n").cast("double")) * sqrt(col(s"${y}n").cast("double")))
        * lit(1e6)).cast("long")
    }
    withNeg
      .join(side("a"), "a").join(side("b"), "b")
      .join(side("bneg"), "bneg")
      .select(col("a"), cosMicro("a", "b").as("edge_micro"),
        cosMicro("a", "bneg").as("neg_micro"))
      .groupBy((col("a") % 8).as("bucket"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("edge_micro")).as("edge_mass_micro"),
        sum(col("neg_micro")).as("neg_mass_micro"),
        sum(when(col("edge_micro") > col("neg_micro"), 1L).otherwise(0L))
          .as("n_edge_wins"))
      .orderBy("bucket")
  }

  /** Dataset-card census — the per-(source, lang) summary table a
    * released training corpus ships with (doc/token counts, length
    * quantiles, short-doc fraction). ONE map-side labeling pass + ONE
    * hash aggregate over the composition key; output is O(sources ×
    * langs) rows, so the full card is driver-safe at any corpus size.
    * Median is the exact built-in (both engines average the two middle
    * values on even counts).
    */
  def datasetCard(documents: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    documents
      .select(
        col("source"), col("lang"), col("n_chars"),
        size(toks).cast("long").as("n_toks"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        round(avg(col("n_toks")), 4).as("avg_toks"),
        round(median(col("n_chars")), 1).as("median_chars"),
        round(avg(when(col("n_chars") < 100, 1.0).otherwise(0.0)), 4)
          .as("short_frac"))
      .orderBy("source", "lang")
  }

  // ---- unigram-LM tokenizer (SentencePiece-style, Kudo 2018) ----------

  private val UniMaxPiece = 4
  private val UniVocabTop = 48

  /** In-engine UNIGRAM-LM TOKENIZER TRAINING (Kudo 2018 — the
    * SentencePiece recipe, the other public tokenizer-training family
    * next to BPE): seed a candidate vocabulary from weighted substring
    * counts, score pieces by -ln p in integer micro-units, Viterbi-
    * segment every distinct word, re-estimate piece scores from the
    * hard-EM usage counts (Laplace-smoothed over the full vocabulary so
    * unused pieces stay finite and single chars keep every word
    * segmentable), and segment again. Output: both rounds' per-word
    * optimal segmentation, cost and piece count.
    *
    * Scale anatomy (the same as `pipelineBpeTrain`): the ONLY
    * corpus-sized stage is the word count — one distinct-shuffle;
    * seeding, scoring, and both Viterbi passes run on the VOCAB-sized
    * word table with the piece table broadcast. The per-word DP is pure
    * map-side expression arithmetic.
    *
    * Determinism: every DP state is the STRING `%020d-cost|seg` — the
    * zero-padded integer cost prefix makes lexicographic `array_min`
    * equal to (cost, then segmentation-string) order, and the DuckDB
    * oracle folds the IDENTICAL encoding, so tie-breaking cannot drift
    * between engines. Costs are integer micro-units (round-before-sum).
    */
  def pipelineUnigramLm(documents: DataFrame): DataFrame = {
    val (seg1, seg2) = unigramLoop(documents)
    def shape(r: Int, s: DataFrame) = s.select(
      lit(r).as("round"), col("w"), col("n"), col("cost_u"),
      size(split(col("seg"), " ")).cast("int").as("n_pieces"), col("seg"))
    shape(1, seg1).unionByName(shape(2, seg2)).orderBy("round", "w")
  }

  /** Tokenize WITH the trained unigram model — per-document whitespace
    * vs unigram piece counts, the `pipelineBpeApply` census for the
    * other tokenizer family (a packing budget needs BOTH tokenizers'
    * counts to choose between them). Corpus side: one explode + one
    * broadcast-sized join against the segmented word table.
    */
  def pipelineUnigramApply(documents: DataFrame): DataFrame = {
    val (_, seg2) = unigramLoop(documents)
    val vocab = seg2.select(col("w"),
      size(split(col("seg"), " ")).cast("long").as("n_pc"))
    documents.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_pc")).as("n_uni"))
      .orderBy("doc_id")
  }

  /** Fertility of the unigram tokenizer per language — the apply-side
    * census `pipelineFertility` runs for BPE, over the round-2 unigram
    * segmentation. One explode + one broadcast-sized join + one hash
    * aggregate on the corpus side.
    */
  def pipelineUnigramFertility(documents: DataFrame): DataFrame = {
    val (_, seg2) = unigramLoop(documents)
    val vocab = seg2.select(col("w"),
      size(split(col("seg"), " ")).cast("long").as("n_pc"))
    documents.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_pc")).as("n_uni"))
      .select(col("lang"), col("n_ws"), col("n_uni"),
        round(col("n_uni").cast("double") / col("n_ws").cast("double"), 6)
          .as("fertility"))
      .orderBy("lang")
  }

  /** Shared train loop: (round-1 segmentation, round-2 segmentation),
    * each (w, n, cost_u, seg) with seg trimmed. See [[pipelineUnigramLm]].
    */
  private def unigramLoop(documents: DataFrame): (DataFrame, DataFrame) = {
    // 32-char word cap (the SentencePiece max-sentencepiece-length
    // convention): bounds the per-word substring collect at 4·32 rows
    // by CONSTRUCTION — a megabyte "word" is corruption, not vocabulary
    val words = documents.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= 32)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    // candidate pieces: every substring of length 1..4 at every position,
    // weighted by word frequency (each occurrence counts)
    val subs = words
      .select(col("n"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), st =>
          transform(
            sequence(lit(1), least(lit(UniMaxPiece), length(col("w")) - st + 1)),
            ln => col("w").substr(st, ln))))).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
    val top = subs.orderBy(desc("cnt"), asc("piece")).limit(UniVocabTop)
    // single chars always kept: the segmentability floor
    val vocab = top.unionByName(subs.filter(length(col("piece")) === 1))
      .groupBy("piece").agg(max(col("cnt")).as("cnt"))
      .localCheckpoint(eager = false)
    val c1 = vocab.crossJoin(broadcast(
        vocab.agg(sum(col("cnt")).as("tot"))))
      .select(col("piece"),
        round(-log(col("cnt").cast("double") / col("tot")) * 1e6)
          .cast("long").as("c"))
    val seg1 = uniViterbi(words, c1)
    // hard-EM re-estimation: usage counts from the round-1 segmentation,
    // Laplace +1 over the FULL vocabulary
    val usage = seg1
      .select(col("n"), explode(split(col("seg"), " ")).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
    val v2 = vocab.select("piece")
      .join(usage, Seq("piece"), "left").na.fill(0L, Seq("cnt"))
    val c2 = v2.crossJoin(broadcast(
        v2.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("v"))))
      .select(col("piece"),
        round(-log((col("cnt") + 1.0) / (col("tot") + col("v"))) * 1e6)
          .cast("long").as("c"))
    (seg1, uniViterbi(words, c2))
  }

  /** One Viterbi pass: per word, the min-cost segmentation under the
    * piece costs, with the string-encoded DP state (see
    * [[pipelineUnigramLm]]'s determinism note). Returns
    * (w, n, cost_u, seg) with seg trimmed.
    */
  private def uniViterbi(words: DataFrame, costs: DataFrame): DataFrame = {
    // per word: all in-vocab substring occurrences as
    // (e = end pos, st0 = 0-based dp index of the start, c, p)
    val occ = words
      .select(col("w"), col("n"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), st =>
          transform(
            sequence(lit(1), least(lit(UniMaxPiece), length(col("w")) - st + 1)),
            ln => struct(
              (st + ln - 1).as("e"), (st - 1).as("st0"),
              col("w").substr(st, ln).as("p")))))).as("o"))
      .select(col("w"), col("n"), col("o.e").as("e"), col("o.st0").as("st0"),
        col("o.p").as("p"))
      .join(broadcast(costs), col("p") === col("piece"))
      .groupBy(col("w"), col("n"))
      .agg(collect_list(struct(col("e"), col("st0"), col("c"), col("p")))
        .as("ps"))
    val dp = aggregate(
      sequence(lit(1), length(col("w"))),
      array(concat(format_string("%020d", lit(0L)), lit("|"))),
      (acc: Column, e: Column) => concat(acc, array(array_min(transform(
        filter(col("ps"), p => p.getField("e") === e),
        p => concat(
          format_string("%020d",
            substring(element_at(acc, p.getField("st0") + 1), 1, 20)
              .cast("long") + p.getField("c")),
          lit("|"),
          substring(element_at(acc, p.getField("st0") + 1), 22, 1000000),
          lit(" "), p.getField("p")))))))
    occ.select(col("w"), col("n"),
        element_at(dp, length(col("w")) + 1).as("st"))
      .select(col("w"), col("n"),
        substring(col("st"), 1, 20).cast("long").as("cost_u"),
        trim(substring(col("st"), 22, 1000000)).as("seg"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * the public hashed-n-gram importance-weighting recipe): score every
    * document by how much more likely its token bag is under a TARGET
    * distribution (here the `lang = 'en'` slice — the usual "formal
    * text" proxy) than under the raw corpus, using hashed unigram bucket
    * frequencies as the feature space. A document's log importance
    * weight is Σ_tokens [ln p̂_target(bucket) − ln p̂_raw(bucket)] with
    * add-one smoothing; `selected` keeps the docs whose bag is
    * target-leaning (log weight > 0). The published method then
    * resamples by weight — the md5 Gumbel coin `sample_weighted`
    * already ships is that step; this operator is the weighing room.
    *
    * Determinism: per-token ln ratios are micro-quantized BEFORE the
    * per-doc sum (round-before-sum, the zipf-audit convention), so the
    * doc score is an order-invariant integer sum; the bucket hash is
    * the md5→conv cross-engine coin.
    *
    * Scale shape: ONE corpus-sized token explode feeds both bucket
    * histograms (target is a filtered re-aggregation of the same scan),
    * the weight table is `buckets`-sized (1024 rows — broadcast), and
    * per-doc scoring is a map-side broadcast join + one hash aggregate
    * on doc_id. Nothing wider than the corpus scan itself; at 100 TB
    * this is the same one-pass funnel shape as `text_quality`.
    */
  def pipelineDsir(documents: DataFrame, buckets: Int = 1024): DataFrame =
    dsirScores(documents, buckets)
      .select(col("doc_id"), col("n_feats"), col("logw_u"),
        (col("logw_u") > 0).cast("int").as("selected"))
      .orderBy("doc_id")

  /** The shared DSIR weighing room: per doc, feature count and the
    * order-invariant integer log importance weight. See [[pipelineDsir]]
    * for the design notes; [[pipelineDsirResample]] reuses this frame so
    * threshold selection and resampling cannot drift apart.
    */
  private def dsirScores(documents: DataFrame, buckets: Int): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))
    val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("n_raw"))
    val tgt = toks.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("n_tgt"))
    val counts = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("n_tgt"))
    // add-one smoothing over the OBSERVED bucket support (nb), not the
    // full hash range: with a vocabulary much smaller than `buckets`,
    // smoothing over empty buckets biases every token by
    // ln((tot_raw+B)/(tot_tgt+B)) − ln(tot_raw/tot_tgt) < 0 and drowns
    // the signal (measured: all-negative scores on the fixture corpus)
    val totals = counts.agg(
      sum(col("n_raw")).as("tot_raw"), sum(col("n_tgt")).as("tot_tgt"),
      count(lit(1)).as("nb"))
    val lw = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        round((log((col("n_tgt") + 1.0) / (col("tot_tgt") + col("nb"))) -
          log((col("n_raw") + 1.0) / (col("tot_raw") + col("nb")))) * 1e6)
          .cast("long").as("lw_u"))
    toks.join(broadcast(lw), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lw_u")).as("logw_u"))
  }

  /** The RESAMPLING half of DSIR — draw k docs ∝ exp(logw) without
    * replacement via the Gumbel-top-k identity (Kool et al. 2019):
    * argtop-k of (logw + Gumbel noise) IS a weighted sample, entirely in
    * the log domain (no exp — the weights span e⁻⁵ to e⁵ and beyond at
    * corpus scale, but their LOGS stay small integers). Noise is the
    * house md5 coin: u = (h+0.5)/2³², g = −ln(−ln u), micro-rounded so
    * both engines rank identical integer keys. One TakeOrdered top-k of
    * the shared [[dsirScores]] frame — never a full corpus sort.
    */
  def pipelineDsirResample(
      documents: DataFrame, buckets: Int = 1024, k: Int = 64): DataFrame = {
    val u = (conv(substring(md5(concat(lit("dr|"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") + 0.5) /
      4294967296.0
    val keyed = dsirScores(documents, buckets)
      .withColumn("gumbel_u", round(-log(-log(u)) * 1e6).cast("long"))
      .withColumn("key_u", col("logw_u") + col("gumbel_u"))
    keyed.orderBy(desc("key_u"), asc("doc_id")).limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(desc("key_u"), asc("doc_id")))) // k-row frame
      .select(col("rnk"), col("doc_id"), col("n_feats"), col("logw_u"),
        col("gumbel_u"), col("key_u"))
      .orderBy("rnk")
  }
}
