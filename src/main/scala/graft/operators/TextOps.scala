package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline — language ID,
  * quality scoring, sub-word-ish tokenization, document fingerprinting
  * (BASELINE.json:6). All pure built-in expressions: per-document work is
  * embarrassingly parallel map-side compute with no shuffle until the
  * final (small) aggregate/sort, which is exactly what survives a 100 TB
  * corpus scan.
  */
object TextOps {

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une"),
    "zh" -> Seq("de", "shi", "bu", "wo", "le", "ren"))

  /** N-gram (word-marker) language ID: score each language by marker-set
    * overlap with the document vocabulary, pick the argmax (struct-max ⇒
    * deterministic score-then-code tie-break). The marker sets are a
    * heuristic stand-in for real char-n-gram profiles — the SHAPE (k
    * parallel set-overlap scores + argmax, zero shuffles) is the part that
    * matters at scale.
    */
  def textLangid(documents: DataFrame): DataFrame = {
    val vocab = array_distinct(split(col("text"), " "))
    val scored = langMarkers.map { case (code, markers) =>
      struct(
        size(array_intersect(vocab, array(markers.map(lit): _*))).as("s"),
        lit(code).as("l"))
    }
    documents
      .select(
        col("doc_id"),
        col("lang").as("lang_meta"),
        array_max(array(scored: _*)).getField("s").as("best_score"),
        array_max(array(scored: _*)).getField("l").as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Language-ID CONFUSION census — the audit that tells you whether the
    * classifier is good enough to route on: the (metadata lang ×
    * predicted lang) matrix with per-cell counts, off the IDENTICAL
    * scoring expression [[textLangid]] ships (one definition — the
    * audit cannot drift from the classifier it audits). The matrix is
    * |langs|²-bounded regardless of corpus size.
    */
  def textLangidConfusion(documents: DataFrame): DataFrame =
    textLangid(documents)
      .groupBy(col("lang_meta"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang_meta"), col("lang_pred"), col("n"),
        (col("lang_meta") === col("lang_pred")).cast("int").as("is_correct"))
      .orderBy("lang_meta", "lang_pred")

  /** The composite quality score as a reusable column expression, so the
    * scoring query (`textQuality`) and the corpus funnel
    * (`LlmOps.pipelinePretrain`) filter on byte-identical arithmetic.
    */
  private[operators] def qualityScore(text: Column): Column = {
    val toks = split(text, " ")
    val stop = array(Seq("the", "and", "of", "to", "in", "a", "is", "it")
      .map(lit): _*)
    val alphaRatio = length(regexp_replace(text, "[^a-z]", ""))
      .cast("double") / length(text)
    val stopRatio = size(array_intersect(array_distinct(toks), stop))
      .cast("double") / lit(8.0)
    val lenScore = least(size(toks).cast("double") / lit(50.0), lit(1.0))
    round(lit(0.5) * lenScore + lit(0.3) * alphaRatio + lit(0.2) * stopRatio, 6)
  }

  /** Quality scoring: length/token/alpha/stopword signals folded into one
    * bounded score — the cheap pre-filter stage before expensive pipeline
    * steps (dedup, embedding).
    */
  def textQuality(documents: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val stop = array(Seq("the", "and", "of", "to", "in", "a", "is", "it")
      .map(lit): _*)
    val nChars = length(col("text"))
    val nToks = size(toks)
    val alphaRatio = length(regexp_replace(col("text"), "[^a-z]", ""))
      .cast("double") / nChars
    val stopRatio = size(array_intersect(array_distinct(toks), stop))
      .cast("double") / lit(8.0)
    documents
      .select(
        col("doc_id"),
        nChars.as("n_chars_txt"),
        nToks.as("n_toks"),
        round(alphaRatio, 6).as("alpha_ratio"),
        round(stopRatio, 6).as("stop_ratio"),
        qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** BPE-style pre-tokenization: regex classes (letter runs / digit runs /
    * single symbols) instead of whitespace — the sub-word-friendly split
    * every modern tokenizer starts from. Term frequencies over the corpus.
    */
  def textTokensRegex(documents: DataFrame): DataFrame =
    documents
      .select(explode(
        regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"))
      .orderBy("token")

  /** PII scrubbing — a non-negotiable training-data step: emails and
    * phone numbers replaced by typed placeholders, with per-document hit
    * counts for the scrub audit. The corpus carries no PII, so
    * deterministic synthetic contact lines are appended first (the test
    * harness for the masking regexes); masking is pure map-side regex.
    */
  def textPiiMask(documents: DataFrame): DataFrame = {
    val dirty = concat(
      col("text"), lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val masked = regexp_replace(
      regexp_replace(dirty, "[a-z0-9]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
      "\\+1-555-[0-9]{4}", "<PHONE>")
    documents
      .select(
        col("doc_id"),
        masked.as("masked"),
        size(regexp_extract_all(dirty, lit("[a-z0-9]+@[a-z]+\\.[a-z]+"), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(dirty, lit("\\+1-555-[0-9]{4}"), lit(0)))
          .as("n_phones"))
      .orderBy("doc_id")
  }

  /** TF-IDF weights per (document, term): term frequency and document
    * frequency from two aggregations over one exploded token stream, the
    * corpus size via a broadcast 1-row aggregate (a scalar subquery — no
    * driver-side count), idf = ln((N+1)/(df+1)). The feature-weighting
    * step of classic retrieval / quality pipelines; every stage is a
    * partial+final hash aggregate on a compact key.
    */
  def textTfidf(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val ndocs = documents.agg(countDistinct(col("doc_id")).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(ndocs))
      .select(
        col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6)
          .as("tfidf"))
      .orderBy("doc_id", "token")
  }

  /** Cross-document boilerplate removal — the line-/paragraph-level dedup
    * stage of an LLM corpus pipeline (headers, footers, templates repeat
    * VERBATIM across documents even when whole-document dedup keeps both).
    * The corpus has no line structure, so the repeated unit is an exact
    * word 8-gram: any 8-gram appearing in ≥ 2 DISTINCT documents is
    * boilerplate, and every token covered by such a span is removed from
    * every document carrying it (exact duplicates therefore clean to
    * empty — correct: their whole text is shared).
    *
    * Scale shape: one linear explode per doc (n-7 grams), a hash agg on
    * the gram string for document frequency, a semi-join back to mark
    * covered spans, an anti-join to keep surviving tokens, and one
    * ordered re-assembly agg per doc — every shuffle is on a compact key
    * (gram hash / doc_id), nothing is quadratic, no driver state. At
    * 100 TB the frequent-gram table is the only wide-ish intermediate and
    * it is bounded by corpus redundancy, not corpus size.
    */
  def textBoilerplate(documents: DataFrame): DataFrame = {
    val n = 8
    val toks = split(col("text"), " ")
    // gram slices read a MATERIALIZED token column: an inline split()
    // inside the lambda is re-evaluated per element (HOF lambdas are
    // interpreted, no codegen CSE) — O(tokens^2) per doc, measured ~1.8x
    // on this operator's gram stage at sf0.1
    val tk = col("tk")
    val grams = when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => struct(i.as("pos"), array_join(slice(tk, i, lit(n)), " ").as("gram"))))
      .otherwise(array().cast("array<struct<pos:int,gram:string>>"))
    val docGrams = documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
    val frequent = docGrams.select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("gram")
    val covered = docGrams.join(frequent, "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
      .distinct()
    val tokens = documents
      .select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), (col("pos") + 1).as("tpos"), col("col").as("token"))
    val keptAgg = tokens.join(covered, Seq("doc_id", "tpos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("tpos"), col("token")))),
            s => s.getField("token")),
          " ").as("cleaned"),
        count(lit(1)).as("n_kept"))
    documents.select(col("doc_id"), size(toks).as("n_toks"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_toks"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
      .orderBy("doc_id")
  }

  /** Corpus-trained bigram language-model scoring — the perplexity-style
    * quality filter of LLM data pipelines (docs whose word transitions
    * are improbable under the corpus's own statistics are noise). Model:
    * add-one-smoothed conditional P(w2|w1) = (c(w1 w2)+1)/(c(w1·)+V),
    * trained on the corpus itself; a document's score is its mean bigram
    * log-probability (ppl = e^-score, monotone — the score is the filter
    * key either way).
    *
    * Scale shape: the count-table joins run on compact (w1,w2)/(w1) keys
    * with NO broadcast hint — on a real web corpus the distinct-bigram
    * table is billions of rows (it grows with corpus size, not VOCAB²,
    * until saturation), so forcing a broadcast would OOM the executors.
    * AQE picks the strategy from runtime sizes: broadcast when the table
    * is small (as at test scale), shuffle join when it is not. The corpus
    * is scanned twice (train, score) and never shuffled on anything wider
    * than a bigram key; only the 1-row vocab scalar keeps its hint.
    */
  def textBigramLm(documents: DataFrame): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val bigrams = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val db = documents.select(col("doc_id"), explode(bigrams).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = db.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val vocab = documents
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .agg(countDistinct(col("w")).as("v"))
    db.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + 1).cast("double") / (col("c1") + col("v")))), 6)
          .as("avg_logp"))
      .orderBy("doc_id")
  }

  /** CODE-vs-prose detection — the corpus-routing signal a pretraining
    * mix needs (code goes to the code pipeline: different dedup, quality
    * and tokenizer rules). Pure map-side regex arithmetic: code-symbol
    * density, whole-word keyword hits, and the assignment-shaped line
    * fraction; the verdict thresholds are data (broadcast-free
    * literals). Patterns stay in the ASCII subset Java regex and RE2
    * agree on — the cross-engine regex rule (`fn_regexp`).
    */
  def textCodeDetect(documents: DataFrame): DataFrame = {
    val symPat = "[{}()\\[\\];=<>]"
    val kwPat = "\\b(def|return|import|class|function|var|int|void)\\b"
    val nChars = col("n_chars").cast("long")
    val sym = size(regexp_extract_all(col("text"), lit(symPat), lit(0))).cast("long")
    val kw = size(regexp_extract_all(col("text"), lit(kwPat), lit(0))).cast("long")
    documents
      .select(col("doc_id"), nChars.as("n_chars"),
        sym.as("sym_cnt"), kw.as("kw_hits"))
      .withColumn("sym_frac",
        round(col("sym_cnt").cast("double") / col("n_chars"), 6))
      .withColumn("is_code_like",
        col("sym_frac") > 0.02 && col("kw_hits") >= 1)
      .orderBy("doc_id")
  }

  /** PERPLEXITY-based quality gate — the CCNet/KenLM-style filter every
    * published pretraining pipeline runs: score each document under the
    * corpus bigram LM (`textBigramLm`, reused verbatim — one definition,
    * one oracle convention) and quarantine the lowest-decile avg log-prob
    * plus everything too short to score. The decile threshold is a
    * NEAREST-RANK order statistic computed from an integer HISTOGRAM of
    * the micro-log grid (avg_logp·10⁶ as LONG): no interpolation floats,
    * no buffering the corpus in one exact-percentile aggregate — the
    * running count lives on the bounded score histogram, the membership
    * test compares LONGs (the pipeline_curriculum rank machinery applied
    * to a float column). Output: per-source quarantine census.
    */
  def textPerplexityFilter(documents: DataFrame, q: Double = 0.10): DataFrame = {
    // feeds the histogram AND the census join — materialized once
    val sk = textBigramLm(documents)
      .select(col("doc_id"),
        round(col("avg_logp") * 1e6).cast("long").as("k"))
      .localCheckpoint()
    // The micro-log grid admits up to ~10⁷ distinct k at extreme corpus
    // diversity — too wide for the bounded-histogram window exemption. So
    // the nearest-rank selection runs TWO-LEVEL (the denseRankById
    // machinery applied to a value grid): cut the k-range into ≤1024
    // contiguous buckets (width from one scalar pull), run the only
    // unpartitioned window over the ≤1024-row bucket histogram, locate
    // the single bucket where the target rank lands, and finish with a
    // window PARTITIONED by that bucket (~|grid|/1024 rows per task).
    // Contiguous buckets make below+intra-cum equal the flat cumulative
    // count, so the oracle keeps the plain one-window spelling.
    val hist = sk.groupBy(col("k")).agg(count(lit(1)).as("c")).localCheckpoint()
    val b = hist.agg(min(col("k")), max(col("k")), sum(col("c"))).head()
    val n = if (b.isNullAt(2)) 0L else b.getLong(2)
    val kLo = if (b.isNullAt(0)) 0L else b.getLong(0)
    val width = (if (b.isNullAt(1)) 0L else b.getLong(1)).-(kLo) / 1024L + 1L
    val target = math.ceil(n * q).toLong // same IEEE double ceil as the oracle
    val bucketed = hist.withColumn("bkt",
      expr(s"CAST((k - (${kLo}L)) DIV ${width}L AS LONG)"))
    val below = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val bcum = bucketed.groupBy(col("bkt")).agg(sum(col("c")).as("bc"))
      .withColumn("below", coalesce(sum(col("bc")).over(below), lit(0L)))
    // exactly the bucket whose running count first reaches the target rank
    val tb = bcum
      .filter(col("below") < target && col("below") + col("bc") >= target)
      .select(col("bkt"), col("below"))
    val intra = Window.partitionBy("bkt").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, 0)
    val thr = bucketed.join(broadcast(tb), "bkt")
      .withColumn("upto", col("below") + sum(col("c")).over(intra))
      .filter(col("upto") >= target)
      .agg(min(col("k")).as("thr_k"))
    documents
      .select(col("doc_id"), col("source"),
        size(filter(split(lower(col("text")), " "), x => x =!= ""))
          .cast("long").as("n_toks"))
      .join(sk, Seq("doc_id"), "left")
      .crossJoin(broadcast(thr))
      .groupBy(col("source"),
        round(col("thr_k") / 1e6, 6).as("thr_logp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_short"),
        sum(when(col("k") <= col("thr_k"), 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(col("k") > col("thr_k"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("k") > col("thr_k"), col("n_toks")).otherwise(0L))
          .as("n_toks_kept"))
      .orderBy("source")
  }

  /** Intra-document repetition signals — the classic LLM-corpus quality
    * filter family (duplicate word / bigram / trigram fractions): machine-
    * generated and boilerplate-heavy documents repeat their own n-grams
    * far more than natural prose, so these fractions gate documents BEFORE
    * the expensive cross-doc stages (dedup, embedding). Everything here is
    * per-document higher-order-function arithmetic — zero shuffles until
    * the final sort, the only shape that survives a 100 TB corpus scan.
    * (Cross-doc repetition is the separate `text_boilerplate` operator.)
    */
  def textRepetition(documents: DataFrame): DataFrame = {
    // duplicate fraction of a gram array: 1 - distinct/total (0 when the
    // doc is too short to have any gram of that width)
    def dupFrac(grams: Column): Column = {
      val n = size(grams)
      when(n <= 0, lit(0.0))
        .otherwise(round(
          lit(1.0) - size(array_distinct(grams)).cast("double") / n.cast("double"), 4))
    }
    // contiguous word k-grams via an index map (element_at is 1-based);
    // short docs yield an empty gram array, not a negative sequence
    def grams(toks: Column, k: Int): Column =
      when(size(toks) < k, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", (1 to k).map(j => element_at(toks, i + j)): _*)))
    // empty strings from consecutive spaces are not words — unfiltered
    // they count as repeats of each other and inflate every dup fraction
    // on messy text (the oracle applies the same list_filter)
    documents
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), x => x =!= "").as("t"))
      .select(
        col("doc_id"),
        size(col("t")).as("n_words"),
        dupFrac(col("t")).as("dup_word_frac"),
        dupFrac(grams(col("t"), 2)).as("dup_bigram_frac"),
        dupFrac(grams(col("t"), 3)).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Benchmark DECONTAMINATION — the eval-integrity step of an LLM data
    * pipeline (the GPT-3-style n-gram overlap check, public): any
    * training document sharing an exact word n-gram with the held-out
    * benchmark set is flagged, because overlap inflates eval scores. The
    * benchmark here is a deterministic corpus slice (doc_id % 50 = 0 —
    * a stand-in for the real eval files); the industry uses 13-grams,
    * this corpus's short docs use 8 (same machinery, one constant).
    *
    * Scale shape: per-doc distinct gram HASHES map-side (the portable
    * md5-derived 60-bit hash — never the raw gram text on the wire),
    * benchmark grams distinct-reduced (small by definition — eval sets
    * are tiny next to the corpus), then ONE equi-join on the 8-byte hash
    * + a per-doc count. At 100 TB the benchmark side broadcasts
    * naturally via AQE; no hint needed.
    */
  def textDecontaminate(documents: DataFrame, n: Int = 8): DataFrame = {
    // materialize the token array BEFORE the gram lambda: an inline
    // split() reference inside the lambda is re-evaluated per slice —
    // O(tokens^2) per document (measured ~2x this operator's cost)
    val toks = col("tk")
    val grams = when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => tokenHash60(array_join(slice(toks, i, lit(n)), " ")))))
      .otherwise(array().cast("array<bigint>"))
    val withG = documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(grams).as("g"))
    val bench = withG.filter(col("doc_id") % 50 === 0).select(col("g")).distinct()
    withG.filter(col("doc_id") % 50 =!= 0)
      .join(bench, "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Character-entropy quality signal — the Shannon entropy of the
    * per-document character distribution: gibberish and repeated-pattern
    * spam sit at the distribution's extremes, so the score gates docs
    * alongside the repetition fractions. Pure map-side HOF arithmetic:
    * entropy folds over the SORTED distinct character set sequentially,
    * so the float summation order is fixed and identical in DuckDB's
    * comprehension (both engines also agree on binary string sort), and
    * round(6) absorbs libm log2 ulp differences. Cost per doc is
    * O(distinct-chars × len) — distinct chars are alphabet-bounded.
    */
  def textEntropy(documents: DataFrame): DataFrame = {
    val chars = split(col("text"), "")
    val n = size(chars).cast("double")
    val uniq = array_sort(array_distinct(chars))
    val ent = aggregate(uniq, lit(0.0), (acc, c) => {
      val p = size(filter(chars, x => x === c)).cast("double") / n
      acc - p * log2(p)
    })
    documents
      .select(
        col("doc_id"),
        size(chars).as("n_chars_split"),
        size(uniq).as("n_uniq"),
        when(size(chars) > 0, round(ent, 6)).otherwise(lit(0.0)).as("entropy"))
      .orderBy("doc_id")
  }

  /** 60-bit portable token hash: md5 is identical across engines, and 15
    * hex chars fit a signed 64-bit int exactly.
    */
  private[operators] def tokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Document fingerprint: polynomial rolling hash over the token-hash
    * sequence — ORDER-sensitive (unlike a bag hash), so re-ordered
    * documents fingerprint differently; constant state, one linear fold
    * per document.
    */
  def textFingerprint(documents: DataFrame): DataFrame = {
    val M = 1000000007L
    val hashes = transform(split(col("text"), " "), t => tokenHash60(t) % M)
    documents
      .select(
        col("doc_id"),
        aggregate(hashes, lit(0L), (acc, h) => (acc * 131L + h) % M).as("fingerprint"),
        size(hashes).as("n_toks"))
      .orderBy("doc_id")
  }

  /** Support-thresholded frequent-token profile — the corpus
    * heavy-hitters report (which tokens exceed `minSupport` of all token
    * occurrences) that drives stopword lists and boilerplate vocabulary
    * detection before dedup tuning. The scalable shape is
    * filter-then-sort, never sort-then-filter: the per-token count is an
    * ordinary two-phase hash aggregate (the hottest token pre-combines
    * map-side — SkewSpec's argument), the corpus total is ONE broadcast
    * scalar, and only the handful of survivors reach the presentation
    * sort — the full vocabulary is never globally ordered. Cost is one
    * linear pass + one vocab-sized shuffle of (token, count) pairs.
    */
  def textHeavyHitters(documents: DataFrame, minSupport: Double = 0.005): DataFrame = {
    val toks = documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.groupBy("token").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") >= col("n_total") * minSupport)
      .select(col("token"), col("n"),
        round(col("n") / col("n_total"), 6).as("support"))
      .orderBy(desc("n"), asc("token"))
  }

  /** Per-LANGUAGE heavy hitters — top-5 tokens per language, the
    * per-subcorpus vocabulary profile. Counts are one partial+final
    * hash aggregate; the per-group cut is the NATIVE TopKPerGroup
    * operator, so the (lang, token) count table — vocabulary-sized,
    * i.e. huge at corpus scale — is reduced to k rows per language
    * MAP-SIDE before its group exchange (a window spelling would
    * shuffle and sort the whole vocabulary).
    */
  def textHeavyHittersGrouped(documents: DataFrame, k: Int = 5): DataFrame = {
    val counts = documents
      .select(col("lang"),
        explode(filter(split(lower(col("text")), " "), t => t =!= ""))
          .as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
    graft.plans.TopKOps
      .topKPerGroup(counts, Seq("lang"), Seq(("tf", false), ("token", true)), k)
      .orderBy(asc("lang"), desc("tf"), asc("token"))
  }

  /** Feature HASHING (the hashing trick / hashing vectorizer): tokens
    * map straight to a fixed-width feature space via md5 % 64 — NO
    * vocabulary pass, NO dictionary broadcast, which is what makes it
    * the featurizer of choice when the vocabulary itself is too large
    * or too fast-moving to materialize at 100 TB. Pure map-side hash +
    * one (doc, feature) aggregate; collisions are the accepted price
    * and the 64-bucket width is the dial. The md5 coin is the house
    * cross-engine randomness contract, so the oracle replays the exact
    * bucket assignment.
    */
  def textHashingTrick(documents: DataFrame, buckets: Int = 64): DataFrame =
    documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).cast("int").as("feature"))
      .groupBy("doc_id", "feature")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "feature")

  /** BM25 ranking (k1 = 1.2, b = 0.75) — the standard retrieval scorer a
    * RAG/decontamination pipeline runs after tf-idf. Query terms are
    * drawn FROM the corpus deterministically (vocabulary ranks 10–12 by
    * document frequency — past the stopword head, still high-df enough to
    * rank many candidates); per term, the top-10 documents by score.
    *
    * Scale shape: the corpus is tokenized twice. The first pass is the
    * df aggregate, cut by a TakeOrderedAndProject top-12 (never a full
    * vocabulary sort) and collected: the 3 query terms are a summary
    * small enough to ride in the plan as literals. The second pass is
    * ONE aggregate by doc_id that counts dl and each term's tf, unpivoted
    * to one row per (doc, term). Nothing is joined by token or doc_id, so
    * no hash relation is built; only the 1-row n_docs scalar broadcasts.
    * tot_toks is a sum of dl over the term's whole window partition, which
    * the per-term top-10 window then reuses: the unpivot is the one
    * post-aggregate shuffle, |terms| rows per doc.
    */
  def textBm25(documents: DataFrame): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val toks = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
    val top = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("token")).limit(12)
      .collect().drop(9).map(r => (r.getString(0), r.getLong(1))).toSeq
    // "" is never a token: under 10 distinct tokens every tf is 0 and the
    // frame comes out empty, typed like any other
    val terms = if (top.nonEmpty) top else Seq(("", 0L))
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"),
      terms.indices.map(i => count(when(col("token") === terms(i)._1, 1)).as(s"tf$i")): _*)
    val nDocs = documents.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = perDoc
      .select(col("doc_id"), col("dl"), explode(array(terms.indices.map { i =>
        struct(lit(terms(i)._1).as("term"), lit(terms(i)._2).as("df"), col(s"tf$i").as("tf"))
      }: _*)).as("q"))
      .select(col("doc_id"), col("dl"), col("q.*"))
      // every doc group, a null doc_id's too, sits once in each partition
      .withColumn("tot_toks", sum(col("dl")).over(Window.partitionBy("term")))
      .filter(col("tf") > 0 && col("doc_id").isNotNull)
      .crossJoin(broadcast(nDocs))
      .withColumn("avgdl", col("tot_toks").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("score", round(
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
    val w = Window.partitionBy("term").orderBy(desc("score"), asc("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("term"), col("rnk"), col("doc_id"), col("tf"), col("dl"),
        col("score"))
      .orderBy("term", "rnk")
  }

  /** N-gram NOVELTY census — per document, the fraction of its distinct
    * word 3-grams whose FIRST corpus occurrence (min doc_id) is the
    * document itself: the dataset-ordering novelty curve a curation
    * pipeline watches for template floods and staleness (late documents
    * contributing nothing new are rebalancing candidates; the same
    * statistic read cumulatively is the memorization-risk dial).
    *
    * Scale shape: one linear gram explode per doc, ONE hash aggregate on
    * the gram key for the first-occurrence table, a join back on the
    * same key, and a per-doc rollup — the dedup_exact shuffle anatomy;
    * the novelty ratio closes in integer division. Grams travel as
    * 60-bit md5 digests, never strings (the digests-on-the-wire rule —
    * the string-keyed first cut probed 3.7× on the ×10 decade, the
    * digest join brings the shuffle back to byte-compact keys; the
    * oracle hashes identically, so even a collision is mirrored).
    */
  def textNovelty(documents: DataFrame, n: Int = 3): DataFrame = {
    val tk = col("tk")
    val grams = when(size(tk) >= n,
      array_distinct(transform(sequence(lit(1), size(tk) - (n - 1)),
        i => conv(substring(md5(array_join(slice(tk, i, lit(n)), " ")), 1, 15),
          16, 10).cast("long"))))
      .otherwise(array().cast("array<long>"))
    val dg = documents.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(grams).as("gram"))
    val first = dg.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    dg.join(first, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000) DIV n_grams").as("novelty_ppm"))
      .orderBy("doc_id")
  }

  /** ZIPF-law audit — fit ln(freq) vs ln(rank) over the top-k vocabulary
    * by least squares: natural text reads slope ≈ −1; a corpus that
    * drifts far off (synthetic spam, template floods, truncated crawls)
    * shows up as a slope/shape break before any downstream model does.
    * Scale shape: one corpus word count (the only corpus-sized stage,
    * map-side combined), a TakeOrdered top-k cut, and the regression on
    * the k-row frame — ln terms quantized to micro-units BEFORE the sum
    * (round-before-sum) so summation order cannot perturb the fit; the
    * slope/intercept close in integer division (signed DIV ≡ DuckDB //).
    */
  def textZipfAudit(documents: DataFrame, k: Int = 100): DataFrame = {
    val words = documents
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val top = words.orderBy(desc("cnt"), asc("w")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("cnt"), asc("w")))) // k-row frame
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    top.agg(
      count(lit(1)).as("n_top"),
      sum(round(col("x") * 1e6).cast("long")).as("sx"),
      sum(round(col("y") * 1e6).cast("long")).as("sy"),
      sum(round(col("x") * col("y") * 1e6).cast("long")).as("sxy"),
      sum(round(col("x") * col("x") * 1e6).cast("long")).as("sxx"))
      .select(col("n_top"),
        expr("""((n_top * sxy - (sx * sy) DIV 1000000) * 1000000)
                 DIV (n_top * sxx - (sx * sx) DIV 1000000)""").as("slope_u"),
        expr("""(sy - (((n_top * sxy - (sx * sy) DIV 1000000) * 1000000)
                 DIV (n_top * sxx - (sx * sx) DIV 1000000) * sx) DIV 1000000)
                 DIV n_top""").as("intercept_u"))
  }
}
