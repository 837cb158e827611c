package graft

import org.apache.spark.sql.functions._

import graft.operators.LlmOps

/** LLM-pipeline operator behavior on seeded fixtures — the verification
  * path for the approximate/bucketed ops (recall on KNOWN near-dups, pair
  * hygiene, similarity sanity) alongside their oracle rows.
  */
class LlmSpec extends SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while seventeen green turtles " +
      "watch carefully from a mossy riverbank under pale morning light"

  test("dedup_near finds seeded near-duplicates and skips unrelated docs") {
    val docs = Seq(
      (0L, base),
      (1L, base.replace("morning", "evening")),            // 1-word edit ~ J>0.85
      (2L, base),                                          // exact dup of 0
      (3L, "completely different words about spark catalyst optimizer rules " +
        "and tungsten codegen stages running shuffles across many executors"),
      (4L, "another unrelated document mentioning parquet row groups column " +
        "pruning predicate pushdown and adaptive query execution plans"))
      .toDF("doc_id", "text")
    val pairs = LlmOps.dedupNear(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)), "exact dup pair missed")
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)), "near-dup pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      s"false positive involving unrelated docs: $pairs")
  }

  test("dedup_incremental: only delta-vs-corpus pairs report; delta-internal dups do not") {
    // ids ending in 0 are the delta shard; 10↔20 is a delta-internal dup
    // pair (dedup_near's job, NOT this operator's), 10↔13 straddles the
    // split and must be the only reported pair; 14 is unrelated corpus
    val docs = Seq(
      (10L, base),
      (20L, base),                                     // delta dup of 10
      (13L, base.replace("morning", "evening")),       // corpus near-dup of 10
      (14L, "completely different words about spark catalyst optimizer rules " +
        "and tungsten codegen stages running shuffles across many executors"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_inc_idx").toString
    val pairs = LlmOps.dedupIncrementalOn(docs, idx)
      .select("doc_new", "doc_ref").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 13L), (20L, 13L)),
      s"expected only delta→corpus pairs, got $pairs")
  }

  test("dedup_near_pruned is result-identical to the recompute form, and prunes the verify join") {
    // identity on the real corpus: the pruned DAG (materialized kernel +
    // candidate-narrowed verify) must never change the result
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val recompute = LlmOps.dedupNear(docs)
      .as[(Long, Long, Double)].collect().toSeq
    val pruned = LlmOps.dedupNearPruned(docs)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pruned === recompute)
    // the at-scale property: the verify broadcasts candidate endpoint
    // ids and streams the checkpointed shingle table past them, so only
    // candidates' shingle sets ride the verify shuffle
    assertOneIdBroadcast(LlmOps.dedupNearPruned(docs))
  }

  test("dedup_near pairs are ordered (a < b) and unique") {
    val docs = Seq((10L, base), (20L, base), (30L, base)).toDF("doc_id", "text")
    val rows = LlmOps.dedupNear(docs).select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(rows.forall { case (a, b) => a < b })
    assert(rows.length === rows.distinct.length)
    assert(rows.toSet === Set((10L, 20L), (10L, 30L), (20L, 30L)))
  }

  test("sim_topk ranks the query vector itself first with cosine 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = LlmOps.simTopk(vecs).collect()
    assert(top.head.getLong(0) === 0L && top.head.getDouble(1) === 1.0)
    // orthogonal + opposite vectors rank below the near-parallel one
    assert(top.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("sim_join returns at most k neighbors per probe, never the probe itself") {
    val e = Tables.embeddings(spark, sf0001)
    val out = LlmOps.simJoin(e)
    val perProbe = out.groupBy("probe_id").count().select(max("count")).as[Long].head()
    assert(perProbe <= 3)
    assert(out.filter(col("probe_id") === col("vec_id")).count() === 0)
  }

  test("dedup/similarity pipelines survive an empty corpus (no crash, empty typed output)") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(LlmOps.dedupNear(emptyDocs).count() === 0)
    assert(LlmOps.dedupClusters(emptyDocs).count() === 0)
    assert(graft.operators.SimOps.dedupSimhash(emptyDocs).count() === 0)
    assert(graft.operators.SimOps.dedupNgramJaccard(emptyDocs).count() === 0)
    assert(graft.operators.SimOps.dedupEmbedding(emptyVecs).count() === 0)
    assert(graft.operators.SimOps.simJoinBucketed(emptyVecs).count() === 0)
    assert(graft.operators.SimOps.simKmeans(emptyVecs).count() === 0)
    assert(graft.operators.SimOps.simIvfKmeans(emptyVecs).count() === 0)
    assert(LlmOps.textTokens(emptyDocs).count() === 0)
    assert(graft.operators.SimOps.textContainment(emptyDocs).count() === 0)
    assert(LlmOps.multimodalFramesample(emptyDocs).count() === 0)
    assert(LlmOps.multimodalResize(emptyDocs).count() === 0)
    // empty trade graph: zero nodes, zero ranks, no division blow-up —
    // and the percentile-threshold/propagation variants survive too
    val emptyOrders = Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey")
    val emptyLines = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_suppkey")
    assert(graft.operators.GraphOps.graphTriangles(emptyOrders, emptyLines).count() === 0)
    assert(graft.operators.GraphOps.graphComponents(emptyOrders, emptyLines).count() === 0)
    assert(graft.operators.GraphOps.graphPagerank(emptyOrders, emptyLines).count() === 0)
  }

  test("dedup_clusters: every pair shares a rep, reps are fixpoints") {
    val docs = Tables.documents(spark, sf0001)
    val labels = LlmOps.dedupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    // rep is the component minimum: never above the member id
    labels.foreach { case (id, rep) => assert(rep <= id, s"$id -> $rep") }
    // reps are fixpoints: a rep's own rep is itself
    labels.values.foreach { rep => assert(labels(rep) === rep) }
    // both endpoints of every near-dup pair resolve to the same rep
    LlmOps.dedupNear(docs).select("doc_a", "doc_b").collect().foreach { r =>
      assert(labels(r.getLong(0)) === labels(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) split across clusters")
    }
  }

  test("dedup_keep_best keeps the most-token member, not the min-id rep") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      (1L, base, "en", "web", 0L),                 // 10 tokens, cluster rep
      (2L, base + " w11 w12", "en", "web", 0L),    // 12 tokens -> the keeper
      (9L, "alpha beta gamma delta", "en", "web", 0L)) // unrelated
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = LlmOps.dedupKeepBest(docs).collect()
    assert(out.length === 1, s"only the near-dup cluster reports: ${out.toSeq}")
    val r = out(0)
    assert(r.getLong(0) === 1L, "rep is the component min id")
    assert(r.getLong(1) === 2L, "keeper must be the LONGER doc, not the rep")
    assert(r.getLong(2) === 12L && r.getLong(3) === 2L)
  }

  test("sim_ood_detect: partition of the corpus, tail-only flags, deterministic rerun") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = operators.SimOps.simOodDetect(emb).collect()
    assert(out.map(_.getLong(1)).sum === emb.count(), "cells must partition the corpus")
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"more outliers than members: $r")
      assert(r.getDouble(3) <= r.getLong(4).toDouble,
        s"cell mean cannot exceed cell max: $r")
    }
    // an outlier needs d2 beyond the mean by construction of the 2-sigma rule
    out.filter(_.getLong(2) > 0).foreach { r =>
      assert(r.getLong(4).toDouble > r.getDouble(3), s"flagged cell with flat tail: $r")
    }
    val rerun = operators.SimOps.simOodDetect(emb).collect()
    assert(rerun.map(_.toString).toSeq === out.map(_.toString).toSeq,
      "detector must be bit-deterministic")
  }

  test("dedup_clusters converges on a chain deeper than any fixed round count") {
    // Six docs in a sliding-window chain over distinct words: adjacent
    // windows share ~73% of shingles (a near-dup edge at J≈0.73), windows
    // two apart only ~53% (below the 0.6 verify threshold) — so the pair
    // graph is a 5-edge path, and the minimum label needs 5 propagation
    // hops to reach the far end. A fixed-3 propagation loop under-merges
    // exactly this shape; the fixpoint loop must fully resolve it.
    val words = (0 until 175).map(i => s"w$i")
    val docs = (0 until 6).map { i =>
      (i.toLong, words.slice(15 * i, 15 * i + 100).mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = LlmOps.dedupNear(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val chain = (0 until 5).map(i => (i.toLong, i + 1L)).toSet
    assert(chain.subsetOf(pairs), s"chain edge missing: got $pairs")
    assert(pairs.forall { case (a, b) => b - a == 1 },
      s"unexpected long-range edge (fixture too similar): $pairs")
    val labels = LlmOps.dedupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet === (0L to 5L).toSet)
    assert(labels.values.toSet === Set(0L), s"chain under-merged: $labels")
  }

  test("text_boilerplate strips cross-doc repeated 8-gram spans, keeps unique text") {
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    val dupText = "this exact document text appears twice in the corpus today"
    val docs = Seq(
      (0L, s"alpha beta gamma $shared delta epsilon"),
      (1L, s"zeta eta theta iota $shared kappa"),
      (2L, "wholly unique tokens one two three four five six seven eight nine"),
      (3L, dupText),
      (4L, dupText))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.textBoilerplate(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // the 12-token shared span is removed from both carriers; the 8-grams
    // STRADDLING the span boundary are unique per doc and must not fire
    assert(out(0L) === ((17, 12, "alpha beta gamma delta epsilon")))
    assert(out(1L) === ((17, 12, "zeta eta theta iota kappa")))
    // a doc with no repeated grams is untouched
    assert(out(2L)._2 === 0 && out(2L)._3.startsWith("wholly unique"))
    // exact duplicates share ALL their grams and clean to empty
    assert(out(3L) === ((10, 10, "")) && out(4L) === ((10, 10, "")))
  }

  test("text_containment catches a doc-in-doc pair that Jaccard dedup misses") {
    // doc 0 (30 words) is quoted verbatim inside doc 1 (90 words): every
    // shingle of 0 appears in 1, so containment(0 in 1) = 1.0, while
    // Jaccard ~ 28/88 = 0.32 — far below the 0.8 dedup threshold.
    val words = (0 until 90).map(i => s"w$i")
    val short = words.take(30).mkString(" ")
    val long = words.mkString(" ")
    val docs = Seq((0L, short), (1L, long),
      (2L, (100 until 130).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val jac = graft.operators.SimOps.dedupNgramJaccard(docs).collect()
    assert(jac.isEmpty, s"fixture leaked past Jaccard: ${jac.toSeq}")
    val cont = graft.operators.SimOps.textContainment(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(cont.keySet === Set((0L, 1L)), s"wrong pairs: $cont")
    val (aInB, bInA) = cont((0L, 1L))
    assert(aInB === 1.0, s"contained side must score 1.0, got $aInB")
    assert(bInA < 0.4, s"containing side must stay low, got $bInA")
  }

  test("multimodal_framesample: bounded even-stride sample with exact offsets") {
    // doc 3 is EMPTY: n_frames still floors at 16 and the offset modulus
    // must not divide by zero
    val docs = Seq((0L, "a" * 100), (1L, "b" * 300), (2L, "c"), (3L, ""))
      .toDF("doc_id", "text")
    val out = LlmOps.multimodalFramesample(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    val byDoc = out.groupBy(_._1)
    byDoc.foreach { case (id, rows) =>
      val nFrames = rows.head._2
      assert(rows.length <= 8, s"doc $id sampled ${rows.length} frames")
      assert(rows.forall(_._3 < nFrames), s"index past clip end: $rows")
      val idxs = rows.map(_._3).sorted.toSeq
      val stride = math.ceil(nFrames / 8.0).toInt
      assert(idxs === (0 until nFrames by stride).toSeq,
        s"doc $id not an even-stride sample: $idxs")
      rows.foreach { case (_, _, idx, ts, off) =>
        assert(ts === idx * 40)
        val nBytes = Seq(100, 300, 1, 1)(id.toInt) // empty doc: modulus floors at 1
        assert(off === (idx * 1009) % nBytes)
      }
    }
    // n_frames = n_bytes % 240 + 16
    assert(byDoc(0L).head._2 === 116 && byDoc(1L).head._2 === 76 &&
      byDoc(2L).head._2 === 17 && byDoc(3L).head._2 === 16)
  }

  test("multimodal_resize: half-pixel NN map hits hand-computed source coords") {
    // 100-byte payload: src_w = 100 % 640 + 32 = 132, src_h = 100 % 480 + 24 = 124
    val docs = Seq((0L, "a" * 100)).toDF("doc_id", "text")
    val out = LlmOps.multimodalResize(docs).collect()
      .map(r => (r.getInt(1), r.getInt(2)) -> ((r.getInt(5), r.getInt(6)))).toMap
    assert(out.size === 64)
    def nn(px: Int, src: Int): Int = ((2 * px + 1) * src) / 448
    for (gx <- 0 until 8; gy <- 0 until 8)
      assert(out((gx, gy)) === ((nn(gx * 28 + 14, 132), nn(gy * 28 + 14, 124))))
    // corners: first probe maps near origin, last stays inside the source
    assert(out((0, 0)) === ((8, 8)))
    assert(out((7, 7))._1 < 132 && out((7, 7))._2 < 124)
  }

  test("text_bigram_lm: hand-computed score on a one-doc corpus; templates beat noise") {
    // corpus = one doc "x y x y": c2(x,y)=2, c2(y,x)=1, c1(x)=2, c1(y)=1, V=2
    val one = Seq((0L, "x y x y")).toDF("doc_id", "text")
    val got = graft.operators.TextOps.textBigramLm(one).collect()
    assert(got.length === 1)
    val expected = BigDecimal(
      (math.log(3.0 / 4) + math.log(2.0 / 3) + math.log(3.0 / 4)) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getLong(1) === 3L)
    assert(got(0).getDouble(2) === expected)
    // a doc made of the corpus's dominant transitions outscores one made
    // of transitions seen nowhere else
    val corpus = (Seq((0L, Seq.fill(20)("a b").mkString(" ")),
      (1L, "c d e f g h i j k l")) ++
      (2 to 9).map(i => (i.toLong, Seq.fill(10)("a b").mkString(" "))))
      .toDF("doc_id", "text")
    val scores = graft.operators.TextOps.textBigramLm(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(0L) > scores(1L),
      s"templated doc must outscore unique-transition doc: $scores")
  }

  test("sim_quantized: self-match first, int8 range respected, high overlap with exact top-k") {
    val e = Tables.embeddings(spark, sf0001)
    val q = graft.operators.SimOps.simQuantized(e).collect()
    assert(q.length === 10)
    // the query vector matches itself first, with exact cosine 1.0
    assert(q.head.getLong(0) === 0L && q.head.getDouble(2) === 1.0)
    // quantized dots are bounded by the int8 envelope: 127^2 * dim
    val dim = e.selectExpr("size(embedding)").as[Int].head()
    assert(q.forall(r => math.abs(r.getLong(1)) <= 127L * 127L * dim))
    // int8 quantization of 64-dim vectors barely perturbs the ranking
    val exact = LlmOps.simTopk(e).select("vec_id").as[Long].collect().toSet
    val quant = q.map(_.getLong(0)).toSet
    assert((exact intersect quant).size >= 7,
      s"quantized top-10 diverged from exact: ${exact diff quant}")
  }

  test("dedup_paragraph: first occurrence wins by (doc, pos), reassembly keeps order") {
    val p1 = (1 to 16).map(i => s"w$i").mkString(" ") // a full-width shared passage
    val tailA = (1 to 16).map(i => s"a$i").mkString(" ")
    val tailB = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$p1 $tailA"), // first occurrence of p1
      (2L, s"$p1 $tailB"), // repeats p1 at pos 0 — dropped, tailB kept
      (3L, tailB))         // repeats doc 2's pos-1 passage — fully deduped
      .toDF("doc_id", "text")
    val r = LlmOps.dedupParagraph(docs).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getInt(1) === 2 && r(1L).getLong(2) === 2)
    assert(r(1L).getString(3) === s"$p1 $tailA")
    assert(r(2L).getLong(2) === 1 && r(2L).getString(3) === tailB)
    assert(r(3L).getLong(2) === 0 && r(3L).getString(3) === "",
      "doc 3's only passage first appeared in doc 2 — must dedup to empty")
    // conservation on the real corpus: kept passages = distinct passages
    val corpus = Tables.documents(spark, sf0001)
    val out = LlmOps.dedupParagraph(corpus)
    val keptTotal = out.agg(sum(col("n_kept"))).as[Long].head()
    val seg = corpus.selectExpr(
      "explode(transform(sequence(0, cast(floor((size(split(text,' '))-1)/16) as int)), " +
        "i -> array_join(slice(split(text,' '), i*16+1, 16), ' '))) AS p")
    assert(keptTotal === seg.select("p").distinct().count(),
      "every distinct passage must survive exactly once")
  }

  test("sim_rerank: exact-cosine order, near-total recall vs brute force, top-M plan shape") {
    val e = Tables.embeddings(spark, sf0001)
    val df = graft.operators.SimOps.simRerank(e)
    val r = df.collect()
    assert(r.length === 10)
    // rerank scores are EXACT cosines, so the self-match is first at 1.0
    // and the output is cosine-sorted
    assert(r.head.getLong(0) === 0L && r.head.getDouble(2) === 1.0)
    val cos = r.map(_.getDouble(2))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, "not cosine-sorted")
    // a 50-candidate int8 prefilter loses at most the boundary: the exact
    // top-10 should survive in full (recall 1.0 on this corpus; >= 9
    // allows one boundary tie to move)
    val exact = LlmOps.simTopk(e).select("vec_id").as[Long].collect().toSet
    val got = r.map(_.getLong(0)).toSet
    assert((exact intersect got).size >= 9,
      s"rerank lost exact neighbors: ${exact diff got}")
    // both stages are global top-k: TakeOrderedAndProject, corpus never shuffles
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-M/top-k not heap-based:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"rerank pipeline shuffles the corpus:\n$p")
  }

  test("sim_pq: self-match at ADC distance 0, codes bounded, distances monotone") {
    val e = Tables.embeddings(spark, sf0001)
    val r = graft.operators.SimOps.simPq(e).collect()
    assert(r.length === 10)
    // the query vector is itself a codebook centroid, so every subspace
    // encodes it at distance 0 — ADC distance exactly 0, exact cosine 1
    assert(r.head.getLong(0) === 0L)
    assert(r.head.getDouble(1) === 0.0 && r.head.getDouble(2) === 1.0)
    val d = r.map(_.getDouble(1))
    assert(d.zip(d.tail).forall { case (a, b) => a <= b }, "ADC distances not sorted")
    assert(d.forall(_ >= 0.0), "squared distance went negative")
  }

  test("sim_join_bucketed: pair hygiene + recall >= 0.5 vs exact kNN on real data") {
    val e = Tables.embeddings(spark, sf0001)
    val bucketed = graft.operators.SimOps.simJoinBucketed(e).cache()
    // hygiene: <=3 per probe, never self, threshold respected
    val perProbe = bucketed.groupBy("probe_id").count().select(max("count")).as[Long].head()
    assert(perProbe <= 3)
    assert(bucketed.filter(col("probe_id") === col("vec_id")).count() === 0)
    assert(bucketed.filter(col("cos") < 0.3).count() === 0)
    // recall against the exact broadcast kNN — this corpus has NO cluster
    // structure (max pairwise cos ~0.51), the worst case for any LSH;
    // measured 0.77 with hamming<=2 multiprobe, bounded here at 0.6
    val exact = LlmOps.simJoin(e).select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    val found = bucketed.select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert((exact & found).size.toDouble / exact.size >= 0.6)
    bucketed.unpersist()
  }

  test("text_tokens frequencies sum to the corpus token count") {
    val docs = Seq((1L, "a b b"), (2L, "b c")).toDF("doc_id", "text")
    val tf = LlmOps.textTokens(docs).as[(String, Long)].collect().toMap
    assert(tf === Map("a" -> 1L, "b" -> 3L, "c" -> 1L))
  }

  test("dedup_simhash: exact dups at hamming 0; corpus pairs agree with MinHash") {
    val fixture = Seq((0L, base), (1L, base), (2L, "unrelated catalyst codegen " +
      "shuffle exchange planner adaptive execution content entirely different"))
      .toDF("doc_id", "text")
    val exact = operators.SimOps.dedupSimhash(fixture)
      .as[(Long, Long, Int)].collect()
    assert(exact.toSeq === Seq((0L, 1L, 0)))
    // On the real corpus both detectors must largely agree on the seeded
    // near-dups (simhash trades a little recall at the J~0.9 boundary).
    val docs = Tables.documents(spark, sf0001)
    val sim = operators.SimOps.dedupSimhash(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val mh = LlmOps.dedupNear(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.nonEmpty && (sim intersect mh).size >= (mh.size * 2) / 3,
      s"simhash found ${(sim intersect mh).size} of ${mh.size} MinHash pairs")
  }

  test("dedup_embedding finds seeded near-identical vectors only") {
    val v = (0 until 64).map(i => math.sin(i + 1).toFloat).toArray
    val vNear = v.zipWithIndex.map { case (x, i) => if (i == 63) x + 0.001f else x }
    val vFar = v.map(x => -x)
    val e = Seq((0L, v), (1L, vNear), (2L, vFar)).toDF("vec_id", "embedding")
    val pairs = operators.SimOps.dedupEmbedding(e)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("dedup_embedding multiprobe catches a near-dup pair straddling one sign boundary") {
    // identical vectors except component 3 sits just above vs just below
    // zero: the sign bytes differ in exactly bit 2, so the pair lands in
    // DIFFERENT raw blocks (single-probe sign blocking missed it — this
    // is the documented recall hole) while cosine stays ≈ 1
    val v = (0 until 64).map(i => math.sin(i + 1).toFloat).toArray
    val vPlus = v.updated(2, 1e-4f)
    val vMinus = v.updated(2, -1e-4f)
    val far = v.map(x => -x)
    val e = Seq((0L, vPlus), (1L, vMinus), (2L, far)).toDF("vec_id", "embedding")
    val pairs = operators.SimOps.dedupEmbedding(e)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)),
      s"sign-straddling near-dup not recovered by multiprobe: $pairs")
  }

  test("sim_ivf agrees with brute-force top-k when all cells are probed") {
    val e = Tables.embeddings(spark, sf0001)
    val ivf = operators.SimOps.simIvf(e).select("vec_id").as[Long].collect().toSet
    val brute = operators.LlmOps.simTopk(e).select("vec_id").as[Long].collect().toSet
    // nprobe=4 of 16 cells: the query's own cell is probed, so the query
    // vector and its closest neighbors should largely survive the pruning
    assert(ivf.contains(0L), "query vector missing from IVF result")
    assert((ivf intersect brute).size >= 5,
      s"IVF recall too low vs brute force: $ivf vs $brute")
  }

  test("sim_ann_filtered: pre-filter keeps k results and every result satisfies the predicate") {
    val e = Tables.embeddings(spark, sf0001)
    val got = operators.SimOps.simAnnFiltered(e).select("vec_id").as[Long].collect().toSeq
    assert(got.size === 10,
      "pre-filter form must still fill top-k (post-filter under-fills)")
    val labels = e.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(got.forall(id => labels(id) % 3 === 0),
      s"result leaked vectors outside the predicate: $got")
  }

  test("IVF cell rule: cosine ties go to the lowest cid in nearestCells and queryCells") {
    // cids 3 and 7 are the SAME centroid, so every row ties on them (listed
    // 7 first, so input order cannot fake the rule); cid 5 never wins
    graft.plans.VectorFunctions.register(spark)
    val cents = Seq((7L, Array(1.0, 1.0)), (5L, Array(-1.0, 0.5)), (3L, Array(1.0, 1.0)))
      .toDF("cid", "cv")
    val rows = Seq((10L, Array(2.0, 1.0)), (11L, Array(1.0, 3.0))).toDF("vec_id", "v")
    def cells(n: Int): Map[Long, Set[Long]] = {
      val out = operators.SimOps.nearestCells(rows, "vec_id", "v", cents, n)
      assert(out.columns.toSeq === Seq("vec_id", "v", "cell"))
      out.select("vec_id", "cell").as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (id, cs) => id -> cs.map(_._2).toSet }
    }
    assert(cells(1) === Map(10L -> Set(3L), 11L -> Set(3L)))
    assert(cells(2) === Map(10L -> Set(3L, 7L), 11L -> Set(3L, 7L)))
    val q = Seq(Tuple1(Array(2.0, 1.0))).toDF("qv")
    def probe(n: Int): Set[Long] =
      operators.SimOps.queryCells(cents, q, n).as[Long].collect().toSet
    assert(probe(1) === Set(3L))
    assert(probe(2) === Set(3L, 7L))
  }

  test("sim_kmeans: Lloyd rounds rebalance a degenerate first-k codebook") {
    // 4 well-separated clusters of 16 vectors (spike dim = 2*cluster),
    // deterministic per-vector jitter in dim 8. The first k=4 vectors ALL
    // sit in cluster 0 — the worst case for the naive first-k codebook.
    val vecs = (0L until 64L).map { id =>
      val cluster = (id / 16).toInt
      val v = Array.fill(8)(0.0f)
      v(cluster * 2) = 100.0f
      v(7) = (id % 16).toFloat * 0.01f
      (id, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = operators.SimOps.simKmeans(df, k = 4, rounds = 5).collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(0, 1, 2, 3))
    assert(out.map(_.getLong(1)).sum === 64L, "assignment lost vectors")
    val learnedMax = out.map(_.getLong(1)).max
    // naive first-k codebook balance, brute-forced in the same integer
    // domain: every far-cluster vector collapses onto the handful of
    // near-identical cluster-0 centroids
    val q = vecs.map { case (_, v) => v.map(x => math.round(x * 1000.0).toLong) }
    val naiveCents = q.take(4)
    val naiveMax = q
      .map(x => naiveCents.zipWithIndex.minBy { case (c, i) =>
        (x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }._2)
      .groupBy(identity).values.map(_.size).max
    assert(learnedMax < naiveMax,
      s"Lloyd iteration did not improve cell balance: learned max $learnedMax vs naive $naiveMax")
    assert(learnedMax <= 32, s"learned codebook still badly skewed: ${out.toSeq}")
    // deterministic: a second run is bit-identical
    val again = operators.SimOps.simKmeans(df, k = 4, rounds = 5).collect()
    assert(out.toSeq === again.toSeq)
  }

  test("sim_pq_kmeans: per-subspace Lloyd lowers quantization distortion from the first-16 init") {
    val eq = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 1000).cast("long")).as("xq"))
    val subs = eq
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("s"), col("xq"))
      .select(col("s"), slice(col("xq"), col("s") * 8 + 1, lit(8)).as("sub"))
    // total integer ADC distortion: Σ over (vector, subspace) of the min
    // L2² to that subspace's codebook
    def distortion(cents: org.apache.spark.sql.DataFrame): Long = {
      val cb = cents.groupBy(col("s"))
        .agg(transform(array_sort(collect_list(struct(col("cid"), col("cvec")))),
          t => t.getField("cvec")).as("cents"))
      subs.join(cb, "s")
        .select(aggregate(
          transform(col("cents"), c =>
            aggregate(zip_with(col("sub"), c, (x, y) => (x - y) * (x - y)),
              lit(0L), (a, z) => a + z)),
          lit(Long.MaxValue), (m, d) => least(m, d)).as("d"))
        .agg(sum(col("d"))).head.getLong(0)
    }
    val naive = distortion(operators.SimOps.pqCodebooks(eq, 8, 8, 16, rounds = 0))
    val learned = distortion(operators.SimOps.pqCodebooks(eq, 8, 8, 16, rounds = 3))
    assert(learned < naive,
      s"Lloyd training did not lower PQ distortion: $learned vs naive $naive")
  }

  test("text_decontaminate: flags exactly the doc sharing an 8-gram with the benchmark slice") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val contaminated =
      "intro words alpha beta gamma delta epsilon zeta eta theta trailing"
    val clean = "one two three four five six seven eight nine ten eleven"
    val docs = Seq((0L, bench), (1L, contaminated), (2L, clean))
      .toDF("doc_id", "text") // id 0 → benchmark slice (doc_id % 50 == 0)
    val out = graft.operators.TextOps.textDecontaminate(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.toSeq === Seq(1L -> 1L),
      s"expected only doc 1 flagged with one shared gram, got ${out.toSeq}")
  }

  test("pipeline_pretrain: every funnel stage removes exactly its seeded casualty") {
    // 50+ words with stopwords → quality ≥ 0.5 (lenScore saturates)
    val good = (1 to 50).map(i => if (i % 5 == 0) "the" else s"word$i").mkString(" ")
    val near = good.replace("word7", "swapped")
    val docs = Seq(
      (0L, good),          // survives everything
      (1L, good),          // exact dup → dropped at stage 2
      (2L, near),          // near dup of 0 → dropped at stage 3
      (3L, "x9 !!"))       // junk → dropped at the quality gate
      .toDF("doc_id", "text")
    val stages = LlmOps.pipelinePretrain(docs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stages(0)._1 === 4L && stages(1)._1 === 3L &&
      stages(2)._1 === 2L && stages(3)._1 === 1L, s"funnel counts: $stages")
    // token census shrinks with the docs and never goes negative
    assert(Seq(0, 1, 2, 3).map(stages(_)._2).sliding(2).forall(p => p(0) >= p(1)))
    assert(stages(3)._2 === 50L)
  }

  test("dedup_semantic: near-identical pair found inside a learned cluster, far vectors excluded") {
    val v = (0 until 64).map(i => math.sin(i + 1).toFloat).toArray
    val w = (0 until 64).map(i => math.cos(i + 1).toFloat).toArray
    val vNear = v.updated(63, v(63) + 0.001f)
    // first k=2 ids are deliberately DIVERSE (v, w) so the codebook
    // starts separated; the near-dup (id 2) must land in id 0's cluster
    val e = Seq((0L, v), (1L, w), (2L, vNear), (3L, v.map(x => -x)))
      .toDF("vec_id", "embedding")
    val pairs = operators.SimOps.dedupSemantic(e, k = 2, rounds = 2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 2L)), s"semantic dedup pairs: $pairs")
  }

  test("sim_ivf_kmeans: learned-codebook IVF keeps the query vector and brute-force overlap") {
    val e = Tables.embeddings(spark, sf0001)
    val ivf = operators.SimOps.simIvfKmeans(e).select("vec_id").as[Long].collect().toSet
    val brute = operators.LlmOps.simTopk(e).select("vec_id").as[Long].collect().toSet
    assert(ivf.contains(0L), "query vector missing from learned-IVF result")
    assert((ivf intersect brute).size >= 5,
      s"learned-IVF recall too low vs brute force: $ivf vs $brute")
  }

  test("dedup_binary: duplicated payload found; conflicting embeddings flagged") {
    val docs = Seq(
      (0L, "same payload bytes"), (1L, "same payload bytes"), // dup, conflicting embs
      (2L, "other payload"), (3L, "other payload"),           // dup, agreeing embs
      (4L, "unique payload"))
      .toDF("doc_id", "text")
    val v = Array.fill(64)(0.5f)
    val embs = Seq(
      (0L, v), (1L, v.updated(0, 0.9f)),  // first components differ → conflict
      (2L, v), (3L, v), (4L, v))
      .toDF("vec_id", "embedding")
    val out = LlmOps.dedupBinary(docs, embs).collect()
      .map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(out(0L) === ((2L, 2L, true)), s"conflicting dup group: ${out.get(0L)}")
    assert(out(2L) === ((2L, 1L, false)), s"agreeing dup group: ${out.get(2L)}")
    assert(out(4L) === ((1L, 1L, false)), s"singleton group: ${out.get(4L)}")
  }

  test("sim_knn_cluster: clusters are min-labeled, size >= 2, and edge-consistent") {
    val embs = Tables.embeddings(spark, sf0001)
    val out = operators.SimOps.simKnnCluster(embs).cache()
    assert(out.count() > 0, "no clusters at all — threshold too tight for the fixture")
    // the label is the component's MIN member: strictly below max_member
    assert(out.filter(col("cluster") >= col("max_member")).count() === 0)
    assert(out.filter(col("n_members") < 2).count() === 0)
    // edge-consistency: both endpoints of every qualifying graph edge
    // fall in SOME cluster (an edge is 2 members by definition)
    val g = operators.SimOps.simKnnGraph(embs).filter(col("cos") >= 0.45)
    val nEdge = g.count()
    if (nEdge > 0) {
      val covered = g.select(col("src").as("id"))
        .union(g.select(col("dst").as("id"))).distinct()
      val nMembersTotal = out.agg(sum(col("n_members"))).as[Long].head()
      assert(nMembersTotal === covered.count(),
        "cluster membership must cover exactly the edge-touched vectors")
    }
    out.unpersist()
  }

  test("sink_knn_graph_incremental: O(delta) candidates, batch identity, unaffected rows pass through") {
    val embs = Tables.embeddings(spark, sf0001)
    val cutoff = (embs.count() * 9L) / 10L
    val (cand, stored, updated, _) =
      operators.SimOps.knnGraphIncrementalEdges(spark, embs, sf0001)
    // O(delta): every ingest candidate has a delta endpoint by
    // construction — the ingest never generates corpus-corpus work
    assert(cand.filter(col("src") < cutoff && col("dst") < cutoff).count() === 0,
      "ingest produced a corpus-corpus candidate: not O(delta)")
    assert(cand.count() > 0, "fixture delta produced no candidates at all")
    // result identity with the frozen-codebook batch rebuild over
    // corpus + delta (the monotone top-k law, end to end)
    val eqC = embs.filter(col("vec_id") < cutoff)
      .select(col("vec_id"),
        expr("transform(cast(embedding as array<double>), x -> cast(round(x * 1000) as long))").as("xq"))
    val cents = operators.SimOps.kmeansCentroids(eqC, k = 16, rounds = 2)
    val batch = operators.SimOps.knnGraphWithCodebook(embs, cents)
    val u = updated.select("src", "dst", "cos").collect().map(_.toSeq).toSet
    val b = batch.select("src", "dst", "cos").collect().map(_.toSeq).toSet
    assert(u === b, s"incremental != frozen-codebook batch: " +
      s"onlyInc=${(u -- b).take(3)} onlyBatch=${(b -- u).take(3)}")
    // unaffected sources: rows whose src touches no delta candidate must
    // pass through from the stored corpus graph BIT-identically
    val touched = cand.select(col("src").as("id"))
      .union(cand.select(col("dst").as("id"))).distinct()
      .collect().map(_.getLong(0)).toSet
    val storedRows = stored.collect().map(_.toSeq)
      .filterNot(r => touched(r.head.asInstanceOf[Long])).toSet
    val updatedRows = updated.select("src", "dst", "cos").collect().map(_.toSeq)
      .filterNot(r => touched(r.head.asInstanceOf[Long])).toSet
    assert(storedRows === updatedRows,
      "untouched corpus sources must keep their stored rows unchanged")
  }

  test("sink_knn_graph_refresh: audit conserves edges and matches set-algebra churn") {
    val embs = Tables.embeddings(spark, sf0001)
    val (stale, fresh, audit) =
      operators.SimOps.knnGraphRefreshFrames(spark, embs, sf0001)
    val rows = audit.collect()
    val kept = rows.map(_.getLong(1)).sum
    val added = rows.map(_.getLong(2)).sum
    val dropped = rows.map(_.getLong(3)).sum
    // conservation: every stale edge is kept or dropped, every fresh
    // edge is kept or added — the full join loses nothing
    assert(kept + dropped === stale.count(),
      "audit must partition the stale graph into kept + dropped")
    assert(kept + added === fresh.count(),
      "audit must partition the fresh graph into kept + added")
    // independent recomputation of the churn via set algebra: the
    // full-join audit must agree with except() on both directions,
    // including the integer-micro cosine mass
    val addedE = fresh.exceptAll(stale)
    val droppedE = stale.exceptAll(fresh)
    assert(addedE.count() === added, "added-edge count disagrees with exceptAll")
    assert(droppedE.count() === dropped, "dropped-edge count disagrees with exceptAll")
    def micro(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum(round(col("cos") * 1000000).cast("long")), lit(0L)))
        .head().getLong(0)
    assert(micro(addedE) - micro(droppedE) === rows.map(_.getLong(4)).sum,
      "gain_micro must equal added cosine mass minus dropped cosine mass")
    // the fixture's delta is a tenth of the corpus: a refresh must not
    // rewrite the world (most edges survive the codebook change)
    assert(kept > dropped, s"refresh dropped more edges than it kept ($kept vs $dropped)")
  }

  test("dedup_image_phash: every planted re-encode found, no unrelated pair passes") {
    val docs = Tables.documents(spark, sf0001)
    val out = LlmOps.dedupImagePhash(docs)
    // plan: candidates come from the banded bucket join, never all-pairs
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"phash dedup degraded to all-pairs:\n$plan")
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val planted = (1L to maxId).filter(_ % 19 == 7).map(id => (id - 1, id)).toSet
    // the ground-truth re-encodes ALL surface...
    assert(planted.subsetOf(pairs),
      s"missing planted pairs: ${planted -- pairs}")
    // ...and nothing else does on this fixture (md5 pixels: unrelated
    // hashes sit ~32 bits apart, far outside the ≤ 6 gate)
    assert(pairs === planted, s"unrelated pairs leaked: ${pairs -- planted}")
    // the hash itself: a re-encode is within 2 bits of its source, an
    // unrelated pair is tens of bits away
    val h6 = LlmOps.imagePhash(LlmOps.imagePayload(6L))
    val h7 = LlmOps.imagePhash(LlmOps.imagePayload(7L))
    val h8 = LlmOps.imagePhash(LlmOps.imagePayload(8L))
    assert(java.lang.Long.bitCount(h6 ^ h7) <= 2)
    assert(java.lang.Long.bitCount(h6 ^ h8) > 6)
  }

  test("multimodal_decode: payloads are real BMPs (ImageIO-readable); corrupt ones quarantine") {
    // independent decoder: the JDK's own ImageIO must parse the bytes —
    // proof the payload is a genuine BMP, not a private format our own
    // decoder happens to round-trip
    val id = 7L // 7 % 13 ∉ {5, 9} → clean payload
    val bytes = LlmOps.encodeBmp(id)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO could not parse the generated BMP")
    assert(img.getWidth === (id % 8 + 2).toInt && img.getHeight === (id % 6 + 2).toInt)
    // and our decoder must agree with ImageIO pixel for pixel
    var blue = 0L
    var total = 0L
    for (yy <- 0 until img.getHeight; xx <- 0 until img.getWidth) {
      val rgb = img.getRGB(xx, yy)
      blue += rgb & 0xff
      total += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    }
    val dec = LlmOps.decodeBmp(id, bytes)
    assert(dec.status === "ok" && dec.pixel_sum === total && dec.blue_sum === blue,
      s"decoder disagrees with ImageIO: $dec vs total=$total blue=$blue")
    val tl = img.getRGB(0, 0) // top-left = LAST stored row (bottom-up)
    assert(dec.topleft_sum === ((tl >> 16) & 0xff) + ((tl >> 8) & 0xff) + (tl & 0xff))
    // fault discipline: corruption quarantines with a status, never throws
    assert(LlmOps.decodeBmp(5L,
      LlmOps.corruptBmpFor(5L, LlmOps.encodeBmp(5L))).status === "bad_magic")
    val t = LlmOps.decodeBmp(9L, LlmOps.corruptBmpFor(9L, LlmOps.encodeBmp(9L)))
    assert(t.status === "truncated" && t.width === (9 % 8 + 2).toInt
      && t.height === (9 % 6 + 2).toInt,
      s"truncated payload must keep its parseable header fields: $t")
  }

  test("multimodal_decode_wav: payloads are real WAVs (AudioSystem-readable); chunk walk is real") {
    // independent decoder: the JDK's own javax.sound must parse the bytes
    val id = 2L // 2 % 7 == 2 → carries the junk LIST chunk; 2 % 11 ∉ {3, 7}
    val bytes = LlmOps.encodeWav(id)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate === 8000f && fmt.getChannels === 1
      && fmt.getSampleSizeInBits === 16,
      s"AudioSystem read a different format: $fmt")
    assert(ais.getFrameLength === (id % 50 + 20),
      "AudioSystem frame count must equal the encoded sample count")
    // our decoder agrees with AudioSystem sample for sample
    val raw = ais.readAllBytes()
    var sum = 0L
    var k = 0
    while (k < raw.length / 2) {
      sum += ((raw(2 * k) & 0xff) | raw(2 * k + 1) << 8).toShort
      k += 1
    }
    val dec = LlmOps.decodeWav(id, bytes)
    assert(dec.status === "ok" && dec.n_samples === (id % 50 + 20).toInt
      && dec.sample_sum === sum,
      s"decoder disagrees with AudioSystem: $dec vs sum=$sum")
    // a fixed-44-byte-offset reader would misread this payload (junk
    // chunk sits between fmt and data) — prove the chunk walk matters
    assert(new String(bytes, 36, 4, "US-ASCII") === "LIST",
      "fixture must place a junk chunk where naive readers expect data")
    // fault discipline: both corruption classes quarantine, never throw
    assert(LlmOps.decodeWav(3L,
      LlmOps.corruptWavFor(3L, LlmOps.encodeWav(3L))).status === "bad_magic")
    val t = LlmOps.decodeWav(7L, LlmOps.corruptWavFor(7L, LlmOps.encodeWav(7L)))
    assert(t.status === "truncated" && t.sample_rate === 8000,
      s"truncated payload must keep its parseable format fields: $t")
  }


  test("multimodal_audio_features: framed energy/ZCR agree with a functional recomputation") {
    // independent path: recompute the features FUNCTIONALLY from the
    // closed-form sample rule (the oracle's arithmetic) and require the
    // imperative byte-walking parser to land on the same integers
    for (id <- 0L to 60L) {
      val got = LlmOps.decodeWavFeatures(id, LlmOps.corruptWavFor(id, LlmOps.encodeWav(id)))
      if (id % 11 == 3) assert(got.status === "bad_magic" && got.n_frames === 0)
      else if (id % 11 == 7) assert(got.status === "truncated" && got.n_frames === 0)
      else {
        val n = (id % 50 + 20).toInt
        val s = (0 until n).map(k => ((id * 131 + 17L * k) % 4001 - 2000).toInt)
        val zc = (0 until n - 1).count(k => s(k) * s(k + 1) < 0)
        val es = (0 until n / 16)
          .map(f => (0 until 16).map(j => s(f * 16 + j).toLong * s(f * 16 + j)).sum)
        assert(got.status === "ok", s"id=$id: $got")
        assert(got.n_frames === n / 16 && got.zero_crossings === zc
          && got.max_frame_energy === es.max
          && got.n_active === es.count(_ >= 21000000L),
          s"id=$id: $got vs zc=$zc es=$es")
      }
    }
    // quarantine-never-crash extends to the feature path (shared walk)
    assert(LlmOps.decodeWavFeatures(0L, Array[Byte](1, 2, 3)).status === "bad_magic")
  }

  test("multimodal_image_features: channel sums and row-local gradient agree with the pixel rule") {
    for (id <- 0L to 60L) {
      val got = LlmOps.decodeBmpFeatures(id, LlmOps.corruptBmpFor(id, LlmOps.encodeBmp(id)))
      if (id % 13 == 5) assert(got.status === "bad_magic" && got.grad_sum === 0L)
      else if (id % 13 == 9) assert(got.status === "truncated" && got.grad_sum === 0L)
      else {
        val w = (id % 8 + 2).toInt
        val h = (id % 6 + 2).toInt
        val rb = w * 3
        val v = (0 until rb * h).map(j => ((id * 31 + 7L * j) % 256).toInt)
        val green = v.indices.filter(_ % 3 == 1).map(v(_).toLong).sum
        val red = v.indices.filter(_ % 3 == 2).map(v(_).toLong).sum
        val grad = v.indices.filter(_ % rb >= 3)
          .map(j => math.abs(v(j) - v(j - 3)).toLong).sum
        assert(got.status === "ok", s"id=$id: $got")
        assert(got.green_sum === green && got.red_sum === red
          && got.grad_sum === grad && got.max_px === v.max,
          s"id=$id: $got vs green=$green red=$red grad=$grad max=${v.max}")
      }
    }
    // the shared walk keeps the quarantine-never-crash contract
    assert(LlmOps.decodeBmpFeatures(0L, Array[Byte](9, 9)).status === "bad_magic")
  }

  test("multimodal_decode_ppm: comment-bearing ASCII headers tokenize; corrupt ones quarantine") {
    // id 4 carries a '#' comment line in the header (4 % 9 == 4) — a
    // fixed-token-layout reader misparses exactly this variant
    val id = 4L
    val bytes = LlmOps.encodePpm(id)
    assert(new String(bytes, 0, 2, "US-ASCII") === "P6")
    assert(new String(bytes, "US-ASCII").contains("# synthetic fixture"),
      "fixture must carry the header comment")
    val dec = LlmOps.decodePpm(id, bytes)
    val w = (id % 7 + 2).toInt
    val h = (id % 5 + 2).toInt
    assert(dec.status === "ok" && dec.width === w && dec.height === h)
    // hand-computed expectation from the fill rule
    val expSum = (0 until w * h * 3).map(j => (id * 53 + 11L * j) % 256).sum
    assert(dec.pixel_sum === expSum, s"tokenizer misread the header: $dec")
    // an uncommented id decodes under the same rule (both header shapes)
    val d7 = LlmOps.decodePpm(7L, LlmOps.encodePpm(7L))
    assert(d7.status === "ok" && d7.width === (7 % 7 + 2).toInt)
    // fault discipline
    assert(LlmOps.decodePpm(6L,
      LlmOps.corruptPpmFor(6L, LlmOps.encodePpm(6L))).status === "bad_magic")
    val t = LlmOps.decodePpm(11L, LlmOps.corruptPpmFor(11L, LlmOps.encodePpm(11L)))
    assert(t.status === "truncated" && t.width === (11 % 7 + 2).toInt
      && t.maxval === 255,
      s"truncated payload must keep its parsed header fields: $t")
  }

  test("multimodal_ingest_decode: real files cross the binaryFile boundary; census ties out") {
    val out = LlmOps.multimodalIngestDecode(spark, sf0001).collect()
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(out.map(_.getAs[Long]("n_files")).sum === 3 * nDocs,
      "every (doc, format) must arrive as exactly one ingested file")
    // bytes ON DISK per format must equal the encoder's output sizes —
    // the file-boundary proof (truncated corruptions are shorter files)
    val ids = Tables.documents(spark, sf0001)
      .select("doc_id").as[Long].collect()
    def expBytes(enc: Long => Array[Byte]): Long = ids.map(_.toLong).map {
      id => enc(id).length.toLong }.sum
    val byFmt = out.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[Long]("bytes_total")).sum).toMap
    assert(byFmt("bmp") === expBytes(id => LlmOps.corruptBmpFor(id, LlmOps.encodeBmp(id))))
    assert(byFmt("wav") === expBytes(id => LlmOps.corruptWavFor(id, LlmOps.encodeWav(id))))
    assert(byFmt("ppm") === expBytes(id => LlmOps.corruptPpmFor(id, LlmOps.encodePpm(id))))
    // corrupt files quarantine through the SAME path: both fault
    // residues of every format surface as census groups
    for (fmt <- Seq("bmp", "wav", "ppm"); st <- Seq("ok", "bad_magic", "truncated"))
      assert(out.exists(r => r.getString(0) == fmt && r.getString(1) == st),
        s"missing census group ($fmt, $st)")
  }

  test("ppm payloads verified by an INDEPENDENT reference reader (never decodePpm)") {
    // r11 verdict item 7: the BMP/WAV fixtures are cross-checked by JDK
    // ImageIO/AudioSystem; PPM has no JDK reader, so this minimal
    // string/regex-based P6 reader is the independent implementation —
    // different algorithm (text regex over the latin-1 view), zero
    // shared code with the production byte tokenizer
    def refRead(bytes: Array[Byte]): (Int, Int, Int, Long) = {
      val s = new String(bytes, "ISO-8859-1")
      val m = """(?s)^P6\s*(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s*(?:#[^\n]*\n\s*)*(\d+)\s"""
        .r.findPrefixMatchOf(s).get
      val (w, h, mv) = (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
      val payload = bytes.drop(m.end)
      (w, h, mv, payload.take(w * h * 3).map(b => (b & 0xff).toLong).sum)
    }
    // every well-formed fixture id (comment-bearing ids included) must
    // agree with the production decoder field for field
    for (id <- 0L to 40L if id % 17 != 6 && id % 17 != 11) {
      val bytes = LlmOps.encodePpm(id)
      val (w, h, mv, sum) = refRead(bytes)
      val d = LlmOps.decodePpm(id, bytes)
      assert(d.status === "ok", s"id $id: $d")
      assert((w, h, mv, sum) === ((d.width, d.height, d.maxval, d.pixel_sum)),
        s"id $id: independent reader disagrees with decodePpm")
    }
  }

  test("decoders quarantine ADVERSARIAL headers: hostile lengths/dims never crash or loop") {
    // the quarantine-never-crash contract for REAL corpus bytes, not
    // just the fixture's two corruption residues: negative / huge
    // declared sizes must come back as a status, within bounded time
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // WAV: a chunk between fmt and data declaring a NEGATIVE length —
    // the old walk rewound pos (infinite loop); now bad_header
    val wavNeg = {
      val b = LlmOps.encodeWav(0L) // id 0: canonical layout, no junk chunk
      val c = java.util.Arrays.copyOf(b, b.length)
      // turn "data" into an unknown chunk with len = -16 so the walk
      // must step OVER it using the hostile length
      c(36) = 'j'.toByte; c(37) = 'u'.toByte; c(38) = 'n'.toByte; c(39) = 'k'.toByte
      System.arraycopy(le32(-16), 0, c, 40, 4)
      c
    }
    assert(LlmOps.decodeWav(0L, wavNeg).status === "bad_header")
    // WAV: a near-Int.MaxValue length must not overflow pos past the
    // bounds check
    val wavHuge = {
      val b = LlmOps.encodeWav(0L)
      val c = java.util.Arrays.copyOf(b, b.length)
      c(36) = 'j'.toByte; c(37) = 'u'.toByte; c(38) = 'n'.toByte; c(39) = 'k'.toByte
      System.arraycopy(le32(Int.MaxValue - 4), 0, c, 40, 4)
      c
    }
    assert(LlmOps.decodeWav(0L, wavHuge).status === "bad_header")
    // WAV: data chunk declaring a negative payload length → quarantine,
    // not a silent 0-sample "ok"
    val wavNegData = {
      val b = LlmOps.encodeWav(0L)
      val c = java.util.Arrays.copyOf(b, b.length)
      System.arraycopy(le32(-2), 0, c, 40, 4) // "data" len field
      c
    }
    assert(LlmOps.decodeWav(0L, wavNegData).status !== "ok")
    // BMP: dims whose row×height product overflows Int must be
    // bad_header/truncated, never an out-of-bounds pixel walk
    val bmpHuge = {
      val b = LlmOps.encodeBmp(0L)
      val c = java.util.Arrays.copyOf(b, b.length)
      System.arraycopy(le32(0x40000000), 0, c, 18, 4) // width
      System.arraycopy(le32(0x40000000), 0, c, 22, 4) // height
      c
    }
    assert(LlmOps.decodeBmp(0L, bmpHuge).status === "bad_header")
    val bmpOffPastEnd = {
      val b = LlmOps.encodeBmp(0L)
      val c = java.util.Arrays.copyOf(b, b.length)
      System.arraycopy(le32(Int.MaxValue - 7), 0, c, 10, 4) // pixel offset
      c
    }
    assert(LlmOps.decodeBmp(0L, bmpOffPastEnd).status === "bad_header")
    // PPM: a hostile digit run (overflowing Int) and an Int-overflowing
    // w×h product both quarantine
    val ppmHugeDims =
      ("P6\n99999999999999999999 3\n255\n" + "x" * 32).getBytes("US-ASCII")
    assert(LlmOps.decodePpm(0L, ppmHugeDims).status === "bad_header")
    val ppmOverflowProduct =
      ("P6\n1000000 1000000\n255\n" + "x" * 32).getBytes("US-ASCII")
    assert(LlmOps.decodePpm(0L, ppmOverflowProduct).status === "truncated")
  }

  test("multimodal payload survives project/filter/join byte-identically") {
    val docs = Tables.documents(spark, sf0001)
    val embs = Tables.embeddings(spark, sf0001)
    val out = LlmOps.multimodalCols(docs, embs)
    val row = out.orderBy("doc_id").limit(1).collect()(0)
    val doc0text = docs.orderBy("doc_id").limit(1).select("text").as[String].head()
    assert(new String(row.getAs[Array[Byte]]("payload"), "UTF-8") === doc0text)
    assert(row.getAs[Int]("payload_bytes") === doc0text.getBytes("UTF-8").length)
  }

  test("sim_eval_rank: off-probe neighbor zeroes MRR and degrades nDCG; IDCG closed form") {
    def unit(i: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = 1.0f; a
    }
    // centroids 0..15 = basis vectors; query = vec 0 = x0; the query
    // probes cells {0,1,2,3} (cos ties broken by cid). vec 17 is the BEST
    // real neighbor (cos 0.6) but lives in cell 9 — never probed, so the
    // pruned scan must miss it: MRR 0, nDCG strictly below 1.
    val cents = (0 until 16).map(i => (i.toLong, unit(i)))
    val planted = {
      val a = Array.fill(64)(0.0f); a(9) = 0.8f; a(0) = 0.6f; (17L, a)
    }
    val bg = (18 until 40).map { id => // weak probed-cell neighbors, cos≈0.0995
      val a = Array.fill(64)(0.0f); a(0) = 0.1f; a(20 + id % 5) = 1.0f
      (id.toLong, a)
    }
    val df = ((cents :+ planted) ++ bg).toDF("vec_id", "embedding")
    val row = operators.SimOps.simEvalRank(df).collect()(0)
    assert(row.getLong(0) === 10L, s"k_eval: $row")
    assert(row.getLong(1) === 0L, s"missed best neighbor must zero MRR: $row")
    assert(row.getLong(4) > 0L && row.getLong(4) < 1000000L,
      s"nDCG must degrade but not vanish: $row")
    // IDCG@10 is corpus-independent once 10 items rank: pin the per-term
    // round-before-sum constant exactly
    val idcgExpected = (1 to 10)
      .map(i => math.round((11 - i) * 1e6 / (math.log(i + 1.0) / math.log(2.0))))
      .sum
    assert(row.getLong(3) === idcgExpected, s"IDCG closed form: $row")
  }

  test("sim_pca: planted dominant direction recovered, sign convention, explained ratio") {
    // 200 synthetic vectors where dim 7 carries ~4 orders of magnitude
    // more variance than every other dim — the top principal component
    // must land on it, positive under the sign convention, and the
    // 1-D explained-variance ratio must read ~1.
    val embs = (0 until 200).map { id =>
      val v = (0 until 64).map { i =>
        if (i == 7) ((id % 41) - 20) / 10.0f
        else (((id * 31 + i * 7) % 21) - 10) / 1000.0f
      }.toArray
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val loadings = operators.SimOps.simPcaTrain(embs).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val (leadDim, leadV) = loadings.maxBy { case (_, v) => math.abs(v) }
    assert(leadDim === 7, s"dominant dim not recovered: lead=$leadDim")
    assert(leadV > 0L, "sign convention must make the lead loading positive")
    val othersMax = loadings.filter(_._1 != 7).values.map(math.abs).max
    assert(othersMax * 10 <= math.abs(leadV),
      s"planted direction must dominate 10x: lead=$leadV others<=$othersMax")
    val expl = operators.SimOps.simPcaExplained(embs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(expl("explained_ratio_u") > 900000L,
      s"planted 1-D corpus must be ~fully explained: $expl")
    // the projection histogram covers every vector exactly once
    val hist = operators.SimOps.simPcaProject(embs)
    assert(hist.agg(sum("n_vecs")).head().getLong(0) === 200L)
  }

  test("sim_pca_train2: second planted direction recovered, near-orthogonal to the first") {
    // dim 7 dominant (±2 range), dim 13 second (±0.8), everything else
    // ±0.01 noise — deflation must route component 2 to dim 13
    val embs = (0 until 200).map { id =>
      val v = (0 until 64).map { i =>
        if (i == 7) ((id % 41) - 20) / 10.0f
        else if (i == 13) (((id * 13) % 33) - 16) / 20.0f
        else (((id * 31 + i * 7) % 21) - 10) / 1000.0f
      }.toArray
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val out = operators.SimOps.simPcaTrain2(embs).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    def comp(c: Int): Map[Int, Long] =
      out.collect { case ((`c`, d), v) => d -> v }
    val (c1, c2) = (comp(1), comp(2))
    assert(c1.maxBy { case (_, v) => math.abs(v) }._1 === 7,
      s"component 1 must stay on the dominant dim")
    val lead2 = c2.maxBy { case (_, v) => math.abs(v) }
    assert(lead2._1 === 13, s"component 2 must land on dim 13: $lead2")
    assert(lead2._2 > 0L, "sign convention on component 2")
    // integer-truncated deflation: orthogonality is approximate by
    // construction — audit the residual cos² instead of assuming it
    val dot = BigInt((0 until 64).map(i => c1(i) * c2(i)).sum)
    val n1 = BigInt((0 until 64).map(i => c1(i) * c1(i)).sum)
    val n2 = BigInt((0 until 64).map(i => c2(i) * c2(i)).sum)
    val cos2u = (dot * dot * 1000000) / (n1 * n2)
    assert(cos2u < 10000, s"components must be near-orthogonal: cos²·1e6 = $cos2u")
  }
}
