package graft

import org.apache.spark.sql.functions._
import graft.operators.{RelationalOps, SimOps, TextOps}

/** text_bm25 / sample_weighted / sim_random_projection / sim_rp_recall —
  * closed-form fixtures where the formulas are hand-checkable, plus the
  * determinism and structure contracts the oracles rely on.
  */
class RetrievalSamplingSpec extends SparkTestBase {
  import spark.implicits._

  test("text_bm25: higher tf wins at equal dl; longer docs are penalized") {
    // 14 distinct filler tokens so the vocabulary has ranks 10-12; 'zzz'
    // is the high-df query term (appears in every doc -> df rank 1..9 are
    // the fillers' problem, zzz tops df). Query terms = ranks 10-12, so
    // craft df so that a known term lands there.
    val fillers = Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k")
    // every doc carries all fillers (df = n_docs each); 'q' appears in a
    // controlled subset -> df('q') < df(filler) -> q ranks AFTER them
    val base = fillers.mkString(" ")
    val docs = Seq(
      (1L, s"$base q q"),         // tf=2, dl=13
      (2L, s"$base q"),           // tf=1, dl=12
      (3L, s"$base q $base"),     // tf=1, dl=24 (longer -> penalized)
      (4L, base))                 // no q
      .toDF("doc_id", "text")
    val got = TextOps.textBm25(docs)
      .filter(col("term") === "q")
      .orderBy("rnk")
      .select("doc_id").as[Long].collect()
    // doc1 (tf 2) > doc2 (tf 1, short) > doc3 (tf 1, long)
    assert(got.toSeq === Seq(1L, 2L, 3L))
  }

  test("text_bm25 on the corpus: <=10 per term, 3 terms, scores non-increasing") {
    val r = TextOps.textBm25(Tables.documents(spark, sf0001)).collect()
    val byTerm = r.groupBy(_.getString(0))
    assert(byTerm.size === 3)
    byTerm.foreach { case (_, rows) =>
      assert(rows.length <= 10)
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  // The expected rows below are the output of the join-based scorer this
  // one replaced (query terms and dl broadcast-joined by token and
  // doc_id), so each case pins result identity on an edge of the cut.
  private type Bm25Row = (String, Int, Long, Long, Long, Double)
  private def bm25(docs: (Long, String)*): Seq[Bm25Row] =
    TextOps.textBm25(docs.toDF("doc_id", "text")).as[Bm25Row].collect().toSeq

  test("text_bm25: under 10 distinct tokens the result is empty, typed as usual") {
    val df = TextOps.textBm25(Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text"))
    assert(df.collect().isEmpty)
    assert(df.schema.simpleString ===
      "struct<term:string,rnk:int,doc_id:bigint,tf:bigint,dl:bigint,score:double>")
  }

  test("text_bm25: exactly 11 distinct tokens score 2 terms") {
    assert(bm25((1L, "a b c d e f g h i j k k"), (2L, "a b c d e f g h i j"),
      (3L, "a b c d e f g h i"), (4L, "a b c d e f g h j k")) === Seq(
      ("j", 1, 2L, 1L, 10L, 0.36027), ("j", 2, 4L, 1L, 10L, 0.36027),
      ("j", 3, 1L, 1L, 12L, 0.333389),
      ("k", 1, 1L, 2L, 12L, 0.909409), ("k", 2, 4L, 1L, 10L, 0.700133)))
  }

  test("text_bm25: a df tie across ranks 9-13 is cut by token") {
    // i..m all have df 2: ranks 10-12 are j, k, l
    assert(bm25((1L, "a b c d e f g h m l k j i"), (2L, "a b c d e f g h i j"),
      (3L, "a b c d e f g h k l m"), (4L, "a b c d e f g h")) === Seq(
      ("j", 1, 2L, 1L, 10L, 0.706918), ("j", 2, 1L, 1L, 13L, 0.631625),
      ("k", 1, 3L, 1L, 11L, 0.679902), ("k", 2, 1L, 1L, 13L, 0.631625),
      ("l", 1, 3L, 1L, 11L, 0.679902), ("l", 2, 1L, 1L, 13L, 0.631625)))
  }

  test("text_bm25: an empty document counts in n_docs but adds no tokens") {
    assert(bm25((1L, "a b c d e f g h i j k l x"), (2L, "a b c d e f g h i j k l x x"),
      (3L, "a b c d e f g h i j y"), (4L, "")) === Seq(
      ("j", 1, 3L, 1L, 11L, 0.335034), ("j", 2, 1L, 1L, 13L, 0.309959),
      ("j", 3, 2L, 1L, 14L, 0.298778),
      ("k", 1, 1L, 1L, 13L, 0.602361), ("k", 2, 2L, 1L, 14L, 0.580632),
      ("l", 1, 1L, 1L, 13L, 0.602361), ("l", 2, 2L, 1L, 14L, 0.580632)))
  }

  test("text_hashing_trick: buckets match an independent md5 computation") {
    val docs = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
    val got = TextOps.textHashingTrick(docs)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    def bucket(tok: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 64).toInt
    }
    assert(got === Map(bucket("alpha") -> 2L, bucket("beta") -> 1L))
  }

  test("sample_weighted: deterministic, k per group, keys descending") {
    val orders = Tables.orders(spark, sf0001)
    val s1 = RelationalOps.sampleWeighted(orders).collect()
    val s2 = RelationalOps.sampleWeighted(orders).collect()
    assert(s1.toSeq === s2.toSeq, "A-ES draw must be deterministic")
    val byGrp = s1.groupBy(_.getString(0))
    byGrp.foreach { case (_, rows) =>
      assert(rows.length === 5)
      val keys = rows.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    }
  }

  test("sample_weighted: an overwhelming weight is always drawn first") {
    // key = ln(u)/w: u >= 2^-32 bounds ln(u) in (-23, 0), so weight 1e12
    // bounds the heavy key in (-2.3e-11, 0) — above any unit-weight key
    // rounded at 1e-12 unless u is within 1e-10 of 1 (not the case for
    // these md5 draws, which the assertion itself verifies)
    val orders = Seq(
      (1L, "G", 1.0e12), (2L, "G", 1.0), (3L, "G", 1.0), (4L, "G", 1.0),
      (5L, "G", 1.0), (6L, "G", 1.0), (7L, "G", 1.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val top = RelationalOps.sampleWeighted(orders, k = 1)
      .select("o_orderkey").as[Long].head()
    assert(top === 1L)
  }

  test("sim_random_projection of a unit basis vector reads off the sign matrix") {
    val e5 = (0 until 64).map(i => if (i == 5) 1.0f else 0.0f).toArray
    val df = Seq((7L, e5)).toDF("vec_id", "embedding")
    val got = SimOps.simRandomProjection(df)
      .orderBy("dim").select("value").as[Double].collect()
    val want = (0 until 8).map(j => SimOps.rpSigns(j)(5))
    assert(got.toSeq === want)
  }

  test("sim_rp_rerank: 5 exact-reranked rows per probe, scores descending") {
    val rows = SimOps.simRpRerank(Tables.embeddings(spark, sf0001)).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.nonEmpty)
    byProbe.foreach { case (_, rs) =>
      assert(rs.length === 5)
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        "exact rerank must emit descending exact cosine")
      assert(cos.forall(c => c >= -1.0 && c <= 1.0))
    }
  }

  test("sim_rp_width_sweep: overlap is monotone in width, planted found at every width") {
    val rows = SimOps.simRpWidthSweep(Tables.embeddings(spark, sf0001))
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq === Seq(4, 8, 16))
    val overlaps = rows.map(_.getLong(2))
    assert(overlaps.zip(overlaps.tail).forall { case (a, b) => a <= b },
      s"background overlap should not shrink as the sketch widens: ${overlaps.toSeq}")
    val probes = rows.head.getLong(1) / 10
    assert(rows.forall(_.getLong(3) === probes),
      "every width must keep every planted near-dup partner")
  }

  test("sim_rp_recall finds every planted near-dup partner through the sketch") {
    val r = SimOps.simRpRecall(Tables.embeddings(spark, sf0001))
      .select("planted_found").as[Long].collect()
    assert(r.nonEmpty && r.forall(_ === 1L))
  }

  test("pipeline_coreset: per-cell proportional quotas hold exactly; total ≈ frac") {
    val out = SimOps.simCoreset(Tables.embeddings(spark, sf0001)).collect()
    // every cell keeps ceil(n_cell·0.1) members — proportional
    // representation is the operator's whole contract
    out.foreach { r =>
      val expected = math.ceil(r.getLong(1) * 0.1).toLong
      assert(r.getLong(2) === expected,
        s"cell ${r.getInt(0)}: selected ${r.getLong(2)} != ceil(${r.getLong(1)}·0.1)")
      assert(!r.isNullAt(3), s"cell ${r.getInt(0)} selected rows but no first pick")
    }
    val (total, selected) = (out.map(_.getLong(1)).sum, out.map(_.getLong(2)).sum)
    assert(total === 500L)
    // ceil per cell over-draws by < 1 per cell
    assert(selected >= 50L && selected <= 50L + out.length,
      s"total selection off: $selected of $total")
  }
}
