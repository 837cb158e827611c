package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{LlmOps, SimOps}

/** The LSH skew-cliff guard: a bucket of m near-identical docs would
  * expand to m²/2 candidate pairs (and an m-element collect_list in one
  * row) — the degenerate case a duplicate-heavy 100 TB corpus hits
  * constantly. Both banded dedup operators cap bucket membership at
  * LlmOps.LshMaxBucket and drop oversized buckets (mass duplicates are
  * the exact-dup pre-pass's job); the in-query Observation makes every
  * drop visible. These specs pin: (a) the cap bounds pair output to
  * O(N·maxBucket) instead of O(N²), (b) drops are counted, (c) recall on
  * collision-sized buckets is untouched.
  */
class LshCapSpec extends SparkTestBase {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), p)
    assert(r.passed, r.status.toString)
  }

  private def identicalDocs(n: Int): DataFrame =
    (0 until n).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog near the quiet river"))
      .toDF("doc_id", "text")

  /** A corpus whose LSH output is non-empty: the 100-doc identical family
    * overflows every band bucket while the distinct sentence pair survives
    * in a 2-doc bucket. Non-empty output matters for the Observation
    * tests — when the WHOLE result is empty, AQE's runtime empty-relation
    * propagation replaces the join subtree (CollectMetrics included), so
    * the metric never fires; any real corpus has some surviving pair.
    */
  private val longText =
    "spark catalyst rewrites logical plans into optimized physical stages " +
      "while tungsten generates compact bytecode for every supported operator " +
      "and adaptive execution re-plans shuffles using runtime statistics " +
      "collected from each completed stage of the running query today"

  private def mixedDocs(nFamily: Int): DataFrame =
    identicalDocs(nFamily).unionByName(Seq(
      (1000L, longText),
      (1001L, longText.replace("today", "tonight")))
      .toDF("doc_id", "text"))

  test("dedup_near: an oversized identical-doc bucket is dropped and counted") {
    val obs = new Observation()
    val out = LlmOps.dedupNearCapped(mixedDocs(100), 8, Some(obs))
    val pairs = out.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1000L, 1001L)),
      s"capped family bucket must not emit pairs, got $pairs")
    val m = obs.get
    assert(m("overflowed_buckets").asInstanceOf[Long] >= 1L,
      s"overflow not observed: $m")
    assert(m("max_bucket_size").asInstanceOf[Int] === 100, s"bucket size: $m")
  }

  test("dedup_simhash: oversized band bucket dropped and counted") {
    val obs = new Observation()
    val out = SimOps.dedupSimhashCapped(mixedDocs(60), 8, Some(obs))
    val pairs = out.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1000L, 1001L)), s"got $pairs")
    val m = obs.get
    assert(m("overflowed_buckets").asInstanceOf[Long] >= 1L, s"$m")
    assert(m("max_bucket_size").asInstanceOf[Int] === 60, s"$m")
  }

  test("cap leaves collision-sized buckets intact (recall preserved)") {
    // a 50-doc identical family (overflows) + one distinct near-dup pair
    val found = LlmOps.dedupNearCapped(mixedDocs(50), 8, None)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(found === Set((1000L, 1001L)),
      s"expected only the small-bucket pair to survive, got $found")
  }

  test("property: N identical docs produce <= N*maxBucket pairs, never N^2") {
    val maxBucket = 8
    check(Prop.forAll(Gen.choose(20, 80)) { n: Int =>
      val pairs = LlmOps.dedupNearCapped(identicalDocs(n), maxBucket, None).count()
      pairs <= n.toLong * maxBucket
    })
  }

  test("default entry points apply the production cap") {
    // below the cap: full clique expected from the default path
    val n = 10
    val out = LlmOps.dedupNear(identicalDocs(n))
    assert(out.count() === n.toLong * (n - 1) / 2)
    // above the cap: dropped by the default path
    assert(LlmOps.dedupNear(identicalDocs(LlmOps.LshMaxBucket + 1)).count() === 0)
  }
}
