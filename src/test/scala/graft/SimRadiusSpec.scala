package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.SimOps

/** The radius search's exactness claim — the Cauchy–Schwarz prune must
  * be invisible at EVERY input, not just the fixture corpus: for random
  * vector sets and a threshold placed mid-gap between realized dots, the
  * pruned scan must return exactly the brute-force answer set. The
  * mid-gap τ keeps the property about the PRUNE (the claim under test),
  * not about cross-engine boundary rounding, which the fixture oracle
  * already guards separately.
  */
class SimRadiusSpec extends SparkTestBase {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), p)
    assert(r.passed, r.status.toString)
  }

  test("property: norm-pruned radius search equals brute force at a mid-gap threshold") {
    val dim = 8
    val genVec = Gen.listOfN(dim, Gen.choose(-100, 100))
    val genCorpus = Gen.listOfN(30, genVec)
    check(Prop.forAll(genCorpus, Gen.choose(1, 27)) { (vecs, kGap) =>
      // embeddings-shaped frame; vec_id 7 is the operator's query row
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat / 10f)) }
        .toDF("vec_id", "embedding")
      // brute-force dots in the same float->double domain the kernel uses
      val q = vecs(7).map(_.toFloat / 10f).map(_.toDouble)
      val dots = vecs.zipWithIndex.filter(_._2 != 7).map { case (v, i) =>
        (i.toLong, v.map(_.toFloat / 10f).map(_.toDouble).zip(q).map { case (a, b) => a * b }.sum)
      }
      // τ mid-gap between the kGap-th and next dot: never on a boundary
      val sorted = dots.map(_._2).sortBy(-_)
      val tau = (sorted(kGap - 1) + sorted(kGap)) / 2.0
      val expected = dots.filter(_._2 >= tau).map(_._1).toSet
      val got = SimOps.simRadius(df, tau).select("vec_id").as[Long].collect().toSet
      got == expected
    })
  }
}
