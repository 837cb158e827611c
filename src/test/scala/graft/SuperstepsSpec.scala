package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.Supersteps

class SuperstepsSpec extends SparkTestBase {

  /** The id of the RDD behind a localCheckpoint frame. */
  private def rddId(checkpointed: DataFrame): Int = checkpointed.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case other => fail(s"not a checkpoint: ${other.nodeName}")
  }

  /** The RDDs the block manager holds blocks of. */
  private def heldRdds(): Set[Int] =
    GraftBus.blocks(spark.sparkContext).keySet.flatMap(_.asRDDId.map(_.rddId))

  private def init: DataFrame = spark.range(64).select(col("id"), col("id").as("v"))

  private def bump(state: DataFrame, r: Int): DataFrame =
    state.select(col("id"), (col("v") * 3 + r).as("v"))

  test("last keeps only its final checkpoint's blocks and matches fixed's final state") {
    val seen = ArrayBuffer.empty[DataFrame]
    val out = Supersteps.last(init, 4) { (state, r) => seen += state; bump(state, r) }
    val taken = seen.map(rddId).toSet // the states after rounds 0..3
    assert(taken.size == 4)
    val held = heldRdds()
    assert(held(rddId(out)), "the final checkpoint's blocks are gone")
    assert(held.intersect(taken).isEmpty,
      s"predecessor checkpoints still hold blocks: ${held.intersect(taken)}")
    assert(out.orderBy("id").collect().toSeq ===
      Supersteps.fixed(init, 4)(bump).last.orderBy("id").collect().toSeq)
    Materialize.releaseCheckpoint(out)
    assert(!heldRdds()(rddId(out)))
  }

  test("last on the every-second cadence reads the rounds fixed does") {
    val out = Supersteps.last(init, 5, everySecond = true)(bump)
    assert(out.orderBy("id").collect().toSeq ===
      Supersteps.fixed(init, 5, everySecond = true)(bump).last.orderBy("id").collect().toSeq)
    Materialize.releaseCheckpoint(out)
  }

  test("a loop that throws halfway leaves no blocks of the checkpoints it took") {
    val seen = ArrayBuffer.empty[DataFrame]
    val e = intercept[Exception](Supersteps.last(init, 4) { (state, r) =>
      seen += state
      val next = bump(state, r)
      if (r < 3) next
      else next.select(col("id"),
        when(col("id") === 7, raise_error(lit("round 3 is broken"))).otherwise(col("v")).as("v"))
    })
    assert(e.toString.contains("round 3 is broken") ||
      Option(e.getCause).exists(_.toString.contains("round 3 is broken")), e.toString)
    val taken = seen.map(rddId).toSet // the states after rounds 0..2
    assert(taken.size == 3)
    assert(heldRdds().intersect(taken).isEmpty,
      s"checkpoints of rounds 0-2 still hold blocks: ${heldRdds().intersect(taken)}")
  }
}
