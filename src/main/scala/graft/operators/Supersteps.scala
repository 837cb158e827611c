package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.Materialize

/** The one superstep driver of the iterative loops — the Pregel shape:
  * a superstep per round, plus a vote to halt for the loops that run to
  * convergence. It owns the three rules every loop used to re-spell:
  *  - lineage: the initial state and the rounds on the loop's measured
  *    cadence are eagerly localCheckpoint'ed, so round k plans against a
  *    flat scan instead of re-evaluating rounds 1..k-1; a loop that reads
  *    only its final state ([[last]]) keeps one checkpoint at a time;
  *  - the observed exit: a converging round is ONE checkpoint job with
  *    its exit metric riding it as an `observe()` — detection never
  *    costs a second action;
  *  - the fail-loud backstop: a loop that has not converged by
  *    `maxRounds` throws instead of returning a truncated result as
  *    converged.
  */
object Supersteps {

  private def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Runs `rounds` steps from `init` and returns the states after rounds
    * 0..rounds (trajectories and walk slices read every one). The initial
    * state is checkpointed, then every round — or, `everySecond`, every
    * second round plus the last: a 2-deep lineage plans fine and halves
    * the job barriers, which the single-consumer loops measured faster.
    */
  def fixed(init: DataFrame, rounds: Int, everySecond: Boolean = false)(
      step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] =
    (1 to rounds).scanLeft(checkpoint(init)) { (state, r) =>
      val next = step(state, r)
      if (checkpointsAt(r, rounds, everySecond)) checkpoint(next) else next
    }

  /** [[fixed]] for a loop that reads only its final state: the same
    * rounds on the same cadence, returning the state after round
    * `rounds`. Each checkpoint releases its predecessor once it is taken,
    * so the loop holds one state's blocks at a time instead of every
    * round's until the ContextCleaner gets to them; a round that throws
    * releases the one it holds. A loop whose output reads an earlier
    * state carries what it needs forward in the state (the biased walk's
    * path) or stays on [[fixed]].
    */
  def last(init: DataFrame, rounds: Int, everySecond: Boolean = false)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var held = checkpoint(init)
    try (1 to rounds).foldLeft(held) { (state, r) =>
      val next = step(state, r)
      if (!checkpointsAt(r, rounds, everySecond)) next
      else {
        val prev = held
        held = checkpoint(next)
        Materialize.releaseCheckpoint(prev)
        held
      }
    } catch { case e: Throwable =>
      Materialize.releaseCheckpoint(held)
      throw e
    }
  }

  /** The cadence: every round, or every second round plus the last. */
  private def checkpointsAt(r: Int, rounds: Int, everySecond: Boolean): Boolean =
    !everySecond || r % 2 == 0 || r == rounds

  /** `frame` checkpointed in one job that also observes `metric` (named
    * `name`), and the metric's value — the one way a loop reads a
    * per-round number without a second action.
    */
  def observed[M](name: String, frame: DataFrame, metric: Column): (DataFrame, M) = {
    val obs = Observation(name)
    val ck = checkpoint(frame.observe(obs, metric.as("m")))
    (ck, obs.get("m").asInstanceOf[M])
  }

  /** Runs rounds 1, 2, … from `init` until the first round whose observed
    * metric satisfies `done`, and returns every checkpointed frame in
    * order (starting with `init`'s) plus that exit round. Round r is
    * `round(frames so far, r)`: a frame and its exit metric, checkpointed
    * in one job that observes the metric; a round without a metric (one
    * that has nothing to compare against yet) cannot exit. `settle`, when
    * given, builds a second checkpointed frame from each round's own
    * (HITS' hub side from its authority side). Throws, naming `loop`, when
    * no round up to `maxRounds` satisfies `done`.
    */
  def converge[M](loop: String, init: DataFrame, maxRounds: Int,
      settle: Option[DataFrame => DataFrame] = None)(
      round: (IndexedSeq[DataFrame], Int) => (DataFrame, Option[Column]))(
      done: M => Boolean): (IndexedSeq[DataFrame], Int) = {
    val frames = ArrayBuffer(checkpoint(init))
    var exitRound = 0
    var r = 0
    while (exitRound == 0 && r < maxRounds) {
      r += 1
      round(frames.toIndexedSeq, r) match {
        case (frame, None) => frames += checkpoint(frame)
        case (frame, Some(metric)) =>
          val (ck, m) = observed[M](s"${loop}_$r", frame, metric)
          frames += ck
          if (done(m)) exitRound = r
      }
      settle.foreach(f => frames += checkpoint(f(frames.last)))
    }
    require(exitRound > 0,
      s"$loop did not converge within $maxRounds rounds — raise maxRounds; " +
        "refusing to return an unconverged result as converged")
    (frames.toIndexedSeq, exitRound)
  }

  /** The exit metric of the fixpoint and orbit loops: how many rows have
    * their `chg` flag set (0 on an empty frame).
    */
  val changed: Column = coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L))
}
