package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The per-round routine of every driver-paced iterative operator
  * ([[ConnectedComponents]], [[Bfs]], [[Lpa]], [[KCore]], [[PageRank]]'s
  * shuffle path and [[graft.llm.Bpe]]'s elect→apply loop): each round's
  * state is materialised with `localCheckpoint(true)`, so round r+1's plan
  * does not re-derive rounds 1..r; the round it supersedes is released
  * once the new one is materialised (it reads none of the old lineage);
  * the round's convergence signal is read after the materialising action,
  * where an `observe` metric has landed, so detecting a fixpoint costs no
  * extra job. A loop stops when its signal says so or at the round cap.
  */
private[graft] object Rounds {

  /** One round's next state, not yet materialised, and its convergence
    * signal, read once the state is: an `Observation` on `next` or a
    * driver value the round computed. */
  final case class Step(next: DataFrame, converged: () => Boolean = () => false)

  /** Runs rounds from `init` (a checkpoint, or a frame that is none) until
    * one converges, `round` returns None (a driver-side stop read before
    * any new state is built), or `cap` rounds have run; `round` gets the
    * current state and the 0-based round index. Returns the last state, the
    * only checkpoint the loop leaves persisted. With `failAtCap`, a loop that
    * reaches the cap without converging releases its state and throws an
    * `IllegalStateException` with that message instead: a partial fixpoint
    * would be a silently wrong result. */
  def run(init: DataFrame, cap: Int, failAtCap: Option[String] = None)(
      round: (DataFrame, Int) => Option[Step]): DataFrame = {
    var state = init
    var stopped = false
    var i = 0
    while (!stopped && i < cap) {
      round(state, i) match {
        case None => stopped = true
        case Some(step) =>
          val next = step.next.localCheckpoint(true)
          release(state)
          state = next
          stopped = step.converged()
          i += 1
      }
    }
    failAtCap.filter(_ => !stopped).foreach { msg =>
      release(state)
      throw new IllegalStateException(msg)
    }
    state
  }

  /** A convergence test for a signal that settles: it holds when a round's
    * signal equals the previous round's, `first` standing for the state
    * before round 1. */
  def unchanged[A](first: A): A => Boolean = {
    var prev = first
    a => { val same = a == prev; prev = a; same }
  }

  /** Exactly `rounds` rounds, no convergence test. */
  def fixed(init: DataFrame, rounds: Int)(round: DataFrame => DataFrame): DataFrame =
    run(init, rounds)((state, _) => Some(Step(round(state))))

  /** Drops the blocks of a frame `localCheckpoint(true)` returned, once
    * nothing left to run reads it; a no-op on any other frame (PageRank's
    * first ranks are a projection of its node set, not a checkpoint). */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _             => ()
    }
}
