package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graft.Bridge

import graft.Pin

/** The round loop of every iterative kernel in `algo/`. A kernel gives
  * the round (state -> next state) and, for [[converge]], its stop metrics
  * as aggregate Columns; Fixpoint owns materialization, the stop read,
  * the round bound, the release of superseded state and the round names.
  * A kernel picks one of three loop shapes:
  *
  *  - [[converge]]: rounds until a stop rule over the metrics holds. Each
  *    round is one [[graft.Pin.pin]] with the metrics attached, so they come
  *    back from the checkpoint's own job, with no separate `head()` or
  *    `count()` job. Eager, because a round reads its intermediate frames
  *    more than once (CC's large-star output feeds the small-star join
  *    twice): a lazy checkpoint folded into a later stop action recomputes
  *    the round's shuffle tree inside that action (CC round 1 on a
  *    71M-edge table: 56 s lazy, 22 s eager at 8 cores).
  *  - [[levels]]: the frontier loop. Each level's new frontier is a pin
  *    with its observed count; the visited set is a lazy union of the
  *    frontiers, computed inside whichever job reads it next.
  *  - [[fixed]]: a given number of rounds, each a [[graft.Pin.cut]], then
  *    one materializing count. No round reads a value back.
  *
  * Why a pin is a checkpoint and what a lazy checkpoint runs under AQE is
  * written once, in [[graft.Pin]].
  *
  * Every round's jobs carry `"<kernel> round <r>"` as their short call site
  * (stage names in a listener or the UI; the long form with the caller's
  * stack is unchanged). A [[converge]] loop frees the previous round's
  * checkpoint blocks once the next round is materialized.
  *
  * Non-convergence: a loop returns its state with a `converged` flag.
  * Kernels whose answer is only correct at the fixpoint call
  * [[Result.orFail]], the one throw, naming the kernel, the bound and the
  * last metrics. An empty state is a fixed point of every round here, so a
  * [[converge]] loop stops as soon as its state is empty.
  */
private[algo] object Fixpoint {

  /** What a loop ended with: the state, whether the stop rule held within
    * `bound` rounds, the rounds run, the row count `n0` of round 0 and the
    * last observed metrics (`n`, the row count, first).
    */
  final case class Result(kernel: String, bound: Int, state: DataFrame,
                          converged: Boolean, rounds: Int, n0: Long, metrics: Row) {
    def n: Long = metrics.getLong(0)

    /** The state, or the one throw when the stop rule never held. */
    def orFail: DataFrame =
      if (converged) state else throw notConverged(kernel, bound, metrics)
  }

  /** The one non-convergence failure. */
  def notConverged(kernel: String, bound: Int, last: Any): IllegalStateException =
    new IllegalStateException(s"$kernel did not converge in $bound rounds (last metrics: $last)")

  /** Runs `round(state, metrics)` from `init` until `stop(previous, current)`
    * holds over the observed metrics (default: they did not change), the
    * state is empty, or `bound` rounds ran. `init` is pinned as round 0, so
    * the first comparison is against the input. With `budget`, every pinned
    * state is [[graft.Pin.coalesced]] to that many rows per partition.
    */
  def converge(kernel: String, init: DataFrame, bound: Int, metrics: Seq[Column] = Nil,
               budget: Option[Long] = None, stop: (Row, Row) => Boolean = _ == _)(
      round: (DataFrame, Row) => DataFrame): Result = {
    var (state, m) = named(init, kernel, 0)(Pin.pin(init, metrics, budget))
    var r = 0
    val n0 = m.getLong(0)
    var done = n0 == 0L
    while (!done && r < bound) {
      r += 1
      val (next, nm) = named(init, kernel, r)(Pin.pin(round(state, m), metrics, budget))
      done = nm.getLong(0) == 0L || stop(m, nm)
      Bridge.releaseCheckpoints(state)
      state = next
      m = nm
    }
    Result(kernel, bound, state, done, r, n0, m)
  }

  /** Frontier loop from `start`: `step(frontier, visited, level)` returns
    * the rows first reached at `level`, shaped like `start`; they become
    * the next frontier and join the visited union. Ends when a level
    * reaches nothing (converged) or after `bound` levels. The state is the
    * visited union.
    */
  def levels(kernel: String, start: DataFrame, bound: Int = Int.MaxValue)(
      step: (DataFrame, DataFrame, Int) => DataFrame): Result = {
    var (frontier, m) = named(start, kernel, 0)(Pin.pin(start, budget = None))
    var visited = frontier
    val n0 = m.getLong(0)
    var r = 0
    while (m.getLong(0) > 0L && r < bound) {
      r += 1
      val (next, nm) = named(start, kernel, r)(Pin.pin(step(frontier, visited, r), budget = None))
      if (nm.getLong(0) > 0L) visited = visited.union(next)
      frontier = next
      m = nm
    }
    Result(kernel, bound, visited, m.getLong(0) == 0L, r, n0, m)
  }

  /** Exactly `rounds` rounds of `round(state, r)` from `init`, each lazily
    * checkpointed, then one count that materializes the chain. With
    * `eagerEvery = k > 0` every k-th round is checkpointed eagerly, which
    * bounds the depth of the lineage that count runs.
    */
  def fixed(kernel: String, init: DataFrame, rounds: Int, eagerEvery: Int = 0)(
      round: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = Pin.cut(init)
    var r = 0
    while (r < rounds) {
      r += 1
      state = named(init, kernel, r) {
        val next = round(state, r)
        if (eagerEvery > 0 && r % eagerEvery == 0) Pin.pin(next, budget = None)._1 else Pin.cut(next)
      }
    }
    Bridge.withCallSite(init.sparkSession.sparkContext, s"$kernel materialize")(state.count())
    state
  }

  private def named[T](df: DataFrame, kernel: String, r: Int)(body: => T): T =
    Bridge.withCallSite(df.sparkSession.sparkContext, s"$kernel round $r")(body)
}
