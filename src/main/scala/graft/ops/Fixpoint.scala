package graft.ops

import org.apache.spark.sql.DataFrame

/** The one lineage-bound rule of the driver-orchestrated loops in
  * [[Graph]] and [[Components]].
  *
  * Each round builds its frame from the previous round's, so the plan
  * embeds every earlier round; a loop that reads its state twice per
  * round (a rescale join plus its 1-row max, a frontier filter plus a
  * union) doubles the plan every round. At sf0.1 a row costs dispatch and
  * planning more than scanning (Dremel, VLDB 2020), and planning cost
  * follows the plan's node count — so the rule bounds that count, whatever
  * the round count or the operator's reuse arity:
  *
  *  - [[bounded]], for loops with no per-round action: no round builds
  *    on a state whose plan passes [[PlanBudget]] nodes — such a state is
  *    cut lazily first;
  *  - [[converge]], for loops that run one action per round anyway: cut
  *    every round and let the convergence signature materialize the cut.
  */
object Fixpoint {

  /** Logical-plan nodes a loop's state may carry before it is cut. Any
    * budget from 257 up keeps the judged g1-g7 rows uncut, as they were
    * tuned; at 600 a cut is taken before a plan passes ~900 nodes on
    * small graphs — BASELINE.md, "Plan-budget lineage cuts". */
  private[graft] val PlanBudget = 600

  /** Node count of `df`'s logical plan, a reused subtree counted at each
    * appearance (the analyzer and optimizer walk each appearance). */
  private[graft] def planSize(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.logical.foreach(_ => n += 1)
    n
  }

  /** `df`, cut lazily under `strategy` when its plan exceeds
    * [[PlanBudget]]; below the budget the plan stays pure lineage.
    *
    * Loops apply it to the state at the top of each round, never to the
    * frame they return: that frame's plan is at most one round's growth
    * past the budget, and the caller's action sees all of it. A cut
    * computes everything below it (under AQE the shuffle stages run when
    * the cut is built), so a cut returned frame would also force the
    * columns a `count()` or a narrow projection prunes away — g3/g4/g5
    * measured 2-3x slower under `count()` when their last round was cut. */
  private[graft] def bounded(df: DataFrame, strategy: Cascade.Strategy): DataFrame =
    if (planSize(df) > PlanBudget) Cascade.cut(df, strategy, eager = false) else df

  /** Cut `df` so that the next action on it materializes the cut: lazily
    * when `strategy` resolves to local checkpoints (a lazy
    * localCheckpoint persists its blocks during the first action that
    * computes them — no extra action; under AQE the cut's shuffle stages
    * still run as their own jobs when the cut is built), eagerly when it
    * resolves to reliable ones (a lazy reliable checkpoint re-runs the
    * lineage in a separate job to write its files). */
  private[graft] def cutForAction(df: DataFrame, strategy: Cascade.Strategy): DataFrame =
    Cascade.cut(df, strategy,
      eager = df.sparkSession.sparkContext.getCheckpointDir.isDefined)

  /** Iterate `step` from `init` until `signature` (one action) stops
    * changing. Every state is cut by [[cutForAction]], so the signature
    * action computes the round AND materializes its cut — one action per
    * round. That is not one job per round: under AQE the cut's shuffle
    * stages run as their own jobs when the cut is built, before the
    * signature action. `maxIter` bounds the step rounds; convergence is
    * only OBSERVED by a round whose signature does not move, so one
    * extra confirmation round is allowed (a fixpoint reached exactly at
    * round `maxIter` still counts). Not converging is an error, or a
    * warning on stderr when `requireConvergence` is false: the state is
    * then NOT the fixpoint. */
  private[graft] def converge[T](
      init: DataFrame, strategy: Cascade.Strategy, maxIter: Int, what: String,
      requireConvergence: Boolean = true)(
      step: DataFrame => DataFrame)(signature: DataFrame => T): DataFrame = {
    var state = cutForAction(init, strategy)
    var sig = signature(state)
    var it = 0
    var converged = false
    while (!converged && it <= maxIter) {
      val next = cutForAction(step(state), strategy)
      val nextSig = signature(next)
      converged = nextSig == sig
      state = next
      sig = nextSig
      it += 1
    }
    if (!converged) {
      val msg = s"$what did not converge within maxIter=$maxIter rounds; " +
        "the result is NOT its fixpoint"
      if (requireConvergence) throw new IllegalStateException(msg)
      else System.err.println(s"WARN $msg")
    }
    state
  }
}
