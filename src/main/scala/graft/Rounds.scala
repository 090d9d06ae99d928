package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

/** The round loop behind every iterative operator — the reference's
  * `Recursion(plan, round)` / `Iterative` operators (graphOperators.scala:189,
  * unaryOperators.scala:298) unrolled as a driver loop. Each round is
  * checkpointed (the iterative-plan blowup risk of SURVEY §7.3), and the
  * previous round's blocks are released once the new round is materialized;
  * without that, per-round checkpoint blocks stay in the block store for the
  * application lifetime. The number of rounds run goes to the calling
  * thread's [[QueryTrace]] as `rounds`.
  */
private[graft] object Rounds {

  /** When a loop stops before its round cap. */
  sealed trait Stop

  /** Every round runs; each is checkpointed eagerly. */
  case object Never extends Stop

  /** `converged(prev, next)` reads every partition of `next` in one job (a
    * full-scan aggregate or count), so the round is checkpointed lazily and
    * that one job both materializes it and decides. A `limit(1)` test could
    * skip partitions and must use [[After]].
    */
  final case class Scan(converged: (DataFrame, DataFrame) => Boolean) extends Stop

  /** `converged(prev, next)` runs after `next` is checkpointed eagerly. */
  final case class After(converged: (DataFrame, DataFrame) => Boolean) extends Stop

  /** Runs `step(state, i)` for rounds i = 0 until `maxRounds`, or until
    * `stop` says the round just run converged, and returns the last round's
    * checkpoint (`init` itself when no round ran and `pinInit` is off).
    *
    * @param pinInit checkpoint `init` before round 0, for steps that read
    *   their input more than once; that checkpoint is the loop's own and is
    *   released like any round's. The caller's `init` is never released.
    * @param notConverged thrown when `stop` never fired within the cap,
    *   after the last round's blocks are released.
    */
  def run(init: DataFrame, maxRounds: Int, stop: Stop = Never,
      pinInit: Boolean = false, notConverged: Option[() => Exception] = None)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur = init
    var owned = false // whether `cur` is a checkpoint of this loop
    var next: DataFrame = null
    var rounds = 0
    var done = false
    var ok = false
    try {
      if (pinInit) { cur = init.localCheckpoint(true); owned = true }
      while (!done && rounds < maxRounds) {
        next = step(cur, rounds).localCheckpoint(!stop.isInstanceOf[Scan])
        done = stop match {
          case Never => false
          case Scan(converged) => converged(cur, next)
          case After(converged) => converged(cur, next)
        }
        // `next` is materialized, which was the last read of `cur`
        if (owned) GraftSqlBridge.releaseCheckpoint(cur)
        cur = next; owned = true; next = null
        rounds += 1
      }
      if (!done) notConverged.foreach(e => throw e())
      ok = true
      cur
    } finally {
      QueryTrace.record(init.sparkSession, "rounds", rounds)
      if (!ok) {
        if (owned) GraftSqlBridge.releaseCheckpoint(cur)
        if (next != null) GraftSqlBridge.releaseCheckpoint(next)
      }
    }
  }
}
