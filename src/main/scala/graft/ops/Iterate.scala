package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one driver for loop operators whose round state is a DataFrame
  * (graph peeling and propagation, EM, MM, greedy selection, BPE). It
  * owns the three decisions each such loop makes:
  *
  *  - Pinning ([[Pin]]): whether each round's state is pinned by an
  *    eager `localCheckpoint`, so round k never re-plans rounds
  *    1..k−1, or the rounds stay one lazy plan.
  *  - Release: a superseded pinned state is released by unpersisting
  *    its checkpoint RDD — the `LogicalRDD` at the root of the pinned
  *    frame's plan. `Dataset.unpersist` cannot do it: it only walks the
  *    CacheManager, which never registers a local checkpoint.
  *  - Stopping: after `maxRounds` rounds, at the first round whose
  *    `until(prev, next)` holds, or at the first round whose step
  *    returns its input unchanged (a fixpoint — nothing is pinned).
  *
  * Release invariant, enforced below: the loop releases only frames it
  * pinned itself — round states and [[Round.pin]] scratch — never the
  * caller's `init` and never the state it returns; and it releases
  * round k−1's state and round k's scratch only after round k's state
  * is pinned and round k's `until` has run. A pinned state is
  * self-contained, so nothing a caller still holds reads a released
  * pin; a caller that breaks this fails loudly (checkpoint block not
  * found), never with wrong rows. */
object Iterate {

  sealed trait Pin
  object Pin {
    /** No pins: the rounds stay one lazy plan (few rounds, small frames). */
    case object Never extends Pin
    /** Each round's state is pinned; `init` stays as the caller built it. */
    case object Rounds extends Pin
    /** `init` is pinned too, as round 0's state. */
    case object All extends Pin
  }

  /** What a step sees of its round: the 1-based `index`, and `pin` for
    * scratch frames the step reads more than once. Scratch lives until
    * the round's state is pinned and checked — it must not escape the
    * round. */
  final class Round private[Iterate] (val index: Int) {
    private[Iterate] val scratch = ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint()
      scratch += p
      p
    }
  }

  /** Runs `step` from `init` for at most `maxRounds` rounds and returns
    * the last state (see the object doc for pinning, release and the
    * stop rules). */
  def loop(init: DataFrame, maxRounds: Int, pin: Pin,
           until: (DataFrame, DataFrame) => Boolean = (_, _) => false)
          (step: (Round, DataFrame) => DataFrame): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be >= 0")
    val pins = pin != Pin.Never
    var state = if (pin == Pin.All) init.localCheckpoint() else init
    var owned = pin == Pin.All // `state` is a pin this loop made
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val r = new Round(round)
      val out = step(r, state)
      if (out eq state) done = true
      else {
        val next = if (pins) out.localCheckpoint() else out
        done = until(state, next)
        if (owned) release(state)
        state = next
        owned = pins
      }
      // an unpinned state may still read its round's scratch
      if (pins) r.scratch.foreach(release)
    }
    state
  }

  /** Runs `body` over `input` pinned, then releases that pin — for an
    * input every round of a loop reads. `body` must return a frame that
    * does not read the pin (a pinned loop state never does): checked
    * before the release. */
  def withPinned(input: DataFrame)(body: DataFrame => DataFrame)
      : DataFrame = {
    val p = input.localCheckpoint()
    val out = body(p)
    val id = checkpointRdd(p).id
    require(out.queryExecution.logical
        .collectFirst { case r: LogicalRDD if r.rdd.id == id => r }.isEmpty,
      "withPinned: the result still reads the pinned input")
    release(p)
    out
  }

  private def checkpointRdd(pinned: DataFrame) =
    pinned.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalStateException(
        s"not a pinned frame: plan root is ${p.nodeName}")
    }

  // Spark logs a WARN per call (a local checkpoint cannot be recomputed
  // once unpersisted) — here that is the point: nothing reads it again
  private def release(pinned: DataFrame): Unit =
    checkpointRdd(pinned).unpersist(blocking = false)
}
