package graft.streaming

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** A transformWithState processor whose whole state is ONE ValueState
  * per key, with no timer and no TTL — the engine owns the versioned
  * store, so the processor only says how a batch of rows changes the
  * key's state ([[fold]]). The plumbing lives here, once:
  *   - `init` registers the variable as [[stateName]] with
  *     [[stateEncoder]]; the encoder is built there, on the executor,
  *     so the serialized processor carries none;
  *   - `handleInputRows` reads the stored value, or [[zero]] when the
  *     key has none, folds the batch's rows into it, writes the new
  *     state back unless it is `null` (`null` = absent, never stored)
  *     and returns the fold's output rows.
  *
  * A trait over [[StatefulProcessor]], so a processor with an initial
  * state (s43's [[CountBootstrapProcessor]]) mixes it in too and
  * writes its snapshot rows through [[valueState]]. */
trait ValueFold[K, I, S, O] extends StatefulProcessor[K, I, O] {

  /** The state variable's name — what `readState` and the specs address. */
  protected def stateName: String

  protected def stateEncoder: Encoder[S]

  /** The state of a key with nothing stored yet. */
  protected def zero(key: K): S

  /** The key's new state and its output rows after `rows`. */
  protected def fold(key: K, state: S, rows: Iterator[I]): (S, Iterator[O])

  @transient protected var valueState: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    valueState = getHandle.getValueState[S](
      stateName, stateEncoder, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[I],
      timers: TimerValues): Iterator[O] = {
    val (next, out) = fold(key,
      if (valueState.exists()) valueState.get() else zero(key), rows)
    if (next != null) valueState.update(next)
    out
  }
}
