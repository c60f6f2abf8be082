package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** The keyed-deadline skeleton of the reference's three keyed state
  * machines: the order timeout (X3), the pay↔receipt match (X4) and the
  * CEP create→pay pattern (C1). Each parks per-key state until either the
  * next event resolves it or the watermark passes its deadline — the one
  * rule of "Watermarks in Stream Processing Systems" (VLDB 2021): fire when
  * the watermark passes the deadline.
  *
  * A machine is three functions over its state `S`:
  *  - `step` folds one event in; `Left` emits a result and resets the key
  *    to `empty` (the reference's clear-on-emit, so state never outlives an
  *    in-flight key), `Right` is the next state;
  *  - `deadline` is the event time at which a parked key expires (`None`
  *    for `empty`);
  *  - `expire` turns the parked state into its timeout rows.
  *
  * The GroupState protocol lives here once: `flatMapGroupsWithState` in
  * Append mode with `EventTimeTimeout`, each group's events stepped in
  * `order`, and the timer re-armed at `max(deadline, watermark + 1)` so a
  * deadline already behind the watermark fires at the next batch.
  */
private[streaming] object DeadlineMachine {

  def run[K, E, S: Encoder, O: Encoder](
      grouped: KeyValueGroupedDataset[K, E],
      empty: S,
      order: Ordering[E],
      step: (K, S, E) => Either[O, S],
      deadline: S => Option[Long],
      expire: (K, S) => Iterator[O]): Dataset[O] =
    grouped.flatMapGroupsWithState[S, O](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key, events, state) =>
        if (state.hasTimedOut) {
          val s = state.getOption.getOrElse(empty)
          state.remove()
          expire(key, s)
        } else {
          var s = state.getOption.getOrElse(empty)
          val out = Seq.newBuilder[O]
          events.toSeq.sorted(order).foreach { e =>
            step(key, s, e) match {
              case Left(o) =>
                out += o
                s = empty
                state.remove()
              case Right(next) => s = next
            }
          }
          deadline(s).foreach { d =>
            state.update(s)
            state.setTimeoutTimestamp(
              math.max(d, state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
        }
    }
}
