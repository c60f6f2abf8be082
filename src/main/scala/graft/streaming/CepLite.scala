package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, timestamp_millis}

/** C1–C5: CEP-lite — a relaxed-contiguity sequence detector with timeout,
  * generalizing the reference's create→pay pattern
  * (`OrderPayTimeout.java:52-64`: `Pattern.begin("create").followedBy("pay")
  * .within(15 min)` + timeout/select demux via side outputs).
  *
  * The pattern is a list of named predicates over a generic keyed event;
  * the NFA is the per-key state of a [[DeadlineMachine]] (current step +
  * first and last step timestamps) and `within` is its event-time
  * deadline. Matches emit tag="matched" with the step timestamps;
  * expirations emit tag="timeout" with the partial depth — the two
  * PatternSelect/PatternTimeout functions as one tagged stream.
  *
  * The reference itself proves this equivalence by re-implementing the CEP
  * job as a hand state machine (`OrderPayTimeoutWithoutCEP.java:24-27`).
  */
object CepLite {

  final case class KeyedEvent(key: Long, kind: String, tsMs: Long)

  /** Flat on purpose: `detect` reads only the first and last step times,
    * and a collection field would decode through `MapObjects`, whose
    * lambda-variable id grows every micro-batch, so the state's
    * projections would compile anew on each batch.
    */
  final case class CepState(
      step: Int, firstTs: Option[Long], lastTs: Option[Long])

  final case class CepMatch(
      key: Long,
      tag: String, // matched | timeout
      depth: Int,  // steps completed
      firstTs: Option[Long],
      lastTs: Option[Long])

  /** Run a sequence pattern (list of event kinds, relaxed contiguity)
    * with a `withinMs` deadline from the first matched step.
    */
  def detect(events: Dataset[KeyedEvent], pattern: Seq[String], withinMs: Long)
      : Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    DeadlineMachine.run[Long, KeyedEvent, CepState, CepMatch](
      events
        .withColumn("ts", timestamp_millis(col("tsMs")))
        .withWatermark("ts", "0 seconds")
        .groupBy(col("key")).as[Long, KeyedEvent],
      empty = CepState(0, None, None),
      order = Ordering.by(_.tsMs),
      step = (key, s, e) =>
        if (s.step < pattern.length && e.kind == pattern(s.step)) {
          val next = CepState(s.step + 1, s.firstTs.orElse(Some(e.tsMs)),
            Some(e.tsMs))
          if (next.step == pattern.length)
            Left(CepMatch(key, "matched", next.step, next.firstTs, next.lastTs))
          else Right(next)
        } else Right(s), // relaxed contiguity: non-matching kinds are skipped
      // within(…) is anchored at the FIRST matched step, so later steps
      // never extend the deadline
      deadline = s => s.firstTs.map(_ + withinMs),
      expire = (key, s) => Iterator(CepMatch(key, "timeout", s.step,
        s.firstTs, s.lastTs)))
  }
}
