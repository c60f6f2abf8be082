package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, lit, timestamp_millis, unix_millis}
import graft.model.{OrderEvent, ReceiptEvent}

/** X4: two-stream pay↔receipt reconciliation with asymmetric waits
  * (reference `TxPayMatch.java:88-156`: a CoProcessFunction where each side
  * parks in keyed state; the other side's arrival emits the matched pair;
  * timers — pay+5 s / receipt+3 s — flush the lonely side to the
  * `unmatchedPays` / `unmatchedReceipts` side outputs).
  *
  * Spark has no two-input keyed operator, so the closest semantic clone is
  * union-of-tagged-events → one [[DeadlineMachine]] per txId — one state
  * machine sees both streams exactly like `processElement1/2`. Side outputs
  * become a `tag` column (matched / unmatched_pay / unmatched_receipt);
  * split downstream with filters (SURVEY.md §2.2 K3).
  *
  * Scale: one shuffle on txId for both streams combined; state holds at
  * most one pay + one receipt per in-flight txId and is cleared on match or
  * timer, so the state store stays bounded by the disorder window.
  *
  * Matching is arrival-driven, like the reference: a parked side matches
  * whenever the other side arrives before the watermark fires its timer —
  * even if the event-time gap exceeds the wait (Flink behaves identically:
  * its bundled fixtures match receipts up to 1072 s before their pays
  * because watermarks lag arrivals on replay). The strict event-time-window
  * variant is the interval join (StreamingJoins/TxPayMatchByJoin).
  */
object TxMatchStream {

  /** Tagged union row: exactly one of pay/receipt fields set per event. */
  final case class TxEvent(
      txId: String,
      side: String, // "pay" | "receipt"
      tsMs: Long,
      orderId: Long,      // pay side
      payChannel: String) // receipt side

  final case class TxState(
      payTs: Option[Long], payOrderId: Option[Long],
      receiptTs: Option[Long], receiptChannel: Option[String])

  final case class TxResult(
      txId: String,
      tag: String, // matched | unmatched_pay | unmatched_receipt
      payTs: Option[Long],
      receiptTs: Option[Long],
      orderId: Option[Long],
      payChannel: Option[String])

  val PayWaitMs = 5000L     // reference: pay waits 5 s for its receipt
  val ReceiptWaitMs = 3000L // reference: receipt waits 3 s for its pay

  def detect(pays: Dataset[OrderEvent], receipts: Dataset[ReceiptEvent],
      payWaitMs: Long = PayWaitMs, receiptWaitMs: Long = ReceiptWaitMs)
      : Dataset[TxResult] = {
    import pays.sparkSession.implicits._
    val tagged = pays
      .select(col("txId"), lit("pay").as("side"),
        unix_millis(col("ts")).as("tsMs"), col("orderId"),
        lit("").as("payChannel"))
      .unionByName(receipts.select(col("txId"), lit("receipt").as("side"),
        unix_millis(col("ts")).as("tsMs"), lit(-1L).as("orderId"),
        col("payChannel")))
    DeadlineMachine.run[String, TxEvent, TxState, TxResult](
      tagged
        .withColumn("ts", timestamp_millis(col("tsMs")))
        .withWatermark("ts", "0 seconds")
        .groupBy(col("txId")).as[String, TxEvent],
      empty = TxState(None, None, None, None),
      order = Ordering.by(e => (e.tsMs, e.side)),
      step = (txId, s, e) => {
        val next =
          if (e.side == "pay")
            s.copy(payTs = Some(e.tsMs), payOrderId = Some(e.orderId))
          else
            s.copy(receiptTs = Some(e.tsMs), receiptChannel = Some(e.payChannel))
        if (next.payTs.isDefined && next.receiptTs.isDefined)
          Left(TxResult(txId, "matched", next.payTs, next.receiptTs,
            next.payOrderId, next.receiptChannel))
        else Right(next)
      },
      // asymmetric lonely-side waits, exactly the reference's two timers
      deadline = s => (s.payTs.map(_ + payWaitMs) ++
        s.receiptTs.map(_ + receiptWaitMs)).minOption,
      expire = (txId, s) =>
        s.payTs.iterator.map(_ =>
          TxResult(txId, "unmatched_pay", s.payTs, None, s.payOrderId, None)) ++
        s.receiptTs.iterator.map(_ =>
          TxResult(txId, "unmatched_receipt", None, s.receiptTs, None,
            s.receiptChannel)))
  }
}
