package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import graft.model.{OrderEvent, OrderResult}

/** X3: the per-order payment-timeout state machine
  * (reference `OrderPayTimeoutWithoutCEP.java:67-152`).
  *
  * Semantics cloned exactly:
  *  - create seen → arm an event-time timer at create_ts + deadline
  *  - pay within deadline → "payed successfully"
  *  - pay after the timer would have fired → "payed but already timeout"
  *  - timer fires with only create → "timeout"
  *  - timer fires with only pay (out-of-order pay-before-create, the
  *    reference's `:90,124-130` branch) → "payed but not found created"
  *
  * Spark-first: a [[DeadlineMachine]] keyed by orderId; its event-time
  * timeout is the reference's `registerEventTimeTimer`, and clearing state
  * on emission replicates its clear-on-emit discipline (state never
  * outlives an order — at 100 TB the state store holds only in-flight
  * orders).
  */
object OrderTimeoutStream {

  final case class OrderMachineState(
      createTs: Option[Long], // epoch ms
      payTs: Option[Long])

  val DefaultDeadlineMs: Long = 15 * 60 * 1000L

  def detect(orders: Dataset[OrderEvent], deadlineMs: Long = DefaultDeadlineMs)
      : Dataset[OrderResult] = {
    import orders.sparkSession.implicits._
    DeadlineMachine.run[Long, OrderEvent, OrderMachineState, OrderResult](
      orders.withWatermark("ts", "0 seconds")
        .groupBy(col("orderId")).as[Long, OrderEvent],
      empty = OrderMachineState(None, None),
      order = Ordering.by(_.ts.getTime),
      step = (orderId, s, e) => {
        val next = e.eventType match {
          case "create" => s.copy(createTs = Some(e.ts.getTime))
          case "pay"    => s.copy(payTs = Some(e.ts.getTime))
          case _        => s
        }
        (next.createTs, next.payTs) match {
          case (Some(c), Some(p)) =>
            Left(OrderResult(orderId,
              if (p <= c + deadlineMs) "payed successfully"
              else "payed but already timeout"))
          case _ => Right(next)
        }
      },
      // create waits the full deadline; a lonely pay waits the same
      // horizon for its create (reference arms payTs + deadline there)
      deadline = s => s.createTs.orElse(s.payTs).map(_ + deadlineMs),
      expire = (orderId, s) => (s.createTs, s.payTs) match {
        case (Some(_), None) => Iterator(OrderResult(orderId, "timeout"))
        case (None, Some(_)) =>
          Iterator(OrderResult(orderId, "payed but not found created"))
        case _ => Iterator.empty // already resolved
      })
  }
}
