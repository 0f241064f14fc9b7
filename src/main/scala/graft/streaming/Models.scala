package graft.streaming

/** Typed record models for the streaming operators — the reference's
  * POJO schemas (SURVEY.md §1.2) as case classes with Spark product
  * encoders. `seq` fields (where present) carry arrival order so
  * per-key processing is deterministic within a micro-batch (Flink
  * guarantees per-partition order; Spark's groupByKey does not, so
  * stateful ops sort each key-group by seq).
  */
object Models {

  /** `state/pojo/Transaction.java:5-6` + arrival order. */
  case class Transaction(accountId: Long, amount: Double, seq: Long)

  /** `state/pojo/Alert.java:5`. */
  case class FraudAlert(accountId: Long, triggerSeq: Long)

  /** `state/event/Event.java:10-12` (type is enum a..g as string). */
  case class DfaEvent(sourceAddress: Int, eventType: String, seq: Long)

  /** `state/event/Alert.java:12-16`. */
  case class DfaAlert(sourceAddress: Int, state: String, transition: String)

  /** `topn/pojo/ItemViewCount.java:9-13`; the top-N operator's state
    * element. */
  case class ItemViewCount(itemId: Long, windowEnd: Long, viewCount: Long)

  /** Top-N input: an [[ItemViewCount]] plus the event-time column a
    * stream declares its watermark on (EventTimeTimeout requires the
    * watermarked attribute to survive into the stateful operator's
    * input encoder). */
  case class TimedItemViewCount(itemId: Long, windowEnd: Long,
                                viewCount: Long, eventTime: java.sql.Timestamp)

  case class RankedItem(windowEnd: Long, rank: Int, itemId: Long, viewCount: Long)

  /** `connect/pojo/Order.java:9-24`. */
  case class Order(time: Long, orderId: String, userId: String,
                   goodsId: Int, price: Int, cityId: Int)

  /** `connect/pojo/Goods.java:5-10` + arrival order (`seq` stands in
    * for the changelog's Kafka offset: later records win). */
  case class Goods(goodsId: Int, goodsName: String, isRemove: Boolean,
                   seq: Long)

  /** J4 output: the reference's `Tuple2<Order, String>` flattened;
    * goodsName is None when the key is absent or removed
    * (`connect/BroadcastDimension.java:105-111` emits null). */
  case class EnrichedOrder(orderId: String, time: Long, userId: String,
                           goodsId: Int, price: Int, cityId: Int,
                           goodsName: Option[String])

  /** Two-stream match output: side is "big"/"small"; unmatched rows
    * surface with kind="timeout" and one side null (the reference's
    * side outputs, `DoubleStreamMatch.java:50-53`, as a tag column). */
  case class OrderMatch(orderId: String, kind: String,
                        bigTime: Option[Long], smallTime: Option[Long])

  /** J3 input: the order's side ("big"/"small") plus the event-time
    * column a stream declares its watermark on (the
    * [[TimedItemViewCount]] pattern; a bare `(String, Order)` has no
    * timestamp attribute to watermark). */
  case class TimedTaggedOrder(side: String, order: Order,
                              eventTime: java.sql.Timestamp)

  /** `state/pojo/Action.java:8-9`. */
  case class Action(userId: Long, action: String, seq: Long)

  /** `state/pojo/Pattern.java:8-9`. */
  case class ActionPattern(firstAction: String, secondAction: String)

  case class PatternMatch(userId: Long, firstAction: String, secondAction: String)

  /** Keyed count-window output (A5/W5): aggregate over the last
    * `size` records, emitted every `slide` records per key. */
  case class CountWindowSum(key: String, endSeq: Long, n: Int, total: Long)

  case class KeyedValue(key: String, value: Long, seq: Long)

  /** `windowing/CustomizeEvictorAndTrigger.java:34` car tuple. */
  case class Car(carId: Int, speed: Int, distance: Double, ts: Long)
}
