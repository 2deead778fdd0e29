package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming twin of [[graft.operators.EventOps.dailyEntropy]]: the
  * per-day class-balance audit as a [[KeyedFold]] whose state per day
  * is the type→count map, bounded by the small, fixed set of event
  * types. The arithmetic mirrors the batch operator's term for term:
  * log₂p rounded to 4 dp once (HALF_UP, Spark `round` semantics), each
  * term ×10⁴-scaled to an exact long and summed in integer space, so a
  * day's latest row is bit-identical to the batch operator. Days
  * accumulate in state; this twin keeps `NoTimeout` so the spec can
  * replay without a timestamp column.
  */
object StreamEntropy {

  case class Ev(day: Long, eventType: String)
  case class DayEntropy(day: Long, nEvents: Long, nTypes: Long,
                        entropy4: Long)

  def entropy(ev: Dataset[Ev])(implicit spark: SparkSession): Dataset[DayEntropy] = {
    import spark.implicits._
    update.over(ev)(_.day)
  }

  private[graft] val update = KeyedFold(Map.empty[String, Long])(
      KeyedFold.countBy((e: Ev) => e.eventType) _) { (day: Long, counts) =>
    val n = counts.values.sum
    // term-by-term mirror of the batch column chain:
    // round(p * round(log2(p), 4) * -10000) summed as longs
    val entropy4 = counts.values.map { c =>
      val p = c.toDouble / n.toDouble
      val l4 = BigDecimal(math.log(p) / math.log(2.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      BigDecimal(p * l4 * -10000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
    DayEntropy(day, n, counts.size.toLong, entropy4)
  }
}
