package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming twin of [[graft.operators.EventOps.dailyHolt]]: Holt
  * level+trend smoothing as a [[KeyedFold]].
  *
  * The recurrence is an ORDERED fold over complete day counts, and a
  * late row revises a past day, so the fold cannot be carried forward
  * incrementally. The state is the per-type day→count map instead, and
  * each emission re-folds the sorted series in O(days); it equals the
  * batch twin after any trigger chop, out-of-order days included. The
  * literals (α=0.5, β=0.25 and complements, exactly representable) are
  * spelled in the batch lambda's operation order, so the JVM doubles
  * and the codegen'd SQL fold agree bit for bit.
  */
object StreamHolt {

  case class Ev(event_type: String, tsUs: Long)
  case class HoltRow(event_type: String, nDays: Long, lastDay: Long,
                     level: Double, trend: Double, forecast: Double)

  val DayUs = 86400000000L

  /** The day→count fold of [[StreamHolt]] and [[StreamHoltWinters]]. */
  private[streaming] val dayCounts =
    KeyedFold.countBy((e: Ev) => java.lang.Math.floorDiv(e.tsUs, DayUs)) _

  def smooth(ev: Dataset[Ev])(implicit spark: SparkSession): Dataset[HoltRow] = {
    import spark.implicits._
    update.over(ev)(_.event_type)
  }

  private[graft] val update = KeyedFold(Map.empty[Long, Long])(dayCounts) {
    (tpe: String, counts) =>
      val days = counts.keys.toVector.sorted
      val xs = days.map(counts)
      // the batch lambda verbatim: l' = .5x + .5(l+b); b' = .25(l'−l)+.75b
      var l = xs.head.toDouble
      var b = 0.0
      for (x <- xs.tail) {
        val lNew = 0.5 * x.toDouble + 0.5 * (l + b)
        b = 0.25 * (lNew - l) + 0.75 * b
        l = lNew
      }
      HoltRow(tpe, days.size.toLong, days.last, l, b, l + b)
  }
}
