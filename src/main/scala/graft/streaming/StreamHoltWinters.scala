package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming twin of [[graft.operators.EventOps.dailyHoltWinters]]:
  * additive Holt-Winters (level + trend + weekly seasonal) over
  * [[StreamHolt]]'s day→count fold, for the same reason (a late event
  * seven days back shifts every seasonal slot after it). The three
  * recurrence lines keep the batch lambda's operation order (α=0.5,
  * β=γ=0.25, exactly representable), so JVM and codegen doubles agree
  * bit for bit. Calendar-densified like the batch twin: the re-fold
  * runs over every day in the observed span with gaps zero-filled, so
  * sparse series keep their day-of-week phase; nDays is the span.
  */
object StreamHoltWinters {

  case class HwRow(event_type: String, nDays: Long, lastDay: Long,
                   level: Double, trend: Double, seasonNext: Double,
                   forecast: Double)

  val Period = 7

  def smooth(ev: Dataset[StreamHolt.Ev])
            (implicit spark: SparkSession): Dataset[HwRow] = {
    import spark.implicits._
    update.over(ev)(_.event_type)
  }

  private[graft] val update =
    KeyedFold(Map.empty[Long, Long])(StreamHolt.dayCounts) {
      (tpe: String, counts) =>
        val days = (counts.keys.min to counts.keys.max).toVector
        val xs = days.map(d => counts.getOrElse(d, 0L))
        // the batch lambda verbatim: l' = .5(x−s)+.5(l+b);
        // b' = .25(l'−l)+.75b; s' = .25(x−l')+.75s, seasonal queue rotates
        var l = xs.head.toDouble
        var b = 0.0
        var q = Vector.fill(Period)(0.0)
        for (x0 <- xs.tail) {
          val x = x0.toDouble
          val lNew = 0.5 * (x - q(0)) + 0.5 * (l + b)
          val bNew = 0.25 * (lNew - l) + 0.75 * b
          val sNew = 0.25 * (x - lNew) + 0.75 * q(0)
          l = lNew; b = bNew; q = q.tail :+ sNew
        }
        HwRow(tpe, days.size.toLong, days.last, l, b, q(0), l + b + q(0))
    }
}
