package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming twin of [[graft.operators.EventOps.burstiness]]'s gap
  * moments: per (type, user), a [[KeyedFold]] whose state is FOUR
  * LONGS (last timestamp, count, two moment sums). Gaps are the batch
  * operator's exact integer minutes (mod-subtract-then-divide, no float
  * division) summed in longs, so a key's latest row is bit-identical to
  * the batch lag-window moments; the moments are order-free sums, so
  * the per-type burstiness rollup over them commutes with streaming.
  *
  * Ordering contract: a key's events must arrive in event-time order
  * ACROSS triggers (within a trigger the fold sorts). A row older than
  * the key's last timestamp is dropped as watermark-late and counted
  * nowhere, as an upstream event-time watermark would have done.
  */
object StreamGaps {

  case class Ev(etype: String, user: Long, us: Long)
  case class GapState(lastUs: Long, n: Long, s1: Long, s2: Long)
  case class KeyMoments(etype: String, user: Long, nGaps: Long,
                        s1: Long, s2: Long)

  private val MinUs = 60000000L

  def moments(ev: Dataset[Ev])(implicit spark: SparkSession): Dataset[KeyMoments] = {
    import spark.implicits._
    update.over(ev)(e => (e.etype, e.user))
  }

  private[graft] val update = KeyedFold(GapState(Long.MinValue, 0L, 0L, 0L))(
    (st0: GapState, rows: Iterator[Ev]) =>
      rows.map(_.us).toArray.sorted.foldLeft(st0) { (st, us) =>
        if (st.lastUs == Long.MinValue) st.copy(lastUs = us)
        else if (us < st.lastUs) st
        else {
          val d = us - st.lastUs
          val gap = (d - d % MinUs) / MinUs
          GapState(us, st.n + 1, st.s1 + gap, st.s2 + gap * gap)
        }
      }) { (key: (String, Long), st) =>
    KeyMoments(key._1, key._2, st.n, st.s1, st.s2)
  }
}
