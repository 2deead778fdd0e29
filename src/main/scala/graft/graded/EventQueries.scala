package graft
package graded

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming.EventRates

/** Event-table and streaming graded queries: sessions, funnels,
  * retention, as-of joins, forecasts, anomaly and change-point tests. */
private[graft] object EventQueries {

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("q20_sessionize", (s, dir) => {
      val e = Tables.events(s, dir)
      Sessionize.sessions(e, "user_id", expr("ts DIV 1000000000"),
          col("event_id"), gapSec = 1800)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("sess_start"), col("sess_end"))
    },
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |m AS (SELECT user_id, event_id, ts_sec,
        |  CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
        |    OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
        |    THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, ts_sec,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_sec) AS sess_start, max(ts_sec) AS sess_end
        |FROM s GROUP BY user_id, session_id""".stripMargin),

    GradedQuery("events_seasonal_decompose", (s, dir) => {
      // STL-lite weekly seasonal profile (the classical-decomposition
      // sibling of events_dow_profile, which averages RAW counts —
      // this one removes the trend first, so a ramping counter doesn't
      // masquerade as seasonality): per (type, day) counts → centered
      // 7-day moving TREND (only where the full window exists) →
      // detrended = x − trend → per-(type, day-of-week) mean of the
      // detrended series. Exact integers throughout — detrended is
      // kept ×7 (7x − Σwindow, a long), one rounded ×10⁴ division at
      // the end. ROWS window over OBSERVED days (the dailyHoltWinters
      // gap-free contract, shared with the oracle). Windows partition
      // by type — vocabulary-sized frames, never a global sort.
      import org.apache.spark.sql.expressions.Window
      // ts is long NANOS (Tables.events nanosAsLong); day = exact
      // integer µs // 86400000000, dow anchored +4 (epoch day 0 was a
      // Thursday) — the events_dow_profile convention
      val daily = Tables.events(s, dir)
        .select(col("event_type"),
          expr("(ts DIV 1000) DIV 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      daily
        .withColumn("t7", sum("x").over(w))
        .withColumn("nw", count(lit(1)).over(w))
        .filter(col("nw") === 7)
        .select(col("event_type"),
          pmod(col("day") + 4, lit(7)).as("dow"),
          (col("x") * 7 - col("t7")).as("det7"))
        .groupBy("event_type", "dow").agg(
          count(lit(1)).as("n_days"),
          sum("det7").as("sum_det7"))
        .select(col("event_type"), col("dow"), col("n_days"),
          col("sum_det7"),
          round(lit(10000.0) * col("sum_det7")
            / (lit(7) * col("n_days"))).cast("long").as("seasonal4"))
    },
    // same centered ROWS window over observed days; det7 stays an
    // exact long (7x − Σwindow) until the one rounded division
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |  CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7,
        |  count(*) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
        |  FROM c),
        |d AS (SELECT event_type, (day + 4) % 7 AS dow,
        |  x * 7 - t7 AS det7 FROM w WHERE nw = 7)
        |SELECT event_type, dow, count(*) AS n_days,
        |  CAST(sum(det7) AS BIGINT) AS sum_det7,
        |  CAST(round(10000.0 * sum(det7) / (7 * count(*))) AS BIGINT)
        |    AS seasonal4
        |FROM d GROUP BY 1, 2""".stripMargin),

    GradedQuery("events_markov_stationary", (s, dir) => {
      // steady-state share of each event type under the observed
      // transition matrix, 3 fixed power-iteration rounds (the
      // graph_pagerank dataflow over event_transitions' matrix)
      EventOps.markovStationary(Tables.events(s, dir), "user_id",
        "event_type", expr("ts DIV 1000"), col("event_id"),
        iterations = 3)
    },
    // the pagerank-oracle idiom (x10^12 exact longs per edge, bare
    // 1.0/n matching Spark's lit(1.0)/col) chained for 3 rounds over
    // the lag-derived transition matrix
      """WITH o AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS prev_type FROM events),
        |p AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |rs AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS rs
        |  FROM p GROUP BY 1),
        |nodes AS (SELECT DISTINCT event_type FROM events),
        |nn AS (SELECT count(*) AS n_types FROM nodes),
        |t0 AS (SELECT event_type, 1.0 / n_types AS pi FROM nodes, nn),
        |c1 AS (SELECT next_type, CAST(sum(CAST(round(pi * n / rs
        |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
        |  FROM p JOIN rs USING (prev_type)
        |  JOIN t0 ON t0.event_type = p.prev_type GROUP BY 1),
        |t1 AS (SELECT n.event_type,
        |  coalesce(c.s12, 0) / 1000000000000.0 AS pi
        |  FROM nodes n LEFT JOIN c1 c ON c.next_type = n.event_type),
        |c2 AS (SELECT next_type, CAST(sum(CAST(round(pi * n / rs
        |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
        |  FROM p JOIN rs USING (prev_type)
        |  JOIN t1 ON t1.event_type = p.prev_type GROUP BY 1),
        |t2 AS (SELECT n.event_type,
        |  coalesce(c.s12, 0) / 1000000000000.0 AS pi
        |  FROM nodes n LEFT JOIN c2 c ON c.next_type = n.event_type),
        |c3 AS (SELECT next_type, CAST(sum(CAST(round(pi * n / rs
        |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s12
        |  FROM p JOIN rs USING (prev_type)
        |  JOIN t2 ON t2.event_type = p.prev_type GROUP BY 1),
        |t3 AS (SELECT n.event_type,
        |  coalesce(c.s12, 0) / 1000000000000.0 AS pi
        |  FROM nodes n LEFT JOIN c3 c ON c.next_type = n.event_type)
        |SELECT event_type, pi FROM t3""".stripMargin),

    GradedQuery("stream_event_rates", (s, dir) => {
      EventRates.windowedBatch(Tables.events(s, dir))
    },
      """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS window_epoch, event_type,
        |count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // sketch_stats retired to Sketches.eventProfile in r13 (VERDICT r12
    // item 4): its engine-native HLL/KLL can't be oracle-replayed, its
    // bounds stay spec-asserted in SketchBoundsSpec, and the graded
    // capability lives in sketch_quantiles/hll_distinct/cms_topk/kmv_setops.

    GradedQuery("asof_join", (s, dir) => {
      // point-in-time join: each purchase picks up the latest view by
      // the same user at/before it. ts is raw nanos (Tables.events);
      // DIV 1000 = DuckDB epoch_us exactly (both truncate toward zero
      // and the timestamps are positive — asserted in EventOpsSpec).
      // The view side collapses same-µs ties to max(event_id) so the
      // as-of match is unambiguous in both engines.
      val e = Tables.events(s, dir)
      val l = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("ts_us"))
      val r = e.where(col("event_type") === "view")
        .groupBy(col("user_id"), expr("ts DIV 1000").as("view_ts"))
        .agg(max(col("event_id")).as("view_id"))
      EventOps.asOfJoin(l, r, "user_id", col("ts_us"), col("view_ts"),
          Seq("view_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_ts").as("view_ts"), col("asof_view_id").as("view_id"),
          (col("ts_us") - col("asof_ts")).as("gap_us"))
    },
    // epoch_us(ts) == Spark's `ts DIV 1000` on the raw-nanos read
    // (both truncate ns→µs toward zero; positive ts asserted in
    // EventOpsSpec)
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, epoch_us(ts) AS view_ts,
        |  max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us, r.view_ts, r.view_id,
        |  l.ts_us - r.view_ts AS gap_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.view_ts""".stripMargin),

    GradedQuery("asof_join_fwd", (s, dir) => {
      // time-to-next-purchase after each signup: the forward as-of
      // (earliest at-or-after) via the negated-ts reuse of asOfJoin
      val e = Tables.events(s, dir)
      val l = e.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("ts_us"))
      val r = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr("ts DIV 1000").as("pur_ts"))
        .agg(max(col("event_id")).as("pur_id"))
      EventOps.asOfJoinForward(l, r, "user_id", col("ts_us"), col("pur_ts"),
          Seq("pur_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_ts").as("pur_ts"), col("asof_pur_id").as("pur_id"),
          (col("asof_ts") - col("ts_us")).as("wait_us"))
    },
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'signup'),
        |r AS (SELECT user_id, epoch_us(ts) AS pur_ts,
        |  max(event_id) AS pur_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us, r.pur_ts, r.pur_id,
        |  r.pur_ts - l.ts_us AS wait_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us <= r.pur_ts""".stripMargin),

    GradedQuery("event_funnel", (s, dir) => {
      // signup → view → purchase with a 4-hour conversion window per
      // stage (µs units to stay exact against the ns timestamps)
      EventOps.funnelCounts(Tables.events(s, dir), "user_id", "event_type",
        expr("ts DIV 1000"), Seq("signup", "view", "purchase"),
        maxGap = 14400L * 1000000L)
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'view' AND ts_us >= t1
        |    AND ts_us <= t1 + 14400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_us >= t2
        |    AND ts_us <= t2 + 14400000000 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        |  (SELECT count(*) FROM s2) AS n_view,
        |  (SELECT count(*) FROM s3) AS n_purchase""".stripMargin),

    GradedQuery("events_pivot", (s, dir) => {
      // pivot with an EXPLICIT value list — no distinct-collect pass on
      // the driver, so the plan is a single map-side-combined groupBy
      // at any scale (dynamic pivot would scan once just to learn the
      // columns)
      val types = Seq("click", "view", "purchase", "signup", "error")
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .withColumn("total", types.map(col).reduce(_ + _))
    },
    // total = sum of the five pivoted columns, NOT count(*): the Spark
    // side pivots an explicit value list, so a sixth event type must
    // stay excluded from total in BOTH engines or the oracle drifts
      """SELECT user_id, click, view, purchase, signup, error,
        |  click + view + purchase + signup + error AS total
        |FROM (SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1)""".stripMargin),

    GradedQuery("event_transitions", (s, dir) => {
      // first-order Markov transition matrix over per-user event streams
      // (event_id tiebreak makes lag deterministic under retries)
      EventOps.transitionCounts(Tables.events(s, dir), "user_id",
        "event_type", expr("ts DIV 1000"), col("event_id"))
    },
      """WITH o AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS prev_type FROM events),
        |p AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS share
        |FROM p""".stripMargin),

    GradedQuery("stream_event_sliding", (s, dir) => {
      // overlapping-window rates (10 min sliding by 5): bounded
      // explode-factor-2 batch twin of EventRates.sliding
      EventRates.slidingBatch(Tables.events(s, dir))
    },
      """WITH e AS (SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS s0,
        |  event_type, value FROM events),
        |x AS (SELECT s0 - u.k*300 AS window_epoch, event_type, value
        |  FROM e, LATERAL unnest([0, 1]) u(k))
        |SELECT window_epoch, event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin),

    GradedQuery("events_json_parse", (s, dir) => {
      // semi-structured ingestion: typed extraction from the JSON props
      // column (from_json with an explicit schema — one codegen'd pass,
      // no schema inference scan)
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
    },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY 1""".stripMargin),

    GradedQuery("events_resample", (s, dir) => {
      // time-series gap filling: zero-fill each user's missing days
      // between their first and last event. The grid is a bounded
      // explode (span days per user), the fill a co-partitioned left
      // join — no calendar table shuffle, no driver loop.
      val day = expr("ts DIV 1000 DIV 86400000000")
      val d = Tables.events(s, dir).select(col("user_id"), day.as("day"))
      val counts = d.groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      // bounds from the day-deduplicated counts, not the raw events: a
      // second groupBy over d would shuffle every event again under a
      // different key; this re-aggregates the tiny (user, day) frame
      val grid = counts.groupBy("user_id")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      grid.join(counts, Seq("user_id", "day"), "left").na.fill(0L, Seq("n"))
    },
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, day, count(*) AS n FROM d GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM d GROUP BY 1),
        |g AS (SELECT user_id, u.day FROM b,
        |  LATERAL unnest(generate_series(lo, hi)) u(day))
        |SELECT g.user_id, g.day, CAST(coalesce(n, 0) AS BIGINT) AS n
        |FROM g LEFT JOIN c USING (user_id, day)""".stripMargin),

    GradedQuery("events_retention", (s, dir) => {
      // weekly cohort retention matrix; ns → µs via exact long DIV
      Cohorts.retentionMatrix(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"))
    },
    // retention: absolute week bins by integer µs division; cohort =
    // min week per user; offset-0 rows are the cohort sizes
      """WITH w AS (SELECT DISTINCT user_id AS u,
        |  epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT u, min(week) AS cohort_week FROM w GROUP BY 1),
        |m AS (SELECT cohort_week, week - cohort_week AS week_offset,
        |  count(*) AS n_users FROM w JOIN c USING (u) GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, n_users AS cohort_size FROM m
        |  WHERE week_offset = 0)
        |SELECT m.cohort_week, m.week_offset, m.n_users,
        |  CAST(m.n_users AS DOUBLE) / cohort_size AS retention
        |FROM m JOIN sz USING (cohort_week)""".stripMargin),

    GradedQuery("events_rfm", (s, dir) => {
      // RFM quintile segmentation; boundaries via exact percentile
      // (broadcast), NOT an ntile window over every user
      Cohorts.rfmSegments(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"), col("value"))
    },
    // RFM: exact integer metrics (day bins, counts, cents), quintile
    // boundaries via quantile_cont rounded 4 dp (corpus_stats parity
    // discipline), comparison-based scoring
      """WITH u AS (SELECT user_id,
        |  max(epoch_us(ts)) // 86400000000 AS rec_day, count(*) AS freq,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS mon_c
        |  FROM events GROUP BY 1),
        |b AS (SELECT
        |  round(quantile_cont(rec_day, 0.2), 4) AS r0,
        |  round(quantile_cont(rec_day, 0.4), 4) AS r1,
        |  round(quantile_cont(rec_day, 0.6), 4) AS r2,
        |  round(quantile_cont(rec_day, 0.8), 4) AS r3,
        |  round(quantile_cont(freq, 0.2), 4) AS f0,
        |  round(quantile_cont(freq, 0.4), 4) AS f1,
        |  round(quantile_cont(freq, 0.6), 4) AS f2,
        |  round(quantile_cont(freq, 0.8), 4) AS f3,
        |  round(quantile_cont(mon_c, 0.2), 4) AS m0,
        |  round(quantile_cont(mon_c, 0.4), 4) AS m1,
        |  round(quantile_cont(mon_c, 0.6), 4) AS m2,
        |  round(quantile_cont(mon_c, 0.8), 4) AS m3 FROM u),
        |s AS (SELECT
        |  1 + CASE WHEN rec_day > r0 THEN 1 ELSE 0 END
        |    + CASE WHEN rec_day > r1 THEN 1 ELSE 0 END
        |    + CASE WHEN rec_day > r2 THEN 1 ELSE 0 END
        |    + CASE WHEN rec_day > r3 THEN 1 ELSE 0 END AS r_score,
        |  1 + CASE WHEN freq > f0 THEN 1 ELSE 0 END
        |    + CASE WHEN freq > f1 THEN 1 ELSE 0 END
        |    + CASE WHEN freq > f2 THEN 1 ELSE 0 END
        |    + CASE WHEN freq > f3 THEN 1 ELSE 0 END AS f_score,
        |  1 + CASE WHEN mon_c > m0 THEN 1 ELSE 0 END
        |    + CASE WHEN mon_c > m1 THEN 1 ELSE 0 END
        |    + CASE WHEN mon_c > m2 THEN 1 ELSE 0 END
        |    + CASE WHEN mon_c > m3 THEN 1 ELSE 0 END AS m_score
        |  FROM u, b)
        |SELECT r_score, f_score, m_score, count(*) AS n_users
        |FROM s GROUP BY 1, 2, 3""".stripMargin),

    GradedQuery("event_anomalies", (s, dir) => {
      // z-score daily spike/drop detection per event type
      EventOps.dailyAnomalies(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), zThresh = 2.0)
    },
    // z-score anomaly days: mean/stddev rounded 4 dp once (stats_agg
    // parity discipline), flag compares the already-rounded doubles
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, round(avg(n), 4) AS mean,
        |  round(stddev_samp(n), 4) AS std FROM c GROUP BY 1)
        |SELECT c.event_type, c.day, c.n, p.mean, p.std
        |FROM c JOIN p USING (event_type)
        |WHERE std IS NOT NULL AND abs(n - mean) > 2.0 * std""".stripMargin),

    GradedQuery("events_mad", (s, dir) => {
      // robust median/MAD anomaly twin of event_anomalies (a monster
      // spike can't mask itself by inflating the scale estimate)
      EventOps.dailyAnomaliesMad(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), k = 2.0)
    },
    // robust twin of event_anomalies: same (type, day) frame, median/
    // MAD profile, identical literal sequence in the flag comparison
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, round(quantile_cont(n, 0.5), 4) AS med
        |  FROM c GROUP BY 1),
        |dv AS (SELECT c.event_type, day, n, med, abs(n - med) AS adev
        |  FROM c JOIN m USING (event_type)),
        |md AS (SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
        |  FROM dv GROUP BY 1)
        |SELECT dv.event_type, day, n, med, mad
        |FROM dv JOIN md USING (event_type)
        |WHERE mad > 0 AND adev > 2.0 * 1.4826 * mad""".stripMargin),

    GradedQuery("events_changepoint", (s, dir) => {
      // binary segmentation's first split per event type: the day where
      // the cumulative count most departs from the uniform-rate line —
      // |D·S_k − k·S_D| is exact-integer end to end
      EventOps.changepoint(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    },
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day, n,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) AS BIGINT) AS k,
        |  sum(n) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS sk,
        |  count(*) OVER (PARTITION BY event_type) AS d,
        |  sum(n) OVER (PARTITION BY event_type) AS sd
        |  FROM c),
        |i AS (SELECT event_type, day,
        |  abs(d*sk - k*sd) AS score FROM s WHERE k < d),
        |r AS (SELECT event_type, day, score,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY score DESC, day) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS ni FROM i)
        |SELECT event_type, CAST(ni + 1 AS BIGINT) AS n_days,
        |  day AS split_day, CAST(score AS BIGINT) AS score
        |FROM r WHERE rn = 1""".stripMargin),

    GradedQuery("events_assoc_rules", (s, dir) => {
      // market-basket association between event types at user
      // granularity (support + lift): per-user distinct type sets are
      // vocabulary-bounded, so the self-join expansion is |types|² per
      // user, not events²; type totals and the user count broadcast;
      // lift UNROUNDED (one division of exact integer products)
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val nUsers = broadcast(ut.agg(
        countDistinct("user_id").as("n_users")))
      val tc = ut.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val pairs = ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(tc.select(col("event_type").as("type_a"),
          col("n_t").as("n_a"))), "type_a")
        .join(broadcast(tc.select(col("event_type").as("type_b"),
          col("n_t").as("n_b"))), "type_b")
        .crossJoin(nUsers)
        .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
          col("n_b"),
          (col("n_ab").cast("double") * col("n_users")
            / (col("n_a") * col("n_b"))).as("lift"))
    },
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
        |tc AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_ab
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab, ta.n_t AS n_a, tb.n_t AS n_b,
        |  CAST(n_ab AS DOUBLE) * n_users / (ta.n_t * tb.n_t) AS lift
        |FROM p JOIN tc ta ON ta.event_type = type_a
        |JOIN tc tb ON tb.event_type = type_b, n""".stripMargin),

    GradedQuery("events_ewma", (s, dir) => {
      // exponential smoothing of daily counts (ordered fold — the
      // inherently sequential recurrence run per vocabulary-sized key)
      EventOps.dailyEwma(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.3)
    },
    // identical fold: list(…ORDER BY day) + list_reduce with the same
    // lambda literals -> bit-identical unrounded double
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n_days, max(day) AS last_day,
        |  list(CAST(n AS DOUBLE) ORDER BY day) AS ser FROM c GROUP BY 1)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, last_day,
        |  list_reduce(ser, (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
        |FROM s""".stripMargin),

    GradedQuery("events_holt", (s, dir) => {
      // Holt level+trend double smoothing with 1-step forecast; α and β
      // chosen exactly representable (0.5, 0.25) so both engines parse
      // identical lambda literals
      EventOps.dailyHolt(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.5, beta = 0.25)
    },
    // elements wrapped as [x, 0.0] pairs so list_reduce's first
    // accumulator IS the Spark fold's seed [x0, 0]; the l_t expression
    // is duplicated inside the trend term exactly as the Spark lambda
    // duplicates it (no let-binding in SQL lambdas)
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n_days, max(day) AS last_day,
        |  list([CAST(n AS DOUBLE), 0.0] ORDER BY day) AS ser
        |  FROM c GROUP BY 1),
        |h AS (SELECT event_type, n_days, last_day,
        |  list_reduce(ser, (acc, x) ->
        |    [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
        |     0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
        |       + 0.75 * acc[2]]) AS hw
        |  FROM s)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, last_day,
        |  hw[1] AS level, hw[2] AS trend, hw[1] + hw[2] AS forecast
        |FROM h""".stripMargin),

    GradedQuery("events_holt_backtest", (s, dir) => {
      // walk-forward 1-step-ahead MAE of the Holt smoother — the
      // out-of-sample eval loop (error banked BEFORE the state update);
      // error x1e4 accumulates as integer-valued doubles inside the
      // fold so the sum is order-free
      EventOps.holtBacktest(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.5, beta = 0.25)
    },
    // the Holt fold with a third accumulator slot banking the
    // x1e4-rounded absolute error BEFORE the state update
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n_days, max(day) AS last_day,
        |  list([CAST(n AS DOUBLE), 0.0, 0.0] ORDER BY day) AS ser
        |  FROM c GROUP BY 1),
        |h AS (SELECT event_type, n_days,
        |  list_reduce(ser, (acc, x) ->
        |    [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
        |     0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2]))
        |       - acc[1]) + 0.75 * acc[2],
        |     acc[3] + round(abs(x[1] - (acc[1] + acc[2])) * 10000)])
        |    AS bt
        |  FROM s)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_days - 1 AS BIGINT) AS n_evals,
        |  CAST(bt[3] AS BIGINT) AS sum_abs_err4,
        |  CASE WHEN n_days > 1
        |    THEN CAST(round(bt[3] / (n_days - 1)) AS BIGINT)
        |    ELSE 0 END AS mae4
        |FROM h""".stripMargin),

    GradedQuery("events_mase_baseline", (s, dir) => {
      // seasonal-naive vs naive MAE over the densified daily series —
      // the MASE yardstick the smoothing family's backtests read
      // against; ratio4 < 10000 says the weekly cycle beats plain
      // persistence (EventOps.seasonalNaiveBaseline)
      EventOps.seasonalNaiveBaseline(Tables.events(s, dir),
        "event_type", expr("ts DIV 1000"))
    },
    // the HW oracle's densify CTEs + lag self-joins on day offsets
    // (equivalent to the Spark fold's index arithmetic because the
    // dense frame is calendar-contiguous by construction)
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM c GROUP BY 1),
        |cal AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
        |  FROM bounds),
        |dense AS (SELECT cal.event_type, cal.day, coalesce(c.n, 0) AS n
        |  FROM cal LEFT JOIN c
        |  ON c.event_type = cal.event_type AND c.day = cal.day),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM dense GROUP BY 1),
        |l7 AS (SELECT a.event_type,
        |  CAST(sum(abs(a.n - b.n)) AS BIGINT) AS s7 FROM dense a
        |  JOIN dense b ON b.event_type = a.event_type
        |    AND b.day = a.day - 7 GROUP BY 1),
        |l1 AS (SELECT a.event_type,
        |  CAST(sum(abs(a.n - b.n)) AS BIGINT) AS s1 FROM dense a
        |  JOIN dense b ON b.event_type = a.event_type
        |    AND b.day = a.day - 1 GROUP BY 1)
        |SELECT nd.event_type, n_days,
        |  CASE WHEN n_days > 7 THEN s7 END AS sum_abs7,
        |  CASE WHEN n_days > 7 THEN
        |    CAST(round(10000.0 * s7 / (n_days - 7)) AS BIGINT)
        |  END AS mae7_4,
        |  CASE WHEN n_days > 1 THEN s1 END AS sum_abs1,
        |  CASE WHEN n_days > 1 THEN
        |    CAST(round(10000.0 * s1 / (n_days - 1)) AS BIGINT)
        |  END AS mae1_4,
        |  CASE WHEN n_days > 7 AND s1 > 0 THEN
        |    CAST(round(10000.0 * s7 * (n_days - 1)
        |      / ((n_days - 7) * s1)) AS BIGINT)
        |  END AS ratio4
        |FROM nd LEFT JOIN l7 ON l7.event_type = nd.event_type
        |LEFT JOIN l1 ON l1.event_type = nd.event_type""".stripMargin),

    GradedQuery("events_holt_winters", (s, dir) => {
      // additive Holt-Winters with weekly seasonality — the seasonal
      // member of the ewma/holt forecaster family; α, β, γ exactly
      // representable so both engines parse identical lambda literals,
      // the 9-slot state array rotates the day-of-week seasonal queue
      EventOps.dailyHoltWinters(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.5, beta = 0.25, gamma = 0.25,
        period = 7)
    },
    // the Holt-Winters 9-slot state fold: elements wrapped as
    // [x, 0×8] so list_reduce's first accumulator IS the Spark seed;
    // the l_t text is duplicated into the trend AND seasonal slots
    // exactly as the Spark lambda duplicates it. CALENDAR-DENSIFIED
    // like the Spark fold (r13): generate_series over the observed
    // span, zero-filling gap days, so both engines rotate the
    // seasonal queue once per CALENDAR day
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM c GROUP BY 1),
        |cal AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
        |  FROM bounds),
        |dense AS (SELECT cal.event_type, cal.day, coalesce(c.n, 0) AS n
        |  FROM cal LEFT JOIN c
        |  ON c.event_type = cal.event_type AND c.day = cal.day),
        |s AS (SELECT event_type, count(*) AS n_days, max(day) AS last_day,
        |  list([CAST(n AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
        |    0.0] ORDER BY day) AS ser
        |  FROM dense GROUP BY 1),
        |h AS (SELECT event_type, n_days, last_day,
        |  list_reduce(ser, (acc, x) ->
        |    [0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
        |     0.25 * ((0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]))
        |       - acc[1]) + 0.75 * acc[2],
        |     acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
        |     0.25 * (x[1] - (0.5 * (x[1] - acc[3])
        |       + 0.5 * (acc[1] + acc[2]))) + 0.75 * acc[3]]) AS hw
        |  FROM s)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, last_day,
        |  hw[1] AS level, hw[2] AS trend, hw[3] AS season_next,
        |  hw[1] + hw[2] + hw[3] AS forecast
        |FROM h""".stripMargin),

    GradedQuery("events_top_paths", (s, dir) => {
      // most-common opening event paths (first 3 events per user in
      // (ts, event_id) total order — the funnel-discovery audit):
      // per-user prefix via window, path assembly via array_sort (the
      // collect_list order is NOT deterministic; the sort is what makes
      // retries agree), counts over the type³-bounded path domain
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val firstN = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("ts_us"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      val paths = firstN.groupBy("user_id")
        .agg(concat_ws(">", transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          s0 => s0.getField("event_type"))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
      TopK.ranked(paths, 10, col("n_users").desc, col("path").asc)
        .select("rank", "path", "n_users")
    },
      """WITH o AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS rn FROM events),
        |p AS (SELECT user_id,
        |  string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM o WHERE rn <= 3 GROUP BY 1),
        |c AS (SELECT path, count(*) AS n_users FROM p GROUP BY 1)
        |SELECT rank, path, n_users FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY n_users DESC, path)
        |    AS BIGINT) AS rank, path, n_users FROM c)
        |WHERE rank <= 10""".stripMargin),

    GradedQuery("events_wow", (s, dir) => {
      // week-over-week growth per event type: weekly partial-agg counts,
      // lag over the vocabulary-sized (type, week) frame; growth ratio
      // UNROUNDED (one division of exact ints)
      val week = expr("ts DIV 1000 DIV 604800000000")
      val wk = Tables.events(s, dir)
        .groupBy(col("event_type"), week.as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("week")
      wk.withColumn("prev_n", lag("n", 1).over(w))
        .filter(col("prev_n").isNotNull)
        .select(col("event_type"), col("week"), col("n"), col("prev_n"),
          ((col("n") - col("prev_n")) / col("prev_n")).as("wow"))
    },
      """WITH wk AS (SELECT event_type,
        |  epoch_us(ts) // 604800000000 AS week, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, week, n,
        |  lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
        |  FROM wk)
        |SELECT event_type, week, n, prev_n,
        |  (n - prev_n) / prev_n AS wow
        |FROM l WHERE prev_n IS NOT NULL""".stripMargin),

    GradedQuery("events_dispersion", (s, dir) => {
      // daily-count dispersion index per event type (variance/mean —
      // the overdispersion screen that decides Poisson vs negative-
      // binomial monitoring thresholds; D ≈ 1 Poisson, D >> 1 bursty):
      // one partial-agg shuffle to the vocabulary-sized (type, day)
      // frame, then D = (n·Σx² − (Σx)²) / ((n−1)·Σx) as a ratio of
      // exact integer moments with ONE rounded ×10⁴ division;
      // single-day types carry no variance and are filtered.
      val dayUs = 86400000000L
      val ts = expr("ts DIV 1000").cast("long")
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          ((ts - pmod(ts, lit(dayUs))) / dayUs).cast("long").as("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("n_days") > 1)
        .select(col("event_type"), col("n_days"), col("sx"),
          round(lit(10000.0) *
            (col("n_days") * col("sxx") - col("sx") * col("sx")) /
            ((col("n_days") - 1) * col("sx"))).cast("long")
            .as("dispersion4"))
    },
    // integer moment ratio; single-day types filtered (no variance)
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n_days,
        |  CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(x * x) AS BIGINT) AS sxx FROM c GROUP BY 1)
        |SELECT event_type, n_days, sx,
        |  CAST(round(10000.0 * (n_days * sxx - sx * sx)
        |    / ((n_days - 1) * sx)) AS BIGINT) AS dispersion4
        |FROM m WHERE n_days > 1""".stripMargin),

    GradedQuery("events_cusum", (s, dir) => {
      // one-sided CUSUM drift track per event type (Page 1954) via the
      // cumsum-minus-running-min prefix identity — catches sustained
      // small shifts the per-day z-score test cannot
      EventOps.cusumTrack(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    },
    // CUSUM via the prefix identity S = C − min(0, running-min C);
    // z rounds ×10⁴ once on the 4-dp-rounded profile (dailyAnomalies
    // discipline), the track is exact integers end to end
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, round(avg(n), 4) AS mean,
        |  round(stddev_samp(n), 4) AS std FROM c GROUP BY 1),
        |z AS (SELECT c.event_type, day, n,
        |  CAST(round((n - mean) / std * 10000) AS BIGINT) - 5000 AS y4
        |  FROM c JOIN p USING (event_type)
        |  WHERE std IS NOT NULL AND std > 0),
        |t AS (SELECT event_type, day, n,
        |  CAST(sum(y4) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c4 FROM z),
        |s AS (SELECT event_type, day, n, c4,
        |  c4 - least(CAST(0 AS BIGINT), min(c4) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)) AS s4 FROM t)
        |SELECT event_type, day, n, c4, s4,
        |  CASE WHEN s4 > 40000 THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS alarm
        |FROM s""".stripMargin),

    GradedQuery("events_entropy", (s, dir) => {
      // per-day Shannon entropy of the event-type mix — the class-
      // balance audit; su4 discipline on the log terms
      EventOps.dailyEntropy(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    },
    // per-day entropy: log2 rounded 4 dp ONCE, term ×10⁴-scaled to
    // an exact BIGINT before the order-free per-day sum (su4); the
    // scale literal is e-notation (bare decimals are DECIMAL here)
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |tt AS (SELECT day, CAST(sum(n) AS BIGINT) AS n_events,
        |  count(*) AS n_types FROM c GROUP BY 1),
        |j AS (SELECT c.day, n, n_events, n_types,
        |  CAST(n AS DOUBLE) / CAST(n_events AS DOUBLE) AS p
        |  FROM c JOIN tt USING (day)),
        |t AS (SELECT day, n_events, n_types,
        |  CAST(round(p * round(log2(p), 4) * (-1e4)) AS BIGINT) AS t4
        |  FROM j)
        |SELECT day, max(n_events) AS n_events,
        |  max(n_types) AS n_types,
        |  CAST(sum(t4) AS BIGINT) AS entropy4
        |FROM t GROUP BY day""".stripMargin),

    GradedQuery("events_new_vs_returning", (s, dir) => {
      // daily growth accounting: active users split into NEW (first-
      // ever day) vs RETURNING — the DAU decomposition next to
      // events_retention's cohort matrix; the (user, day) distinct
      // frame feeds a user-sized first-seen agg and joins back
      // co-keyed, then a calendar-bounded rollup
      val tsUs = expr("ts DIV 1000").cast("long")
      val day = ((tsUs - pmod(tsUs, lit(86400000000L))) /
        86400000000L).cast("long")
      val ud = Tables.events(s, dir)
        .select(col("user_id"), day.as("day")).distinct()
      val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
      ud.join(first, "user_id")
        .groupBy("day").agg(
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("day") > col("first_day"), 1L).otherwise(0L))
            .as("n_returning"))
    },
    // dow profile: (epoch_day + 4) % 7, idx as the single unrounded
    // IEEE division of exact ints
      """WITH ud AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud
        |  GROUP BY 1)
        |SELECT day,
        |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returning
        |FROM ud JOIN f USING (user_id) GROUP BY 1""".stripMargin),

    GradedQuery("events_hour_profile", (s, dir) => {
      // hour-of-day load profile per type — the intraday twin of the
      // dow profile; |types|×24 bounded frame, one unrounded division
      EventOps.hourProfile(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    },
      """WITH c AS (SELECT event_type,
        |  (epoch_us(ts) // 3600000000) % 24 AS hour,
        |  count(*) AS n FROM events GROUP BY 1, 2),
        |tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
        |  FROM c GROUP BY 1)
        |SELECT c.event_type, hour, n,
        |  CAST(n * 24 AS DOUBLE) / CAST(total AS DOUBLE) AS idx
        |FROM c JOIN tt USING (event_type)""".stripMargin),

    GradedQuery("events_dow_profile", (s, dir) => {
      // day-of-week seasonal index per event type; idx = n_dow*7/total
      // ships as ONE unrounded division of exact ints
      EventOps.dowProfile(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    },
      """WITH c AS (SELECT event_type,
        |  ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
        |  count(*) AS n FROM events GROUP BY 1, 2),
        |tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
        |  FROM c GROUP BY 1)
        |SELECT c.event_type, dow, n,
        |  CAST(n * 7 AS DOUBLE) / CAST(total AS DOUBLE) AS idx
        |FROM c JOIN tt USING (event_type)""".stripMargin),

    GradedQuery("events_calendar_heatmap", (s, dir) => {
      // dow×hour weekly load grid per type — the two profile axes
      // composed onto 168 cells (cron jobs read as single-cell spikes
      // the marginals can't show); |types|×168 bounded frame, one
      // unrounded division (EventOps.calendarProfile)
      EventOps.calendarProfile(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    },
    // the rank-sum identity over the ascending-c histogram: with P =
    // users before the group, 2·Σ i·x_(i) = Σ c·m·(2P + m + 1) —
    // integer-exact, one double division at the end
    // the dow and hour derivations of the two profile oracles,
    // composed; idx = n·168/total as the same unrounded division
      """WITH c AS (SELECT event_type,
        |  ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hour,
        |  count(*) AS n FROM events GROUP BY 1, 2, 3),
        |tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
        |  FROM c GROUP BY 1)
        |SELECT c.event_type, dow, hour, n,
        |  CAST(n * 168 AS DOUBLE) / CAST(total AS DOUBLE) AS idx
        |FROM c JOIN tt USING (event_type)""".stripMargin),

    GradedQuery("events_pareto_share", (s, dir) => {
      // top-decile concentration per type ("the top 10% of users
      // produce X% of events") via the userGini value-histogram
      // rank-sum — the only window runs over activity LEVELS, never
      // users; exact under count ties (EventOps.paretoShare)
      EventOps.paretoShare(Tables.events(s, dir), "user_id",
        "event_type")
    },
    // the gini histogram CTEs ordered count-DESC with a running user
    // prefix; the crossing level contributes (k − prefix_below)·c
      """WITH u AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT event_type, c, count(*) AS m FROM u
        |  GROUP BY 1, 2),
        |w AS (SELECT event_type, c, m,
        |  sum(m) OVER (PARTITION BY event_type ORDER BY c DESC
        |    ROWS UNBOUNDED PRECEDING) AS wu,
        |  sum(c*m) OVER (PARTITION BY event_type ORDER BY c DESC
        |    ROWS UNBOUNDED PRECEDING) AS ws FROM h),
        |tt AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n_users,
        |  CAST(sum(c*m) AS BIGINT) AS n_events FROM w GROUP BY 1),
        |x AS (SELECT w.event_type, n_users, n_events,
        |  (n_users + 9) // 10 AS k,
        |  ws - c*m + ((n_users + 9) // 10 - (wu - m)) * c AS top_events
        |  FROM w JOIN tt USING (event_type)
        |  WHERE wu >= (n_users + 9) // 10
        |    AND wu - m < (n_users + 9) // 10)
        |SELECT event_type, n_users, n_events,
        |  CAST(k AS BIGINT) AS k_top,
        |  CAST(top_events AS BIGINT) AS top_events,
        |  CAST(round(10000.0 * top_events / n_events) AS BIGINT)
        |    AS share4
        |FROM x""".stripMargin),

    GradedQuery("events_streak_census", (s, dir) => {
      // longest consecutive-active-day streak per user, rolled to a
      // (streak_len, n_users) census — gaps-and-islands with windows
      // partitioned BY USER (EventOps.streakCensus)
      EventOps.streakCensus(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"))
    },
    // gaps-and-islands: island id = day − row_number per user
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (SELECT u, day - row_number()
        |  OVER (PARTITION BY u ORDER BY day) AS island FROM ud),
        |r AS (SELECT u, island, count(*) AS len FROM i GROUP BY 1, 2),
        |mx AS (SELECT u, max(len) AS streak_len FROM r GROUP BY 1)
        |SELECT streak_len, count(*) AS n_users FROM mx
        |GROUP BY 1""".stripMargin),

    GradedQuery("events_autocorr", (s, dir) => {
      // lag-1..7 autocorrelation of the per-type daily series — the
      // audit that justifies (or debunks) the weekly seasonal queue
      // in events_holt_winters; CALENDAR-DENSIFIED (r14) so gap days
      // correlate as true zeros and lag-7 pairs stay on-weekday;
      // bounded daily frame, lag explode + co-keyed self-join,
      // |types|×7 output (EventOps.dailyAutocorr)
      EventOps.dailyAutocorr(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    },
    // moments exact BIGINT; variance terms sqrt'd separately (the
    // assortativity overflow rule); pairs require both days observed
    // CALENDAR-DENSIFIED (r14): the HW oracle's densify CTEs feed the
    // lag pairs, so gap days enter as true zeros on both engines
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM c GROUP BY 1),
        |cal AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
        |  FROM bounds),
        |dense AS (SELECT cal.event_type, cal.day, coalesce(c.n, 0) AS n
        |  FROM cal LEFT JOIN c
        |  ON c.event_type = cal.event_type AND c.day = cal.day),
        |l AS (SELECT event_type, day - k.lag AS day,
        |  CAST(k.lag AS BIGINT) AS lag, n AS x
        |  FROM dense, range(1, 8) AS k(lag)),
        |j AS (SELECT l.event_type, l.lag, l.x, dense.n AS y
        |  FROM l JOIN dense ON dense.event_type = l.event_type
        |    AND dense.day = l.day),
        |m AS (SELECT event_type, lag, count(*) AS np,
        |  sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
        |  sum(y*y) AS syy, sum(x*y) AS sxy FROM j GROUP BY 1, 2)
        |SELECT event_type, lag, np AS n_pairs,
        |  CASE WHEN np*sxx - sx*sx > 0 AND np*syy - sy*sy > 0 THEN
        |    CAST(round(10000.0 * (np*sxy - sx*sy) /
        |      (sqrt(CAST(np*sxx - sx*sx AS DOUBLE)) *
        |       sqrt(CAST(np*syy - sy*sy AS DOUBLE)))) AS BIGINT)
        |  END AS r4
        |FROM m""".stripMargin),

    GradedQuery("events_mase", (s, dir) => {
      // the composed forecast skill score (VERDICT r13 item 4): MASE =
      // Holt walk-forward MAE / seasonal-naive lag-7 MAE, both parents'
      // folds over ONE densified daily series in one pass — MASE < 1
      // says the smoother earns its keep vs "same day last week"
      // (EventOps.holtMase)
      EventOps.holtMase(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"), alpha = 0.5, beta = 0.25)
    },
    // the composed skill score: densify CTEs + the holt_backtest
    // list_reduce fold over the DENSE series + the lag-7 self-join;
    // mase4 is the exact-product division (×10⁴ scales cancel)
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM c GROUP BY 1),
        |cal AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
        |  FROM bounds),
        |dense AS (SELECT cal.event_type, cal.day, coalesce(c.n, 0) AS n
        |  FROM cal LEFT JOIN c
        |  ON c.event_type = cal.event_type AND c.day = cal.day),
        |s AS (SELECT event_type, count(*) AS nd,
        |  list([CAST(n AS DOUBLE), 0.0, 0.0] ORDER BY day) AS ser
        |  FROM dense GROUP BY 1),
        |h AS (SELECT event_type, nd,
        |  list_reduce(ser, (acc, x) ->
        |    [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
        |     0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2]))
        |       - acc[1]) + 0.75 * acc[2],
        |     acc[3] + round(abs(x[1] - (acc[1] + acc[2])) * 10000)])
        |    AS bt
        |  FROM s),
        |l7 AS (SELECT a.event_type,
        |  CAST(sum(abs(a.n - b.n)) AS BIGINT) AS s7 FROM dense a
        |  JOIN dense b ON b.event_type = a.event_type
        |    AND b.day = a.day - 7 GROUP BY 1)
        |SELECT h.event_type, CAST(nd AS BIGINT) AS n_days,
        |  CAST(nd - 1 AS BIGINT) AS n_evals,
        |  CAST(bt[3] AS BIGINT) AS holt_sum_abs_err4,
        |  CASE WHEN nd > 1
        |    THEN CAST(round(bt[3] / (nd - 1)) AS BIGINT)
        |    ELSE 0 END AS holt_mae4,
        |  CASE WHEN nd > 7 THEN s7 END AS naive7_sum_abs,
        |  CASE WHEN nd > 7 THEN
        |    CAST(round(10000.0 * s7 / (nd - 7)) AS BIGINT)
        |  END AS naive7_mae4,
        |  CASE WHEN nd > 7 AND s7 > 0 THEN
        |    CAST(round(bt[3] * (nd - 7) / ((nd - 1) * s7)) AS BIGINT)
        |  END AS mase4
        |FROM h LEFT JOIN l7 ON l7.event_type = h.event_type""".stripMargin),

    GradedQuery("events_user_gini", (s, dir) => {
      // per-type Gini concentration of user activity (whale/bot
      // audit) via the value-histogram rank-sum identity — integer-
      // exact, and the only window runs over the distinct-count-value
      // histogram, never a per-user ranking (EventOps.userGini)
      EventOps.userGini(Tables.events(s, dir), "user_id", "event_type")
    },
      """WITH u AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT event_type, c, count(*) AS m FROM u
        |  GROUP BY 1, 2),
        |w AS (SELECT event_type, c, m,
        |  sum(m) OVER (PARTITION BY event_type ORDER BY c
        |    ROWS UNBOUNDED PRECEDING) - m AS p FROM h),
        |a AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n,
        |  CAST(sum(c*m) AS BIGINT) AS s,
        |  CAST(sum(c*m*(2*p + m + 1)) AS BIGINT) AS s2
        |  FROM w GROUP BY 1)
        |SELECT event_type, n AS n_users, s AS n_events,
        |  CAST(round(10000.0 * (s2 - (n+1)*s) / (n*s)) AS BIGINT)
        |    AS gini4
        |FROM a""".stripMargin),

    GradedQuery("events_ab_test", (s, dir) => {
      // two-proportion z-test over the md5-parity user split,
      // conversion = ≥1 purchase; unrounded z via a pinned SE chain
      EventOps.abTestConversion(Tables.events(s, dir), "user_id",
        "event_type", "purchase")
    },
    // two-proportion z: md5-parity arms, the SE chain mirrored in
    // the exact Spark operation order (1e0 literals — the DECIMAL
    // trap), significance vs CAST(1.96 AS DOUBLE)
      """WITH u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS conv FROM events GROUP BY 1),
        |a AS (SELECT user_id, conv,
        |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6)
        |    AS BIGINT) % 2 AS arm FROM u),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS k_a,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS k_b
        |  FROM a),
        |z AS (SELECT n_a, k_a, n_b, k_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR k_a + k_b = 0
        |      OR k_a + k_b = n_a + n_b THEN NULL
        |  ELSE
        |  (CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |  / sqrt(CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |    * (1e0 - CAST(k_a + k_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |    * (1e0 / CAST(n_a AS DOUBLE) + 1e0 / CAST(n_b AS DOUBLE)))
        |  END AS z FROM s)
        |SELECT n_a, k_a, n_b, k_b, z,
        |  CASE WHEN abs(z) > CAST(1.96 AS DOUBLE) THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS significant
        |FROM z""".stripMargin),

    GradedQuery("events_lifetable", (s, dir) => {
      // actuarial life table over user lifetimes: last-day-at-cutoff
      // = right-censored, discrete hazard ×10⁸ per duration; the KM
      // frame without the one non-order-free float product
      // (EventOps.lifeTable)
      EventOps.lifeTable(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"))
    },
    // life table: day = epoch_us // 86400000000 (the shared daily
    // idiom), censoring at the global max day, at-risk via the
    // bounded tail self-join — counts exact, one rounded division
      """WITH ud AS (SELECT user_id,
        |  min(epoch_us(ts) // 86400000000) AS fd,
        |  max(epoch_us(ts) // 86400000000) AS ld
        |  FROM events GROUP BY 1),
        |co AS (SELECT max(epoch_us(ts) // 86400000000) AS cutoff
        |  FROM events),
        |d AS (SELECT ld - fd AS t,
        |  CASE WHEN ld = cutoff THEN 1 ELSE 0 END AS cen
        |  FROM ud, co),
        |bt AS (SELECT t, CAST(sum(1 - cen) AS BIGINT) AS n_churn,
        |  CAST(sum(cen) AS BIGINT) AS n_censored FROM d GROUP BY 1)
        |SELECT a.t,
        |  CAST(sum(b.n_churn + b.n_censored) AS BIGINT) AS n_risk,
        |  a.n_churn, a.n_censored,
        |  CAST(round(100000000.0 * a.n_churn
        |    / sum(b.n_churn + b.n_censored)) AS BIGINT) AS hazard8
        |FROM bt a JOIN bt b ON b.t >= a.t
        |GROUP BY 1, 3, 4""".stripMargin),

    GradedQuery("events_burstiness", (s, dir) => {
      // Goh-Barabási burstiness of same-user inter-event gaps per
      // type: B = (σ−μ)/(σ+μ) over integer-minute gaps — periodic
      // bots read B ≪ 0, human bursts B > 0; the temporal half of the
      // whale/bot audit next to events_user_gini (EventOps.burstiness)
      EventOps.burstiness(Tables.events(s, dir), "event_type",
        "user_id", expr("ts DIV 1000"))
    },
    // burstiness: gap = same-(type,user) µs delta // 60e6 exact
    // minutes; μ/σ/B evaluate in the identical pinned double
    // sequence (each long cast separately, sqrt the one
    // transcendental, variance clamped at 0)
      """WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS us
        |  FROM events),
        |g AS (SELECT event_type, (us - lag(us) OVER (
        |    PARTITION BY event_type, user_id ORDER BY us)) // 60000000
        |    AS gap FROM e),
        |m AS (SELECT event_type, count(*) AS n_gaps,
        |  CAST(sum(gap) AS BIGINT) AS s1,
        |  CAST(sum(gap * gap) AS BIGINT) AS s2
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |b AS (SELECT event_type, n_gaps, s1,
        |  sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
        |    - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |      * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0)) AS sig,
        |  CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu FROM m)
        |SELECT event_type AS etype, n_gaps, s1 AS sum_gap_min,
        |  CASE WHEN sig + mu > 0
        |    THEN CAST(round(10000.0 * (sig - mu) / (sig + mu)) AS BIGINT)
        |  END AS burstiness4
        |FROM b""".stripMargin),

    GradedQuery("events_trend_mk", (s, dir) => {
      // Mann-Kendall monotone-trend test per type over daily counts:
      // exact-integer S and tie-corrected variance numerator, the
      // normal-approximation z in one pinned double sequence — the
      // significance audit under the holt smoothing family
      // (EventOps.mannKendall)
      EventOps.mannKendall(Tables.events(s, dir), "event_type",
        expr("ts DIV 1000"))
    },
    // Mann-Kendall: exact S over day pairs, exact tie-corrected
    // variance numerator, one pinned z sequence
      """WITH d AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |dc AS (SELECT event_type, day, count(*) AS x FROM d
        |  GROUP BY 1, 2),
        |sr AS (SELECT a.event_type, CAST(sum(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM dc a JOIN dc b ON a.event_type = b.event_type
        |    AND a.day < b.day GROUP BY 1),
        |ti AS (SELECT event_type, x, count(*) AS t FROM dc GROUP BY 1, 2),
        |tn AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num
        |  FROM ti GROUP BY 1),
        |v AS (SELECT tn.event_type, n_days,
        |  CAST(coalesce(s_stat, 0) AS BIGINT) AS s_stat,
        |  CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_num
        |    AS BIGINT) AS var_num
        |  FROM tn LEFT JOIN sr ON sr.event_type = tn.event_type)
        |SELECT event_type AS etype, n_days, s_stat, var_num,
        |  CASE WHEN var_num = 0 THEN NULL
        |    WHEN s_stat > 0 THEN CAST(round(10000.0
        |      * CAST(s_stat - 1 AS DOUBLE)
        |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)) AS BIGINT)
        |    WHEN s_stat < 0 THEN CAST(round(10000.0
        |      * CAST(s_stat + 1 AS DOUBLE)
        |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS z4
        |FROM v""".stripMargin),

    GradedQuery("events_session_stats", (s, dir) => {
      // session-size profile over q20's 30-min-gap sessionization:
      // per n_events bucket the session count and mean duration —
      // the engagement-distribution readout a funnel can't show
      Sessionize.sessions(Tables.events(s, dir), "user_id",
          expr("ts DIV 1000000000"), col("event_id"), gapSec = 1800)
        .groupBy("n_events").agg(
          count(lit(1)).as("n_sessions"),
          sum(col("sess_end") - col("sess_start")).as("sum_dur_sec"))
        .select(col("n_events"), col("n_sessions"), col("sum_dur_sec"),
          round(lit(10000.0) * col("sum_dur_sec").cast("double") /
            col("n_sessions").cast("double")).cast("long")
            .as("avg_dur4"))
    },
    // session-size profile: the q20 chain rolled up by session size
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |m AS (SELECT user_id, event_id, ts_sec,
        |  CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
        |    OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
        |    THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, ts_sec,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM m),
        |ses AS (SELECT user_id, session_id, count(*) AS n_events,
        |  max(ts_sec) - min(ts_sec) AS dur FROM s GROUP BY 1, 2)
        |SELECT n_events, count(*) AS n_sessions,
        |  CAST(sum(dur) AS BIGINT) AS sum_dur_sec,
        |  CAST(round(10000.0 * sum(dur) / CAST(count(*) AS DOUBLE))
        |    AS BIGINT) AS avg_dur4
        |FROM ses GROUP BY 1""".stripMargin),

    GradedQuery("events_dau_mau", (s, dir) => {
      // DAU/MAU stickiness per day — trailing-30-day distinct actives
      // via the coverage-explode shape (a sliding count-distinct has
      // no partial-agg form; the ×30 bounded explode + distinct IS the
      // exact scalable formulation) (EventOps.dauMau)
      EventOps.dauMau(Tables.events(s, dir), "user_id",
        expr("ts DIV 1000"))
    },
    // DAU/MAU: the coverage-explode shape — each active (user, day)
    // covers its 30 forward days, distinct collapses re-activations
      """WITH ud AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |cov AS (SELECT DISTINCT user_id, day + u.i AS cday FROM ud,
        |  LATERAL unnest(generate_series(0, 29)) u(i)),
        |mau AS (SELECT cday, count(*) AS mau FROM cov GROUP BY 1)
        |SELECT d.day, d.dau, m.mau,
        |  CAST(round(10000.0 * d.dau / CAST(m.mau AS DOUBLE))
        |    AS BIGINT) AS stickiness4
        |FROM dau d JOIN mau m ON m.cday = d.day""".stripMargin),

    GradedQuery("events_attribution", (s, dir) => {
      // last-touch attribution: each purchase credits the user's most
      // recent non-purchase event AT-OR-BEFORE it (the as-of join
      // applied to marketing analytics), 7-day lookback, simultaneous
      // touches deterministically collapse to the max channel; the
      // unattributed bucket is a first-class row
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), expr("ts DIV 1000").as("us"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), col("us").as("tus"))
        .agg(max("event_type").as("channel"))
      val j = EventOps.asOfJoin(conv, touch, "user_id",
        col("us"), col("tus"), Seq("channel"))
      val horizon = 7L * 86400000000L
      val byChannel = j.select(when(col("asof_ts").isNotNull &&
            col("us") - col("asof_ts") <= horizon, col("asof_channel"))
          .otherwise(lit("unattributed")).as("channel"))
        .groupBy("channel").agg(count(lit(1)).as("n_conversions"))
      byChannel
        .crossJoin(broadcast(byChannel.agg(
          sum("n_conversions").as("__tot"))))
        .select(col("channel"), col("n_conversions"),
          round(lit(10000.0) * col("n_conversions").cast("double") /
            col("__tot").cast("double")).cast("long").as("share4"))
    },
    // attribution: simultaneous touches pre-collapse to max channel,
    // last touch via a per-conversion max, horizon applied after —
    // the identical at-or-before tie rule the as-of window uses
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |cv AS (SELECT user_id, us, count(*) AS m FROM e
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |tc AS (SELECT user_id, us AS tus, max(event_type) AS channel
        |  FROM e WHERE event_type <> 'purchase' GROUP BY 1, 2),
        |j AS (SELECT c.user_id, c.us, c.m, max(t.tus) AS ltus
        |  FROM cv c LEFT JOIN tc t ON t.user_id = c.user_id
        |    AND t.tus <= c.us
        |  GROUP BY 1, 2, 3),
        |att AS (SELECT CASE WHEN j.ltus IS NOT NULL
        |    AND j.us - j.ltus <= 604800000000 THEN t2.channel
        |    ELSE 'unattributed' END AS channel, j.m
        |  FROM j LEFT JOIN tc t2 ON t2.user_id = j.user_id
        |    AND t2.tus = j.ltus),
        |b AS (SELECT channel, CAST(sum(m) AS BIGINT) AS n_conversions
        |  FROM att GROUP BY 1),
        |t AS (SELECT CAST(sum(n_conversions) AS BIGINT) AS tot FROM b)
        |SELECT channel, n_conversions,
        |  CAST(round(10000.0 * n_conversions / CAST(tot AS DOUBLE))
        |    AS BIGINT) AS share4
        |FROM b, t""".stripMargin),
  )
}
