package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, EventOps}

class EventOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("asOfJoin attaches latest right row at or before each left ts") {
    val left = Seq(
      (1L, 100L, "p1"), // after r@90 -> 90
      (1L, 90L, "p2"),  // equal ts -> right sorts first -> 90
      (1L, 10L, "p3"),  // before any right row -> null
      (2L, 50L, "p4"),  // user with no right rows -> null
      (3L, 500L, "p5")  // picks user-3's own latest, not user-1's
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, 20L, 1000L), (1L, 90L, 1001L), (1L, 150L, 1002L),
      (3L, 400L, 2000L)
    ).toDF("user_id", "ts", "rid")

    val out = EventOps.asOfJoin(left, right, "user_id",
        col("ts"), col("ts"), Seq("rid"))
      .select($"tag", $"asof_ts", $"asof_rid")
      .collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet

    assert(out == Set(
      ("p1", Some(90L), Some(1001L)),
      ("p2", Some(90L), Some(1001L)),
      ("p3", None, None),
      ("p4", None, None),
      ("p5", Some(400L), Some(2000L))))
  }

  test("asOfJoin preserves every left row (left semantics)") {
    val left = (1 to 100).map(i => (i.toLong % 7, i.toLong * 3)).toDF("user_id", "ts")
    val right = (1 to 20).map(i => (i.toLong % 7, i.toLong * 11, i.toLong)).toDF("user_id", "ts", "rid")
    val joined = EventOps.asOfJoin(left, right, "user_id", col("ts"), col("ts"), Seq("rid"))
    assert(joined.count() == 100L)
    // spot-check one row against a scan: user 1, left ts 45 -> right ts <= 45
    val best = right.where($"user_id" === 1 && $"ts" <= 45)
      .orderBy($"ts".desc).select("ts").as[Long].head()
    val got = joined.where($"user_id" === 1 && $"ts" === 45)
      .select("asof_ts").as[Long].head()
    assert(got == best)
  }

  test("asOfJoinSalted equals asOfJoin on an 80%-hot-key stream") {
    // 2000 left events, 80% on user 7; rights unique per (key, ts)
    val left = (1 to 2000).map { i =>
      val u = if (i % 5 != 0) 7L else (i % 5).toLong
      (u, (i * 13 % 4099).toLong, s"e$i")
    }.toDF("user_id", "ts", "tag")
    val right = (0 to 400).map { i =>
      val u = if (i % 4 != 0) 7L else (i % 7).toLong
      (u, (i * 10).toLong, i.toLong)
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      .toDF("user_id", "ts", "rid")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "ts", "tag", "asof_ts", "asof_rid")
        .collect().map(_.toSeq).toSet
    val base = EventOps.asOfJoin(left, right, "user_id",
      col("ts"), col("ts"), Seq("rid"))
    val salted = EventOps.asOfJoinSalted(left, right, "user_id",
      col("ts"), col("ts"), Seq("rid"), binWidth = 256L)
    assert(norm(salted) == norm(base))
    // also at a bin width larger than the whole range (degenerates to
    // one bin per key = the unsalted shape) and a tiny one (many bins)
    for (w <- Seq(1L, 1000000L)) {
      val s = EventOps.asOfJoinSalted(left, right, "user_id",
        col("ts"), col("ts"), Seq("rid"), binWidth = w)
      assert(norm(s) == norm(base), s"binWidth=$w diverged")
    }
  }

  test("asOfJoinSalted bounds per-partition rows via (key, bin) windowing") {
    val left = (1 to 2000).map(i => (7L, (i % 1024).toLong, s"e$i"))
      .toDF("user_id", "ts", "tag")
    val right = (0 to 100).map(i => (7L, (i * 10).toLong, i.toLong))
      .toDF("user_id", "ts", "rid")
    val salted = EventOps.asOfJoinSalted(left, right, "user_id",
      col("ts"), col("ts"), Seq("rid"), binWidth = 128L)
    // the phase-2 window must partition on BOTH the key and the time bin
    // (that is the bounded-partition claim: one hot key spreads over
    // range/binWidth partitions instead of one)
    val plan = salted.queryExecution.optimizedPlan.toString
    val windowOnBin = plan.linesIterator.exists(l =>
      l.contains("windowspecdefinition") && l.contains("user_id") &&
        l.contains("__bin"))
    assert(windowOnBin, s"phase-2 window not partitioned by (key, __bin):\n$plan")
    // and the math: 1024 distinct ts over width-128 bins -> every
    // (key, bin) group holds at most ceil occupancy + 1 carry row
    val maxGroup = left.select(col("user_id"), col("ts"))
      .union(right.select(col("user_id"), col("ts")))
      .withColumn("bin", col("ts") - pmod(col("ts"), lit(128L)))
      .groupBy("user_id", "bin").count()
      .agg(max("count")).as[Long].head()
    assert(maxGroup < 2101L / 4, s"hot key did not spread: $maxGroup")
  }

  test("asOfJoin rejects colliding caller columns") {
    val l = Seq((1L, 10L, 5L)).toDF("user_id", "ts", "asof_rid")
    val r = Seq((1L, 5L, 1L)).toDF("user_id", "ts", "rid")
    val e = intercept[IllegalArgumentException] {
      EventOps.asOfJoin(l, r, "user_id", col("ts"), col("ts"), Seq("rid"))
    }
    assert(e.getMessage.contains("asof_rid"))
    val l2 = Seq((1L, 10L, 2L)).toDF("user_id", "ts", "__side")
    val e2 = intercept[IllegalArgumentException] {
      EventOps.asOfJoin(l2, r, "user_id", col("ts"), col("ts"), Seq("rid"))
    }
    assert(e2.getMessage.contains("__side"))
  }

  test("events.ts nanos are positive so ts DIV 1000 == epoch_us oracle") {
    // DuckDB truncates the parquet ns timestamps to µs on read, so its
    // epoch_us(ts) = trunc(ns/1000); Spark's `ts DIV 1000` on the raw
    // nanos is floor division. The two agree exactly iff ts >= 0.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata unavailable here")
    val e = Tables.events(spark, dir)
    assert(e.where(expr("ts < 0")).count() == 0L)
  }

  test("funnel counts stages in order within the conversion window") {
    val ev = Seq(
      // user 1: full ordered funnel, tight gaps
      (1L, "signup", 100L), (1L, "view", 150L), (1L, "purchase", 200L),
      // user 2: purchase BEFORE view -> only signup+view count
      (2L, "signup", 100L), (2L, "purchase", 120L), (2L, "view", 140L),
      // user 3: view outside the window -> funnel stops at signup
      (3L, "signup", 100L), (3L, "view", 5000L), (3L, "purchase", 5100L),
      // user 4: never signed up -> in no stage
      (4L, "view", 10L), (4L, "purchase", 20L)
    ).toDF("user_id", "event_type", "ts")

    val row = EventOps.funnelCounts(ev, "user_id", "event_type", col("ts"),
      Seq("signup", "view", "purchase"), maxGap = 1000L).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == (3L, 2L, 1L))

    // event_funnel's scale, µs and a 4-hour window: a view exactly at
    // t1 + gap counts, a purchase at t2 + gap + 1 does not
    val (t1, gap) = (1700000000000000L, 14400L * 1000000L)
    val real = Seq((5L, "signup", t1), (5L, "view", t1 + gap),
      (5L, "purchase", t1 + 2 * gap + 1)).toDF("user_id", "event_type", "ts")
    val atScale = EventOps.funnelCounts(real, "user_id", "event_type",
      col("ts"), Seq("signup", "view", "purchase"), maxGap = gap).head()
    assert((atScale.getLong(0), atScale.getLong(1), atScale.getLong(2)) ==
      (1L, 1L, 0L))
  }

  test("funnel with unbounded gap admits any later event") {
    val ev = Seq(
      (1L, "signup", 0L), (1L, "view", 1000000L), (1L, "purchase", 2000000L)
    ).toDF("user_id", "event_type", "ts")
    val row = EventOps.funnelCounts(ev, "user_id", "event_type", col("ts"),
      Seq("signup", "view", "purchase")).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == (1L, 1L, 1L))
  }

  test("asOfJoinForward attaches earliest right row at or after each left ts") {
    val left = Seq(
      (1L, 100L, "p1"), // r@150 is the earliest at/after -> 150
      (1L, 150L, "p2"), // equal ts matches (at-or-after) -> 150
      (1L, 200L, "p3"), // nothing after -> null
      (2L, 10L, "p4")   // no right rows for user -> null
    ).toDF("user_id", "ts", "tag")
    val right = Seq((1L, 20L, 1000L), (1L, 150L, 1001L))
      .toDF("user_id", "ts", "rid")
    val out = EventOps.asOfJoinForward(left, right, "user_id",
        col("ts"), col("ts"), Seq("rid"))
      .select($"tag", $"asof_ts", $"asof_rid")
      .collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(out == Set(
      ("p1", Some(150L), Some(1001L)),
      ("p2", Some(150L), Some(1001L)),
      ("p3", None, None),
      ("p4", None, None)))
  }

  test("asOfJoin equals the naive maximal-prior scan on random data") {
    val rnd = new scala.util.Random(42)
    // small key/ts spaces force equal-ts ties and missing-match cases
    val left = (1 to 300).map(_ => (rnd.nextInt(8).toLong, rnd.nextInt(100).toLong))
    val right = (1 to 150).map(i => (rnd.nextInt(8).toLong, rnd.nextInt(100).toLong, i.toLong))
    val rded = right.groupBy(r => (r._1, r._2))
      .map { case (_, rs) => rs.maxBy(_._3) }.toSeq

    val expected = left.map { case (k, t) =>
      val cands = rded.filter(r => r._1 == k && r._2 <= t)
      val rid = if (cands.isEmpty) -1L else cands.maxBy(_._2)._3
      (k, t, rid)
    }.sorted

    val got = EventOps.asOfJoin(
        left.toDF("user_id", "ts"),
        rded.toDF("user_id", "ts", "rid"),
        "user_id", col("ts"), col("ts"), Seq("rid"))
      .select("user_id", "ts", "asof_rid").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq.sorted

    assert(got == expected)
  }

  test("transitionCounts tallies lagged pairs with row-normalized shares") {
    // user 1: a->b->a->b ; user 2: a->a (same ts, event_id breaks the tie)
    val ev = Seq(
      (1L, "a", 10L, 100L), (1L, "b", 20L, 101L),
      (1L, "a", 30L, 102L), (1L, "b", 40L, 103L),
      (2L, "a", 50L, 200L), (2L, "a", 50L, 201L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = EventOps.transitionCounts(ev, "user_id", "event_type",
        col("ts"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("a", "b") -> ((2L, 2.0 / 3.0)),
      ("a", "a") -> ((1L, 1.0 / 3.0)),
      ("b", "a") -> ((1L, 1.0))))
  }

  test("chunkDuplicates finds shared fixed-width chunks, drops ragged tails") {
    // 250-char docs: doc 1 and 2 share the first 100 chars exactly;
    // doc 3 is disjoint. Chunks at 1 and 101 hash; the 50-char tail drops.
    val block = "abcdefghij" * 10           // 100 chars
    val docs = Seq(
      (1L, block + ("k" * 100) + ("x" * 50)),
      (2L, block + ("m" * 100) + ("y" * 50)),
      (3L, ("z" * 250))
    ).toDF("doc_id", "text")

    val out = Dedup.chunkDuplicates(docs, "doc_id", "text", width = 100)
      .select("n_docs", "n_occurrences", "min_doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(out == List((2L, 2L, 1L)))

    // doc 3's chunks exist but are unique -> filtered; short docs yield none
    val short = Seq((9L, "tiny")).toDF("doc_id", "text")
    assert(Dedup.chunkDuplicates(short, "doc_id", "text", width = 100).count() == 0L)
  }

  test("dailyAnomalies flags z-score outlier days, skips single-day types") {
    val dayUs = 86400000000L
    // type "a": 9 quiet days of 10 events + 1 spike day of 100
    //   mean=19, stddev_samp≈28.46 -> z(spike)=(100-19)/28.46≈2.85
    // type "b": one day only -> stddev NULL -> can never flag
    val rows =
      (0 until 9).flatMap(d => (0 until 10).map(i => ("a", d * dayUs + i))) ++
        (0 until 100).map(i => ("a", 9 * dayUs + i)) ++
        (0 until 50).map(i => ("b", i.toLong))
    val ev = rows.toDF("event_type", "ts_us")
    val out = EventOps.dailyAnomalies(ev, "event_type", col("ts_us"),
        zThresh = 2.0)
      .as[(String, Long, Long, Double, Double)].collect().toList
    assert(out == List(("a", 9L, 100L, 19.0, 28.4605)))
    // at a stricter threshold the spike no longer clears the bar
    assert(EventOps.dailyAnomalies(ev, "event_type", col("ts_us"),
      zThresh = 3.0).count() == 0L)
  }
}
