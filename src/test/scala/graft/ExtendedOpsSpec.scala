package graft

import graft.operators.{Graphs, PopGen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Late-round-11 operators: fixed-round BFS, the Mendel trio test and
  * the LD decay rollup.
  */
class ExtendedOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bfsHops walks a path graph and keeps the minimum hop") {
    // path 1-2-3-4-5 (undirected), isolated seed 9: hop = distance to
    // the nearest seed, capped by the round count (5 is 4 hops from
    // seed 1 — unreached in 3 rounds and absent from the output)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = pairs.toDF("src", "dst")
      .union(pairs.map(p => (p._2, p._1)).toDF("src", "dst"))
    val seeds = Seq(1L, 9L).toDF("id")
    val got = Graphs.bfsHops(edges, "src", "dst", seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfsHops with two seeds takes the nearer one") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = pairs.toDF("src", "dst")
      .union(pairs.map(p => (p._2, p._1)).toDF("src", "dst"))
    val got = Graphs.bfsHops(edges, "src", "dst",
        Seq(1L, 5L).toDF("id"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("bfsHops rounds=0 returns exactly the distinct seed set") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = Graphs.bfsHops(edges, "src", "dst",
        Seq(1L, 1L, 7L).toDF("id"), rounds = 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 7L -> 0L))
  }

  test("mendelConflict matches the allele-set truth table on all 27 trios") {
    // independent model: child dosage feasible iff expressible as
    // a_f + a_m with a_f in T(f), a_m in T(m), T(0)={0} T(1)={0,1}
    // T(2)={1}
    def t(p: Int): Set[Int] = p match {
      case 0 => Set(0); case 1 => Set(0, 1); case 2 => Set(1)
    }
    val rows = for (f <- 0 to 2; m <- 0 to 2; c <- 0 to 2) yield (f, m, c)
    val expect = rows.map { case (f, m, c) =>
      (f, m, c) -> !(for (a <- t(f); b <- t(m)) yield a + b).contains(c)
    }.toMap
    val got = rows.toDF("f", "m", "c")
      .select(col("f"), col("m"), col("c"),
        PopGen.mendelConflict(col("f"), col("m"), col("c")).as("err"))
      .as[(Int, Int, Int, Boolean)].collect()
      .map { case (f, m, c, e) => (f, m, c) -> e }.toMap
    assert(got == expect)
  }

  test("dailyHoltWinters matches the hand-rolled seasonal fold") {
    import graft.operators.EventOps
    // 12 consecutive days for one type — long enough that the seasonal
    // queue wraps (updates 8..11 consume seasonals written at steps
    // 1..4, not the zero seed). The driver-side fold spells the three
    // recurrence lines in the lambda's exact operation order, so the
    // doubles must agree BIT FOR BIT.
    val us = 86400000000L
    val counts = Seq(2, 4, 1, 3, 5, 2, 4, 6, 1, 3, 2, 5)
    val rows = counts.zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(i => ("a", d * us + i))
    }.toDF("event_type", "ts_us")
    val (a, bb, g, m) = (0.5, 0.25, 0.25, 7)
    var l = counts.head.toDouble; var b = 0.0
    var q = Vector.fill(m)(0.0)
    for (x0 <- counts.tail) {
      val x = x0.toDouble
      val lN = a * (x - q(0)) + (1 - a) * (l + b)
      val bN = bb * (lN - l) + (1 - bb) * b
      val sN = g * (x - lN) + (1 - g) * q(0)
      l = lN; b = bN; q = q.tail :+ sN
    }
    val got = EventOps.dailyHoltWinters(rows, "event_type",
        col("ts_us"), a, bb, g, m)
      .select("n_days", "level", "trend", "season_next", "forecast")
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(got == ((12L, l, b, q(0), l + b + q(0))))
  }

  test("dailyHoltWinters reduces to dailyHolt while seasonals are zero") {
    import graft.operators.EventOps
    // 8 days = 7 update steps, all consuming the zero seasonal seed:
    // level and trend must equal plain Holt's bit for bit, while the
    // seasonal queue is already nonzero (it has absorbed residuals)
    val us = 86400000000L
    val counts = Seq(3, 1, 4, 1, 5, 9, 2, 6)
    val rows = counts.zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(i => ("a", d * us + i))
    }.toDF("event_type", "ts_us")
    val hw = EventOps.dailyHoltWinters(rows, "event_type",
        col("ts_us"), 0.5, 0.25, 0.25, 7)
      .select("level", "trend", "season_next")
      .as[(Double, Double, Double)].collect().head
    val h = EventOps.dailyHolt(rows, "event_type", col("ts_us"),
        0.5, 0.25)
      .select("level", "trend").as[(Double, Double)].collect().head
    assert((hw._1, hw._2) == h)
    assert(hw._3 != 0.0)
  }

  test("dailyHoltWinters: gapped series keeps day-of-week alignment") {
    import graft.operators.EventOps
    // 14-day calendar span with days 3, 7, 8, 9 MISSING. The r13
    // calendar-densified fold runs over all 14 days with zeros filled
    // in, so update step t still consumes the seasonal written at
    // t−7 — the same day of week. (The old observed-days-only fold
    // rotated the queue once per OBSERVED day: four missing days
    // shifted the weekly phase by four slots.)
    val us = 86400000000L
    val observed = Map(0 -> 2, 1 -> 4, 2 -> 1, 4 -> 5, 5 -> 2, 6 -> 4,
      10 -> 3, 11 -> 2, 12 -> 5, 13 -> 1)
    val rows = observed.toSeq.flatMap { case (d, n) =>
      (0 until n).map(i => ("a", d * us + i))
    }.toDF("event_type", "ts_us")
    val (a, bb, g, m) = (0.5, 0.25, 0.25, 7)
    // hand fold over the DENSE calendar series, zeros at the gaps
    val dense = (0 to 13).map(d => observed.getOrElse(d, 0))
    var l = dense.head.toDouble; var b = 0.0
    var q = Vector.fill(m)(0.0)
    for (x0 <- dense.tail) {
      val x = x0.toDouble
      val lN = a * (x - q(0)) + (1 - a) * (l + b)
      val bN = bb * (lN - l) + (1 - bb) * b
      val sN = g * (x - lN) + (1 - g) * q(0)
      l = lN; b = bN; q = q.tail :+ sN
    }
    val got = EventOps.dailyHoltWinters(rows, "event_type",
        col("ts_us"), a, bb, g, m)
      .select("n_days", "last_day", "level", "trend", "season_next",
        "forecast")
      .as[(Long, Long, Double, Double, Double, Double)].collect().head
    // n_days = CALENDAR span (14), not observed count (10)
    assert(got == ((14L, 13L, l, b, q(0), l + b + q(0))))
    // and the streaming twin runs the identical zero-filled fold on
    // the same gapped state
    import graft.streaming.{StreamHolt, StreamHoltWinters}
    val evs = observed.toSeq.flatMap { case (d, n) =>
      (0 until n).map(i => StreamHolt.Ev("a", d * us + i))
    }
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val st = TestGroupState.create[Map[Long, Long]](
      org.apache.spark.api.java.Optional.empty[Map[Long, Long]](),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val emitted = StreamHoltWinters.update("a", evs.iterator, st).toSeq
    assert(emitted == Seq(StreamHoltWinters.HwRow("a", 14L, 13L,
      l, b, q(0), l + b + q(0))))
  }

  test("reciprocalOverlapPairs keeps only size-compatible matches") {
    import graft.operators.Intervals
    // A = [0,99] len 100 on chr 1; candidates:
    //   B1 [0,49]   len 50  ov 50 -> 2*50 >= 100 and >= 50   MATCH
    //   B2 [0,39]   len 40  ov 40 -> 2*40 <  100             no (A side)
    //   B3 [50,149] len 100 ov 50 -> 2*50 >= 100 both        MATCH
    //   B4 [90,489] len 400 ov 10 -> fails both              no
    //   B5 [0,99] on chr 2 — no key overlap                  no
    val a = Seq((1L, 10L, 0L, 99L)).toDF("chr", "id_a", "a_start", "a_stop")
    val b = Seq(
      (1L, 1L, 0L, 49L), (1L, 2L, 0L, 39L), (1L, 3L, 50L, 149L),
      (1L, 4L, 90L, 489L), (2L, 5L, 0L, 99L))
      .toDF("chr", "id_b", "b_start", "b_stop")
    val got = Intervals.reciprocalOverlapPairs(a, b,
        "a_start", "a_stop", "b_start", "b_stop",
        keys = Seq("chr"), binWidth = 64, num = 1, den = 2)
      .select("id_b", "ov").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 50L, 3L -> 50L))
  }

  test("sourceJsd: zero for identical distributions, ln 2 for disjoint") {
    import graft.operators.TextAnalysis
    // identical unigram distributions -> every log factor is ln(1) = 0;
    // fully disjoint vocabularies -> JSD = ln 2: four words each with
    // p = 1/2, q = 0, term = round(0.5 * round(ln(2)*1e4) * 1e6)
    // = round(0.5 * 6931 * 1e6) = 3_465_500_000, summed over 4 words
    val docs = Seq(("a", "x y"), ("b", "x y"), ("c", "z w"))
      .toDF("source", "text")
    val got = TextAnalysis.sourceJsd(docs, "source", "text")
      .select("src_a", "src_b", "n_words", "jsd2e10")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("a", "b")) == ((2L, 0L)))
    assert(got(("a", "c")) == ((4L, 4L * 3465500000L)))
    assert(got(("b", "c")) == ((4L, 4L * 3465500000L)))
  }

  test("sceneCuts: hand-built AVI with known byte deltas") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaCodec, MediaRow}
    // frames: all-zero, zero-with-one-0xFF-tail-byte, all-0xFF:
    // delta(0,1) = 255; delta(1,2) = 15*255 = 3825 -> one cut at 1000
    val f0 = Array.fill[Byte](16)(0)
    val f1 = Array.fill[Byte](16)(0); f1(15) = -1
    val f2 = Array.fill[Byte](16)(-1)
    val avi = MediaCodec.aviBytes(32, 24, Seq(f0, f1, f2))
    // length-mismatch video: 4 vs 6 equal bytes -> 2 missing * 255
    val g0 = Array.fill[Byte](4)(7)
    val g1 = Array.fill[Byte](6)(7)
    val avi2 = MediaCodec.aviBytes(32, 24, Seq(g0, g1))
    val media = Seq(
      MediaRow(1L, "video", avi), MediaRow(2L, "video", avi2),
      MediaRow(3L, "video", Array[Byte](1, 2, 3)), // quarantine
      MediaRow(4L, "image", avi))                  // not video
      .toDS()
    val got = Multimodal.sceneCuts(media, threshold = 1000L)
      .collect().map(s => s.media_id ->
        ((s.n_frames, s.n_pairs, s.sum_delta, s.n_cuts))).toMap
    assert(got == Map(
      1L -> ((3L, 2L, 255L + 3825L, 1L)),
      2L -> ((2L, 1L, 510L, 0L))))
  }

  test("popgen_ibs partitions every site into exactly one IBS class") {
    // the three IBS classes are exhaustive and disjoint on {0,1,2}
    // dosages: their counts must sum to n_sites for every pair, the
    // pair set must be the full s1 < s2 triangle over the samples
    // present, and a sample paired with itself never appears
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.graded("popgen_ibs").run(spark, dir)
      .select("s1", "s2", "n_sites", "n_ibs0", "n_ibs1", "n_ibs2")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._4 + r._5 + r._6 == r._3))
    assert(rows.forall(r => r._1 < r._2))
    val samples = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    assert(rows.length == samples.length * (samples.length - 1) / 2)
  }

  test("edgeJaccard scores a triangle with a pendant bridge") {
    // triangle 1-2-3 + pendant 4 on 3: edge (1,2) shares {3} of a
    // 3-node union -> 3333; (1,3)/(2,3) share one of four -> 2500;
    // bridge (3,4) shares nothing -> 0
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val got = Graphs.edgeJaccard(edges, "id_a", "id_b")
      .select("id_a", "id_b", "n_common", "jacc4")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == Map(
      (1L, 2L) -> ((1L, 3333L)), (1L, 3L) -> ((1L, 2500L)),
      (2L, 3L) -> ((1L, 2500L)), (3L, 4L) -> ((0L, 0L))))
  }

  test("audioVad segments engineered loud/quiet frame runs") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaCodec, MediaRow}
    // frameSize 4, threshold 100 (active iff sum_sq > n*100):
    // frames: loud(20²·4=1600) loud quiet(0) loud quiet quiet ->
    // 6 frames, 3 active in runs [0,1] and [3]: 2 segments, longest 2
    val loud = Array.fill[Short](4)(20)
    val quiet = Array.fill[Short](4)(0)
    val samples = (loud ++ loud ++ quiet ++ loud ++ quiet ++ quiet)
    val media = Seq(
      MediaRow(1L, "audio", MediaCodec.wavWithSamples(8000, 1, samples)),
      MediaRow(2L, "audio", MediaCodec.wavWithSamples(8000, 1, quiet)),
      MediaRow(3L, "video", Array[Byte](1))) // not audio
      .toDS()
    val got = Multimodal.audioVad(media, frameSize = 4, threshold = 100L)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == Map(
      1L -> ((6L, 3L, 2L, 2L)),
      2L -> ((1L, 0L, 0L, 0L))))
  }

  test("StreamHoltWinters equals the batch fold across out-of-order chops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{StreamHolt, StreamHoltWinters}
    import graft.operators.EventOps
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val us = StreamHolt.DayUs
    // type a: 9 days (long enough that the seasonal queue holds real
    // residuals) delivered out of order and split mid-day across
    // triggers; type b: single day (seed state)
    val t1 = (0 until 9).flatMap(d => Seq(("a", d * us))) ++
      Seq(("a", 2 * us + 7), ("b", 5L))
    val t2 = Seq(("a", 8 * us + 1), ("a", 3L), ("a", 5 * us + 2))
    val mem = MemoryStream[StreamHolt.Ev]
    val q = StreamHoltWinters.smooth(mem.toDS())
      .writeStream.format("memory").queryName("hw_out")
      .outputMode("append").start()
    try {
      Seq(t1, t2).foreach { t =>
        mem.addData(t.map { case (g, ts) => StreamHolt.Ev(g, ts) })
        q.processAllAvailable()
      }
      val rows = spark.table("hw_out")
        .as[(String, Long, Long, Double, Double, Double, Double)]
        .collect()
      val finalRows = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (g, rs) => g -> rs.maxBy(_._2)._1 }
      val batch = EventOps.dailyHoltWinters(
          (t1 ++ t2).toDF("event_type", "ts_us"), "event_type",
          col("ts_us"), alpha = 0.5, beta = 0.25, gamma = 0.25,
          period = 7)
        .select("event_type", "n_days", "last_day", "level", "trend",
          "season_next", "forecast")
        .as[(String, Long, Long, Double, Double, Double, Double)]
        .collect().map(r => r._1 -> r).toMap
      assert(finalRows == batch)
    } finally q.stop()
  }

  test("reciprocalOverlapPairs length-band prune equals brute force") {
    import graft.operators.Intervals
    // deterministic pseudo-random intervals with lengths spanning
    // decades (1..~4100) — the regime the log2 band prune targets;
    // brute-force the reciprocal rule driver-side and require exact
    // pair-set equality (banding is strategy, not semantics)
    val aRows = (0 until 60).map { i =>
      val chr = i % 3L
      val start = (i * 137L) % 5000
      val len = 1L + (i * i * 31L) % 4096
      (chr, i.toLong, start, start + len - 1)
    }
    val bRows = (0 until 80).map { i =>
      val chr = i % 3L
      val start = (i * 211L) % 5000
      val len = 1L + (i * 97L) % 4096
      (chr, i.toLong, start, start + len - 1)
    }
    val brute = (for {
      (ca, ia, sa, ea) <- aRows
      (cb, ib, sb, eb) <- bRows
      if ca == cb && sa <= eb && sb <= ea
      ov = math.min(ea, eb) - math.max(sa, sb) + 1
      if 2 * ov >= ea - sa + 1 && 2 * ov >= eb - sb + 1
    } yield (ia, ib, ov)).toSet
    val got = Intervals.reciprocalOverlapPairs(
        aRows.toDF("chr", "id_a", "a_start", "a_stop"),
        bRows.toDF("chr", "id_b", "b_start", "b_stop"),
        "a_start", "a_stop", "b_start", "b_stop",
        keys = Seq("chr"), binWidth = 256, num = 1, den = 2,
        bandPrune = true)
      .select("id_a", "id_b", "ov")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute)
    assert(brute.nonEmpty)
  }

  test("holtBacktest banks each error BEFORE the state update") {
    import graft.operators.EventOps
    // counts [2,4,1]: day1 forecast 2 (seed), err 2 -> 20000; update
    // to l=3, b=0.25; day2 forecast 3.25, err 2.25 -> 22500;
    // sum 42500, mae round(42500/2) = 21250. Single-day type: zeros.
    val us = 86400000000L
    val rows = (Seq.fill(2)(0L) ++ Seq.fill(4)(us) ++ Seq(2 * us))
      .map(("a", _)) ++ Seq(("b", 5L), ("b", 6L), ("b", 7L))
    val got = EventOps.holtBacktest(rows.toDF("event_type", "ts_us"),
        "event_type", col("ts_us"), alpha = 0.5, beta = 0.25)
      .select("event_type", "n_days", "n_evals", "sum_abs_err4", "mae4")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("a") == ((3L, 2L, 42500L, 21250L)))
    assert(got("b") == ((1L, 0L, 0L, 0L)))
  }

  test("dna_debruijn_stats equals the brute-force graph census") {
    // re-derive the whole de Bruijn census driver-side from the same
    // md5-derived DNA at sf0.001 and require exact equality
    val dir = "/root/testdata/sf0.001"
    val texts = graft.Tables.documents(spark, dir)
      .select("text").as[String].collect()
    val tr = "0123456789abcdef".zip("ACGTACGTACGTACGT").toMap
    val edges = texts.flatMap { t =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val dna = md.map(tr)
      (0 to dna.length - 8).map(i => dna.substring(i, i + 8))
    }.toSet
    val out = edges.groupBy(_.substring(0, 7)).map { case (n, ks) => n -> ks.size }
    val in = edges.groupBy(_.substring(1, 8)).map { case (n, ks) => n -> ks.size }
    val nodes = out.keySet ++ in.keySet
    val got = SparkEntry.graded("dna_debruijn_stats").run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == ((edges.size.toLong, nodes.size.toLong,
      out.count(_._2 >= 2).toLong, in.count(_._2 >= 2).toLong)))
  }

  test("corpus_dup_sources conserves the pair count and triangle order") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.graded("corpus_dup_sources").run(spark, dir)
      .select("src_a", "src_b", "n_pairs")
      .as[(String, String, Long)].collect()
    assert(rows.forall(r => r._1 <= r._2))
    val totalPairs = SparkEntry.graded("dedup_ngram_jaccard").run(spark, dir)
      .count()
    assert(rows.map(_._3).sum == totalPairs)
  }

  test("events_dispersion hits the hand landmarks") {
    // the graded query reads the events table, so replay its formula
    // path through a tiny in-memory twin of the same derivation:
    // counts [2,4] -> D = (2*20-36)/(1*6) = 2/3 -> 6667;
    // constant [3,3,3] -> 0; single-day filtered
    val us = 86400000000L
    val rows = (Seq.fill(2)(0L) ++ Seq.fill(4)(us)).map(("a", _)) ++
      (0 until 3).flatMap(d => Seq.fill(3)(("b", d * us))) ++
      Seq(("c", 7L))
    import org.apache.spark.sql.functions.{pmod => fpmod}
    val dayUs = 86400000000L
    val ts = col("ts_us").cast("long")
    val got = rows.toDF("event_type", "ts_us")
      .groupBy(col("event_type"),
        ((ts - fpmod(ts, lit(dayUs))) / dayUs).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_days") > 1)
      .select(col("event_type"),
        round(lit(10000.0) *
          (col("n_days") * col("sxx") - col("sx") * col("sx")) /
          ((col("n_days") - 1) * col("sx"))).cast("long").as("d4"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 6667L, "b" -> 0L))
  }

  test("popgen_sfs conserves sites and folds below half the alleles") {
    val dir = "/root/testdata/sf0.001"
    val sfs = SparkEntry.graded("popgen_sfs").run(spark, dir)
      .as[(Long, Long)].collect().toMap
    // every site lands in exactly one folded bin (conservation against
    // the shared ld_pairwise/popgen_ibs cell derivation re-run here),
    // and the fold keeps mac <= an/2 <= n_samples (20 by construction)
    val nSites = graft.Tables.lineitem(spark, dir).select(
        (col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 1000)
          .cast("long").as("pos"))
      .distinct().count()
    assert(sfs.values.sum == nSites)
    assert(sfs.forall { case (mac, _) => mac >= 0 && mac <= 20 })
  }

  test("bpe fertility rollup counts subwords per word occurrence") {
    import graft.functions.{Bpe, BpeOps}
    import graft.operators.Dedup
    // controlled model {(a,b)}: 'ab' -> 1 token, 'abc' -> 2, 'd' -> 1;
    // lang x: 'ab ab abc' -> words 3, subwords 1+1+2 = 4 -> 13333
    // lang y: 'd d' -> 2 words, 2 subwords -> 10000
    val model = BpeOps.BpeModel(Seq(("a", "b")))
    val docs = Seq(("x", "ab ab abc"), ("y", "d d")).toDF("lang", "text")
    val wl = docs.select(col("lang"),
        explode(split(Dedup.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("lang", "w").agg(count(lit(1)).as("freq"))
    val nt = wl.select("w").distinct()
      .withColumn("n_sub", size(Bpe.encode(col("w"), model)).cast("long"))
    val got = wl.join(nt, "w")
      .groupBy("lang").agg(sum("freq").as("n_words"),
        sum(col("n_sub") * col("freq")).as("n_subwords"))
      .select(col("lang"), col("n_words"), col("n_subwords"),
        round(lit(10000.0) * col("n_subwords") / col("n_words"))
          .cast("long").as("fertility4"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map("x" -> ((3L, 4L, 13333L)), "y" -> ((2L, 2L, 10000L))))
  }

  test("variant_dnds agrees with a rollup of q24's own annotations") {
    val dir = "/root/testdata/sf0.001"
    val ann = SparkEntry.graded("q24_annotate_variants").run(spark, dir)
      .select("tr_id", "syn_status")
      .as[(Long, Option[String])].collect()
    val expect = ann
      .collect { case (tr, Some(st))
        if st == "synonymous" || st == "nonsynonymous" => (tr / 10, st) }
      .groupBy(_._1).flatMap { case (g, rs) =>
        val syn = rs.count(_._2 == "synonymous").toLong
        val non = rs.size - syn
        if (syn > 0) Some(g -> ((syn, non, math.round(10000.0 * non / syn))))
        else None
      }
    val got = SparkEntry.graded("variant_dnds").run(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("Sam.alignments walks every CIGAR op class") {
    import graft.sources.Sam
    def sam(qname: String, pos: Long, cigar: String): String =
      Seq(qname, "0", "chr1", pos.toString, "30", cigar,
        "*", "0", "0", "*", "*").mkString("\t")
    val lines = Seq(
      sam("a", 100, "10M"),                 // span 10, aln 10, clip 0
      sam("b", 200, "3S10M2I5M1D4M2H"),     // span 20, aln 19, clip 5
      sam("c", 300, "5=2X3N4M"),            // span 14, aln 11, clip 0
      "@HD\tVN:1.6",                        // header: dropped
      sam("d", 400, "*"),                   // unmapped: dropped
      sam("e", 0, "5M"))                    // pos 0: dropped
      .toDS()
    val got = Sam.alignments(lines)
      .select("qname", "ref_span", "n_aligned", "n_clipped", "end_pos")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == Map(
      "a" -> ((10L, 10L, 0L, 109L)),
      "b" -> ((20L, 19L, 5L, 219L)),
      "c" -> ((14L, 11L, 0L, 313L))))
  }

  test("ld_decay and ld_pairwise agree on totals over the shared pairs") {
    // both queries roll up the SAME variance-filtered pair frame — the
    // pair population (and its r2e4 mass) must be identical across the
    // two groupings, and every distance must fall in 1..10
    val dir = "/root/testdata/sf0.001"
    val decay = SparkEntry.graded("ld_decay").run(spark, dir)
      .select("dist", "n_pairs", "sum_r2e4")
      .as[(Long, Long, Long)].collect()
    val pair = SparkEntry.graded("ld_pairwise").run(spark, dir)
      .select("n_pairs", "sum_r2e4").as[(Long, Long)].collect()
    assert(decay.map(_._2).sum == pair.map(_._1).sum)
    assert(decay.map(_._3).sum == pair.map(_._2).sum)
    assert(decay.forall(d => d._1 >= 1 && d._1 <= 10))
  }
}
