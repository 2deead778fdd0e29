package graft

import graft.functions.BpeOps
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 operators: BPE training proved against an independent
  * reference implementation (Sennrich et al. 2016 §3.2 `learn_bpe`,
  * re-implemented here driver-side with plain collections — no shared
  * code with the distributed path), and the train→apply chain: the
  * merges bpeTrain learns drive the BpeEncode kernel to exactly the
  * token states training itself ended in.
  */
class RoundElevenOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Sennrich merge pass: ALL non-overlapping occurrences, left to
    * right. */
  private def mergePass(toks: Vector[String],
                        a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == a && toks(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Independent learn_bpe: word-freq table, n rounds of (count pairs,
    * argmax with (cnt desc, a asc, b asc) tie-break, merge pass).
    * Returns the merge list and the final per-word token states. */
  private def refLearn(corpus: Seq[String], n: Int)
      : (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
    val wordFreq = corpus.flatMap(_.split(" ")).filter(_.length > 1)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var states = wordFreq.map { case (w, f) =>
      w -> ((w.map(_.toString).toVector, f))
    }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    for (_ <- 0 until n if !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      states.values.foreach { case (toks, f) =>
        var i = 0
        while (i < toks.length - 1) {
          counts((toks(i), toks(i + 1))) += f; i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((a, b, c))
        states = states.map { case (w, (toks, f)) =>
          w -> ((mergePass(toks, a, b), f))
        }
      }
    }
    (merges.toSeq, states.map { case (w, (t, _)) => w -> t })
  }

  // lowercase single-space corpus: normalization is the identity, so
  // the reference needs no normText mirror. Engineered so that (a)
  // multi-char merges chain off earlier ones, (b) at least one round
  // has a count TIE that only the (a, b) lexicographic tie-break
  // resolves, (c) words repeat with different frequencies.
  private val corpus = Seq(
    "the cat sat on the mat the cat sat",
    "that rat ate the cake that rat made",
    "banana bandana cabana the banana stand",
    "low lower lowest low low slow slower",
    "newer newest new news the newt knew")

  test("bpeTrain matches the independent learn_bpe merge for merge") {
    val got = TextAnalysis.bpeTrain(corpus.toDF("text"), "text", 12)
    val (want, _) = refLearn(corpus, 12)
    assert(got == want,
      s"merge lists diverge:\n got=$got\nwant=$want")
  }

  test("trained merges drive the kernel to the training's own states") {
    val merges = TextAnalysis.bpeTrain(corpus.toDF("text"), "text", 12)
    val (_, refStates) = refLearn(corpus, 12)
    val model = BpeOps.BpeModel(merges.map(m => (m._1, m._2)))
    val words = refStates.keys.toSeq.sorted
    val encoded = words.toDF("w")
      .select(col("w"), graft.functions.Bpe.encode(col("w"), model).as("t"))
      .as[(String, Seq[String])].collect().toMap
    for (w <- words)
      assert(encoded(w).toVector == refStates(w),
        s"'$w': kernel ${encoded(w)} vs training state ${refStates(w)}")
  }

  test("StreamKmv: state across any trigger chop equals the batch bottom-k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamKmv
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val K = 16
    // 40 distinct keys per group (> K forces real truncation), with
    // duplicates WITHIN and ACROSS triggers so the set-union semantics
    // are exercised both ways; group g2 stays under K to exercise the
    // exact fallback
    val keys = (1 to 40).map(i => s"user$i")
    val t1 = keys.take(20).map(k => StreamKmv.Rec("g1", k)) ++
      Seq("a", "b", "a").map(k => StreamKmv.Rec("g2", k))
    val t2 = keys.slice(10, 30).map(k => StreamKmv.Rec("g1", k)) ++
      Seq("b", "c").map(k => StreamKmv.Rec("g2", k))
    val t3 = keys.slice(25, 40).map(k => StreamKmv.Rec("g1", k))

    val mem = MemoryStream[StreamKmv.Rec]
    val q = StreamKmv.sketch(mem.toDS(), K)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("append").start()
    try {
      Seq(t1, t2, t3).foreach { t =>
        mem.addData(t); q.processAllAvailable()
      }
      // latest row per group (kUsed grows monotonically; the last
      // trigger's row is the one with the largest us-set... not
      // necessarily — take the row from the final trigger by batch id
      // proxy: rows arrive in trigger order, so the LAST row per group
      // in arrival order is the final state)
      val rows = spark.table("kmv_out")
        .as[(String, Int, Vector[Long], Double)].collect()
      val finalByGrp = rows.zipWithIndex
        .groupBy(_._1._1).map { case (g, rs) => g -> rs.maxBy(_._2)._1 }
      // batch twin DERIVED THROUGH SPARK SQL functions — this also
      // proves the JVM digest in h48 is bit-identical to
      // conv(substring(md5(..), 1, 12), 16, 10)
      val all = (t1 ++ t2 ++ t3).map(r => (r.grp, r.key))
      val batch = all.toDF("grp", "key")
        .select(col("grp"),
          conv(substring(md5(col("key")), 1, 12), 16, 10)
            .cast("long").as("h"))
        .distinct().as[(String, Long)].collect()
        .groupBy(_._1).map { case (g, hs) =>
          g -> hs.map(_._2).toVector.sorted.take(K)
        }
      assert(finalByGrp.keySet == Set("g1", "g2"))
      for (g <- finalByGrp.keySet) {
        val (_, kUsed, us, est4) = finalByGrp(g)
        assert(us == batch(g), s"$g: streamed state != batch bottom-k")
        assert(kUsed == batch(g).size)
        // bounded-state contract: never more than K uniforms
        assert(us.size <= K)
        // estimator: exact fallback under K, (K-1)/u_k at saturation,
        // 4 dp HALF_UP — the kmvSetOps chain
        val want =
          if (us.size < K) us.size.toDouble
          else BigDecimal((K - 1).toDouble /
            (us.last.toDouble / 281474976710656.0))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(est4 == want, s"$g: est4 $est4 != $want")
      }
      // g1 truncated for real; g2 on the exact branch
      assert(finalByGrp("g1")._3.size == K)
      assert(finalByGrp("g2")._3.size == 3 &&
        finalByGrp("g2")._4 == 3.0)
    } finally q.stop()
  }

  test("connectedComponents: mega-component labels exact; jump is salted") {
    import graft.operators.Dedup
    // one 3000-node mega-component with both a long chain (forces
    // pointer-jumping rounds) and a hot star hub (forces label fan-in:
    // after round 1 thousands of nodes carry the SAME label — the
    // exact shape whose jump join single-tasks unsalted), plus a
    // second small component and singletons
    val chain = (0L until 1500L).map(i => (i, i + 1))
    val star = (1502L until 3000L).map(i => (1500L, i))
    val bridge = Seq((1500L, 1501L), (1501L, 1502L))
    val second = Seq((5000L, 5001L), (5001L, 5002L))
    val edges = (chain ++ star ++ bridge ++ second).toDF("id_a", "id_b")
    val nodes = ((0L until 3000L) ++ Seq(5000L, 5001L, 5002L, 7777L))
      .toDF("id")
    // saltThreshold 100 << the 3000-node component: the loop's own
    // fan-in statistic must engage the salted jump from round 2 on
    val labels = Dedup.connectedComponents(edges, nodes, "id",
        saltThreshold = 100L)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 3004)
    assert((0L until 3000L).forall(labels(_) == 0L),
      "mega-component must collapse to min id 0")
    assert(Seq(5000L, 5001L, 5002L).forall(labels(_) == 5000L))
    assert(labels(7777L) == 7777L, "singleton keeps its own id")

    // the salted-shape claim, asserted on the plan: labelJump's lookup
    // join must key on (group_id, __salt) with the bucketed replicate
    // on the other side — not a plain group_id self-join
    val df = nodes.select(col("id"), col("id").as("old_gid"),
      (col("id") % 10).as("group_id"))
    val plan = Dedup.labelJump(df, salted = true)
      .queryExecution.optimizedPlan.toString
    // the join condition must carry BOTH the label key and the salt
    // (pmod itself constant-folds away over a LocalRelation, so the
    // condition line is the stable signature)
    val saltedJoinLine = plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("group_id") && l.contains("__salt"))
    assert(saltedJoinLine, s"jump join not salted:\n$plan")
    // and BOTH jump paths resolve labels identically through the salt
    val tiny = Seq((1L, 1L, 2L), (2L, 2L, 3L), (3L, 3L, 3L))
      .toDF("id", "old_gid", "group_id")
    for (salted <- Seq(true, false)) {
      val jumped = Dedup.labelJump(tiny, salted)
        .as[(Long, Long, Long)].collect()
        .map { case (i, _, g) => (i, g) }.toMap
      assert(jumped == Map(1L -> 3L, 2L -> 3L, 3L -> 3L),
        s"salted=$salted diverged")
    }
  }

  test("bpeTrain stops early when the corpus runs out of pairs") {
    // two 2-char words: round 1 merges (a,b) [tie with (c,d) broken
    // lexicographically... no — distinct pairs, both count 1, (a,b)
    // wins the tie]; round 2 merges (c,d); round 3 has no pairs left
    val tiny = Seq("ab cd").toDF("text")
    val merges = TextAnalysis.bpeTrain(tiny, "text", 10)
    assert(merges == Seq(("a", "b", 1L), ("c", "d", 1L)))
  }

  test("fstNum8/fstDen8 match hand-computed Hudson values") {
    import graft.operators.PopGen
    // identical pops p=0.5, m=10 haplotypes each: num = 0 − 2·(0.25/9),
    // den = 0.5 — Fst slightly negative (finite-sample), the estimator's
    // documented behavior at no differentiation
    val rows = Seq((0.5, 10.0, 0.5, 10.0), (1.0, 10.0, 0.0, 10.0))
      .toDF("p1", "m1", "p2", "m2")
    val got = rows.select(
      PopGen.fstNum8(col("p1"), col("m1"), col("p2"), col("m2")).as("n8"),
      PopGen.fstDen8(col("p1"), col("p2")).as("d8"))
      .as[(Long, Long)].collect().toSeq
    val num0 = math.round((0.0 - 0.25 / 9 - 0.25 / 9) * 1e8)
    assert(got == Seq((num0, 50000000L), (100000000L, 100000000L)))
    // fixed differences (p1=1, p2=0): num = den → Fst exactly 1
  }

  test("ldR2e4 hits the exact landmarks: perfect LD, anti-LD, none") {
    import graft.operators.PopGen
    // dosage vectors over 3-4 samples, moments computed by hand
    val cases = Seq(
      // g1 = g2 = [0,1,2]: r² = 1
      (3L, 3L, 3L, 5L, 5L, 5L, 10000L),
      // g2 = 2 − g1: perfectly anti-correlated, r² still 1
      (3L, 3L, 3L, 5L, 5L, 1L, 10000L),
      // g1=[0,0,1,1], g2=[0,1,0,1]: independent, r² = 0
      (4L, 2L, 2L, 2L, 2L, 1L, 0L))
    val df = cases.map { case (n, s1, s2, s11, s22, s12, _) =>
      (n, s1, s2, s11, s22, s12) }
      .toDF("n", "s1", "s2", "s11", "s22", "s12")
    val got = df.select(PopGen.ldR2e4(col("n"), col("s1"), col("s2"),
      col("s11"), col("s22"), col("s12")).as("r"))
      .as[Long].collect().toSeq
    assert(got == cases.map(_._7))
  }

  test("dailyHolt recurrence matches the hand-rolled fold") {
    import graft.operators.EventOps
    // per-type day counts: a=[2,4] (two days), b=[3] (one day)
    // a: l0=2, b0=0; l1 = .5*4+.5*2 = 3; b1 = .25*(3-2)+.75*0 = .25
    val us = 86400000000L
    val rows = Seq(
      ("a", 0L), ("a", 1L), ("a", us), ("a", us + 1), ("a", us + 2),
      ("a", us + 3), ("b", 5L), ("b", 6L), ("b", 7L))
      .toDF("event_type", "ts_us")
    val got = EventOps.dailyHolt(rows, "event_type", col("ts_us"),
        alpha = 0.5, beta = 0.25)
      .select("event_type", "n_days", "level", "trend", "forecast")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("a") == ((2L, 3.0, 0.25, 3.25)))
    assert(got("b") == ((1L, 3.0, 0.0, 3.0))) // single day: seed state
  }

  test("budgetSelect picks exactly the prefix within budget") {
    import graft.operators.Selection
    // scores order docs 1>2>3>4 (longer mean token); tokens 5,4,3,2
    // total=14, budget = 14*4 DIV 10 = 5 -> only doc 1 (cum 5 <= 5)
    val docs = Seq(
      (1L, "aaaaaa aaaaaa aaaaaa aaaaaa aaaaaa", "s1"),
      (2L, "bbbb bbbb bbbb bbbb", "s1"),
      (3L, "cc cc cc", "s2"),
      (4L, "d d", "s2")).toDF("doc_id", "text", "source")
    val sel = Selection.budgetSelect(docs, "doc_id", "text", "source")
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(sel == Map(1L -> 5L))
    // binWidth=1 (every score its own bin) must agree with the default:
    // the two-phase scan is a strategy, not a semantics
    val sel1 = Selection.budgetSelect(docs, "doc_id", "text", "source",
      binWidth = 1L).select("doc_id", "cum_tokens")
      .as[(Long, Long)].collect().toMap
    assert(sel1 == sel)
  }

  test("linearMmd separates orthogonal means and zeroes identical ones") {
    import graft.operators.Similarity
    val a = Seq((0L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (1L, Array(0f, 1f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.linearMmd(a, "embedding", col("vec_id") % 2 === 0)
      .as[(Long, Long, Long, Long)].collect().head
    // mu_a=(1,0), mu_b=(0,1): mmd = 1 + 1 = 2 -> x1e8
    assert(got == ((2L, 2L, 2L, 200000000L)))
    val same = Seq((0L, Array(0.5f, 0.5f)), (1L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val z = Similarity.linearMmd(same, "embedding", col("vec_id") % 2 === 0)
      .as[(Long, Long, Long, Long)].collect().head
    assert(z == ((2L, 1L, 1L, 0L)))
  }

  test("labelPropagation follows the deterministic tie-break rounds") {
    import graft.operators.Graphs
    // path graph 1—2—3 (both directions): the min-label tie-break and
    // the synchronous oscillation are both exercised
    // r1: 1←{2}→2 ; 2←{1,3} tie→1 ; 3←{2}→2
    // r2: 1→label(2)=1 ; 2→{2,2}→2 ; 3→1
    // r3: 1→2 ; 2→{1,1}→1 ; 3→2
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    def run(k: Int) = Graphs.labelPropagation(e, "src", "dst", k)
      .as[(Long, Long)].collect().toMap
    assert(run(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    assert(run(2) == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(run(3) == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("zipfFit recovers ~-1 on an exact 1/r frequency corpus") {
    import graft.operators.TextAnalysis
    // f_r = 12/r for r=1..4: a 12, b 6, c 4, d 3 — slope ≈ −1
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val got = TextAnalysis.zipfFit(Seq(("en", text)).toDF("lang", "text"),
        "lang", "text", minCount = 1L)
      .as[(String, Long, Long)].collect().head
    assert(got._1 == "en" && got._2 == 4L)
    assert(got._3 > -10300 && got._3 < -9700,
      s"slope4 ${got._3} not ~ -10000")
  }

  test("Intervals.gaps complements the merged blocks") {
    import graft.operators.Intervals
    // chr 0: [1,5]+[3,8] merge, [20,25] apart -> one gap [9,19] len 11;
    // adjacent [25,26 -> 26,30] merges (start = prevMax+1), no gap
    val iv = Seq((0L, 1L, 5L), (0L, 3L, 8L), (0L, 20L, 25L),
      (0L, 26L, 30L), (1L, 5L, 9L)).toDF("chr", "s", "e")
    val got = Intervals.gaps(iv, Seq("chr"), col("s"), col("e"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 9L, 19L, 11L)))
  }

  test("variant_burden matches a brute-force collapse at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.graded("variant_burden").run(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val li = graft.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "l_quantity")
      .as[(Long, Int, Long, Long, Double)].collect()
    val genes = graft.Tables.part(spark, dir).select("p_partkey")
      .as[Long].collect().map { p =>
        (p, p % 5, (p * 137) % 100000,
          (p * 137) % 100000 + 50 + (p * 97) % 2000)
      }
    val qual = li.flatMap { case (o, l, s, p, qty) =>
      val td = p % 120
      val q = if (td > 0) (100 * qty.toLong + td / 2) / td else 0L
      if (q >= 50)
        Some((s"S${s % 4}", o % 5, (o * 31 + l * 7) % 100000)) else None
    }
    val burden = scala.collection.mutable.Map[(Long, String), Long]()
    for ((smp, chr, pos) <- qual; (g, gchr, gs, ge) <- genes
         if gchr == chr && pos >= gs && pos <= ge)
      burden((g, smp)) = burden.getOrElse((g, smp), 0L) + 1
    val expect = burden.groupBy(_._1._1)
      .map { case (g, m) =>
        g -> ((m.size.toLong, m.values.sum, m.values.max)) }
      .filter(_._2._1 >= 2)
    assert(got == expect)
  }

  test("plsaStep responsibilities normalize and favor the init topic") {
    import graft.operators.Topics
    // one doc, two words: r0..r3 per word must sum to ~1e6 (rounded),
    // and the M-step weights must reflect p(z|d)·p(w|z) exactly —
    // re-derive the full arithmetic in Scala (commons-codec md5, same
    // operation order) and compare the graded output
    val docs = Seq((7L, "alpha beta alpha")).toDF("doc_id", "text")
    val got = Topics.plsaStep(docs, "doc_id", "text", k = 4, topN = 10)
      .as[(Long, Long, String, Long)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    def h32(s: String): Long =
      java.lang.Long.parseLong(org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s).substring(0, 8), 16)
    val words = Map("alpha" -> 2L, "beta" -> 1L)
    val wt = for (w <- words.keys; z <- 0 until 4)
      yield (w, z) -> (1L + h32(s"$w:$z") % 1000)
    val wtm = wt.toMap
    val bz = (0 until 4).map(z => z -> words.keys.map(w => wtm((w, z))).sum)
      .toMap
    val expect = (for (w <- words.keys; z <- 0 until 4) yield {
      def num(zz: Int) = (wtm((w, zz)).toDouble / bz(zz)) *
        ((1.0 + (7 + zz) % 4) / 10)
      val denom = num(0) + num(1) + num(2) + num(3)
      val r6 = BigDecimal(num(z) / denom * 1000000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (z.toLong, w) -> words(w) * r6
    }).toMap
    assert(got == expect)
  }

  test("changepoint finds the hand-computed CUSUM argmax split") {
    import graft.operators.EventOps
    // counts [1,1,10,10] over days 0..3: S=[1,2,12,22], D=4, SD=22
    // scores |D*Sk - k*SD|: k1=18, k2=36, k3=18 -> split after day 1
    val us = 86400000000L
    val rows = (Seq.fill(1)(0L) ++ Seq.fill(1)(us) ++
      Seq.fill(10)(2 * us) ++ Seq.fill(10)(3 * us))
      .map(("a", _)).toDF("event_type", "ts_us")
    val got = EventOps.changepoint(rows, "event_type", col("ts_us"))
      .as[(String, Long, Long, Long)].collect().head
    assert(got == (("a", 4L, 1L, 36L)))
  }

  test("sq8Audit reconstructs exact codes and scores the rest") {
    import graft.operators.Similarity
    // dim0: {0, 0.4, 1} — 0.4 quantizes to code 102 = 0.4 exactly
    // (102/255), so MSE 0; dim1: {0, 0.3, 1} — 0.3 -> code 77,
    // dequant 77e6/255, nonzero error computed with the same doubles
    val vecs = Seq(Array(0f, 0f), Array(0.4f, 0.3f), Array(1f, 1f))
      .map(Tuple1(_)).toDF("embedding")
    val got = Similarity.sq8Audit(vecs, "embedding")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 0L, 1000000L, 3L, 0.0)))
    val v6 = math.round(0.3f.toDouble * 1000000) // float->double widen
    val q = math.round(255.0 * (v6 - 0) / 1000000).toDouble
    val deq = 0L + q * 1000000 / 255.0
    val esq = math.round((deq - v6) * (deq - v6))
    assert(got(1L)._5 == esq / 3.0)
  }

  test("kcorePeel peels the chain off a triangle") {
    import graft.operators.Graphs
    // triangle {1,2,3} + chain 3-4-5: r1 drops 5 (deg 1), r2 drops 4
    // (its only alive neighbor left is 3), r3 stable
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graphs.kcorePeel(e, "src", "dst", k = 2, rounds = 3)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == ((5L, 4L, 3L, 3L)))
  }

  test("canonical k-mers: palindromes and strand flips") {
    import graft.functions.Dna
    val got = Seq("AAAA", "ACGT", "TTTA").toDF("kmer")
      .select(least(col("kmer"),
        Dna.reverseComplement(col("kmer"))).as("c"))
      .as[String].collect().toSeq
    assert(got == Seq("AAAA", "ACGT", "TAAA"))
  }

  test("StreamHolt equals the batch fold across out-of-order chops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamHolt
    import graft.operators.EventOps
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val us = StreamHolt.DayUs
    // type a: days 0..3 with counts 2,1,3,1 — delivered out of order
    // and split mid-day across triggers (day 2's count arrives in two
    // pieces); type b: single day
    val t1 = Seq(("a", 2 * us), ("a", 0L), ("b", 5L), ("a", 2 * us + 7))
    val t2 = Seq(("a", 3 * us), ("a", us), ("a", 2 * us + 9), ("a", 1L))
    val mem = MemoryStream[StreamHolt.Ev]
    val q = StreamHolt.smooth(mem.toDS())
      .writeStream.format("memory").queryName("holt_out")
      .outputMode("append").start()
    try {
      Seq(t1, t2).foreach { t =>
        mem.addData(t.map { case (g, ts) => StreamHolt.Ev(g, ts) })
        q.processAllAvailable()
      }
      val rows = spark.table("holt_out")
        .as[(String, Long, Long, Double, Double, Double)].collect()
      val finalRows = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (g, rs) => g -> rs.maxBy(_._2)._1 }
      val batch = EventOps.dailyHolt(
          (t1 ++ t2).toDF("event_type", "ts_us"), "event_type",
          col("ts_us"), alpha = 0.5, beta = 0.25)
        .select("event_type", "n_days", "last_day", "level", "trend",
          "forecast")
        .as[(String, Long, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      assert(finalRows == batch)
    } finally q.stop()
  }

  test("IVF with nprobe = numLists recalls the brute-force top-k exactly") {
    import graft.operators.Similarity
    // probing every inverted list makes the candidate set the whole
    // corpus, so the IVF top-5 must EQUAL brute force — the recall
    // audit's 100% calibration point (the graded query's nprobe=2
    // measures the fast path's actual recall)
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val quant = Similarity.ivfQuantizer(16, 64)
    val brute = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfSearch(emb, qs, "vec_id", "embedding",
        quant, k = 5, nprobe = 16)
      .select("query_id", "corpus_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute)
  }

  test("corpus_mix_temperature upweights the small source exactly") {
    // two sources, 9 vs 1 single-token docs: alpha=0.7 lifts the small
    // source's share above its raw 10%; exact values re-derived with
    // the identical libm pow + round sequence
    val docs = (1 to 9).map(i => (i.toLong, "w", "big")) ++
      Seq((10L, "w", "small"))
    val got = graft.operators.Curation.temperatureMix(
      docs.toDF("doc_id", "text", "source"), "source", "text", 0.7)
      .select("source", "share4", "raw_share4")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def w4(t: Long) = math.round(math.pow(t.toDouble, 0.7) * 10000)
    val (wb, ws) = (w4(9), w4(1))
    def share(w: Long) = BigDecimal(10000.0 * w / (wb + ws))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(got("big") == ((share(wb), 9000L)))
    assert(got("small") == ((share(ws), 1000L)))
    assert(got("small")._1 > 1000L && got("big")._1 < 9000L)
  }

  test("conservation_sliding equals a brute-force window at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.graded("conservation_sliding").run(spark, dir)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val ev = graft.Tables.events(spark, dir)
      .select((col("user_id") % 5).cast("long"),
        (col("event_id") % 100000).cast("long"),
        round(col("value") * 10000).cast("long"))
      .as[(Long, Long, Long)].collect()
    val sites = ev.groupBy(e => (e._1, e._2)).map { case ((c, p), es) =>
      (c, p, es.map(_._3).sum, es.size.toLong) }.toSeq
    val byChr = sites.groupBy(_._1)
    val expect = byChr.toSeq.flatMap { case (chr, ss) =>
      val totS = ss.map(_._3).sum; val totN = ss.map(_._4).sum
      val conserved = ss.filter { case (_, p, _, _) =>
        val win = ss.filter(o => math.abs(o._2 - p) <= 50)
        val ws = win.map(_._3).sum; val wn = win.map(_._4).sum
        ws * totN * 5 > totS * wn * 6
      }
      if (conserved.isEmpty) None else Some(chr ->
        ((conserved.size.toLong, conserved.map { case (_, p, _, _) =>
          ss.filter(o => math.abs(o._2 - p) <= 50).map(_._4).sum }.sum)))
    }.toMap
    assert(got == expect)
  }

  test("vcf_merge_multisample assembles sample-sorted rows at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.graded("vcf_merge_multisample").run(spark, dir)
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    val cells = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_partkey"))
      .as[(Long, Int, Long, Long)].collect()
      .map { case (o, l, s, p) =>
        val gt = (p + s) % 3 match {
          case 0 => "0/1"; case 1 => "1/1"; case _ => "0/0" }
        ((o % 5, (o * 31 + l * 7) % 100000, s"S${s % 4}"), gt)
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    val expect = cells.groupBy { case ((c, p, _), _) => (c, p) }
      .collect { case (site, m) if m.size == 4 =>
        site -> m.toSeq.map { case ((_, _, smp), gt) => (smp, gt) }
          .sorted.map { case (smp, gt) => s"$smp=$gt" }.mkString(";")
      }.toMap
    assert(got == expect)
  }

  test("ld_pairwise bin replication finds every in-window pair") {
    // brute-force the pair set at sf0.001 and compare against the
    // graded query's per-chr pair counts — proves the ±1-bin probe
    // covers the whole ≤10-bp window (a missed bin edge would undercount)
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.graded("ld_pairwise").run(spark, dir)
      .select("chr", "n_pairs").as[(Long, Long)].collect().toMap
    val g = (col("l_partkey") * 13 + col("l_suppkey") * 17) % 10
    val cells = graft.Tables.lineitem(spark, dir).select(
        (col("l_orderkey") % 5).cast("long").as("chr"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 7) % 1000)
          .cast("long").as("pos"),
        (col("l_suppkey") % 20).cast("long").as("sample"),
        when(g <= 4, 0).when(g <= 8, 1).otherwise(2).as("gt"))
      .groupBy("chr", "pos", "sample").agg(max("gt").as("gv"))
      .as[(Long, Long, Long, Int)].collect()
    // distinct (chr, pos1, pos2) pairs with both variances > 0
    // (groupBy gives a Map — materialize to Seq BEFORE flatMap, or the
    // (chr, flag) results collapse by key)
    val pairStats = cells.groupBy(c => c._1).toSeq.flatMap { case (chr, cs) =>
        val bySample = cs.groupBy(_._3)
        val sites = cs.map(_._2).toSeq.distinct
        for (p1 <- sites; p2 <- sites
             if p2 > p1 && p2 - p1 <= 10) yield {
          val pairs = bySample.values.flatMap { sc =>
            val m = sc.map(c => c._2 -> c._4).toMap
            for (a <- m.get(p1); b <- m.get(p2)) yield (a, b)
          }.toSeq
          val n = pairs.size.toLong
          val s1 = pairs.map(_._1.toLong).sum
          val s2 = pairs.map(_._2.toLong).sum
          val s11 = pairs.map(p => p._1.toLong * p._1).sum
          val s22 = pairs.map(p => p._2.toLong * p._2).sum
          (chr, n * s11 - s1 * s1 > 0 && n * s22 - s2 * s2 > 0)
        }
      }
    val expect = pairStats.filter(_._2).groupBy(_._1)
      .map { case (c, xs) => c -> xs.size.toLong }
    assert(q == expect)
  }
}
