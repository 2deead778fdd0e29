package graft

import graft.operators.{Graphs, PairGraph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 operators: the materialize-once community-audit
  * composition (modularity + conductance + size census off one pair
  * frame and one LPA label frame), and the round's scale/parity
  * fixes.
  */
class RoundThirteenOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("communityAudit: barbell graph — two triangles, one bridge") {
    // 3-round deterministic LPA on the barbell splits it into
    // {1,2,3} (label 1) and {4,5,6} (label 3); every audit number is
    // hand-derivable: m=7, e_in=6, d_c=7 each →
    // Q = (4·7·6 − 2·49)/(4·49) = 70/196 → modularity6 = 357143;
    // each community: vol 7, cut 1, φ = 1/min(7, 14−7) → 142857
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val out = PairGraph.communityAudit(pairs, "id_a", "id_b", iterations = 3)
      .orderBy("label")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect()
    assert(out.toSeq == Seq(
      (1L, 3L, 7L, 1L, 142857L, 2L, 2L, 7L, 357143L),
      (3L, 3L, 7L, 1L, 142857L, 2L, 2L, 7L, 357143L)))
  }

  test("communityAudit agrees with the standalone modularity/conductance") {
    // the composition must be the same numbers as the standalone
    // operators on the same pairs + labels — a drift here means the
    // shared-frame plumbing changed semantics
    val rnd = new scala.util.Random(13L)
    val pairs = (1 to 120).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct.toDF("id_a", "id_b")
    val audit = PairGraph.communityAudit(pairs, "id_a", "id_b", 3)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val labels = Graphs.labelPropagation(edges, "src", "dst", 3)
    val mod = Graphs.modularity(pairs, "id_a", "id_b", labels)
      .as[(Long, Long, Long)].head()
    val cond = Graphs.conductance(pairs, "id_a", "id_b", labels)
      .select("label", "n_nodes", "vol", "cut", "conductance6")
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet
    val auditRows = audit.collect()
    assert(auditRows.map(r => (r.getLong(6), r.getLong(7), r.getLong(8)))
      .toSet == Set(mod), "global columns drift from Graphs.modularity")
    assert(auditRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
      == cond, "per-community columns drift from Graphs.conductance")
    // census self-consistency: n_size_peers really counts communities
    // of the same size
    val bySize = auditRows.groupBy(_.getLong(1)).map { case (k, v) =>
      k -> v.length.toLong }
    auditRows.foreach { r =>
      assert(r.getLong(5) == bySize(r.getLong(1)))
    }
  }

  test("calendarProfile: known cells land on the right (dow, hour)") {
    import graft.operators.EventOps
    // 1970-01-01 (day 0) is a Thursday → dow 4 with the +4 convention;
    // day 3 (Sunday) → dow 0. Hours straight from the µs offset.
    val us = 86400000000L
    val rows = Seq(
      ("a", 0L),                   // Thu 00h
      ("a", 3600000000L * 5),      // Thu 05h
      ("a", 3 * us + 3600000000L * 23), // Sun 23h
      ("a", 3 * us + 3600000000L * 23)  // Sun 23h again
    ).toDF("event_type", "ts_us")
    val got = EventOps.calendarProfile(rows, "event_type", col("ts_us"))
      .select("dow", "hour", "n", "idx")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((4L, 0L, 1L, 168.0 / 4), (4L, 5L, 1L, 168.0 / 4),
      (0L, 23L, 2L, 2 * 168.0 / 4)))
  }

  test("paretoShare: whale case and exact-tie case by hand") {
    import graft.operators.EventOps
    // whale: one user with 10 events + nine with 1 → k=1, top=10/19
    val whale = (1 to 10).map(i => ("w", "u1", i)) ++
      (2 to 10).map(u => ("w", s"u$u", 0))
    // ties: 20 users with 2 events each → k=2, top=4/40 exactly
    val ties = (1 to 20).flatMap(u => Seq(("t", s"v$u", 0), ("t", s"v$u", 1)))
    val rows = (whale ++ ties).toDF("event_type", "user_id", "i")
    val got = EventOps.paretoShare(rows, "user_id", "event_type")
      .select("event_type", "n_users", "n_events", "k_top", "top_events",
        "share4")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("w", 10L, 19L, 1L, 10L, math.round(10000.0 * 10 / 19)),
      ("t", 20L, 40L, 2L, 4L, 1000L)))
  }

  test("streakCensus: gaps-and-islands by hand") {
    import graft.operators.EventOps
    val us = 86400000000L
    // A: days 0,1,2 then 5,6 → longest 3; B: day 10 only → 1;
    // C: days 20,21 (two events on 21 — distinct collapses) → 2
    val rows = Seq(("A", 0L), ("A", 1L), ("A", 2L), ("A", 5L), ("A", 6L),
      ("B", 10L), ("C", 20L), ("C", 21L), ("C", 21L))
      .map { case (u, d) => (u, d * us + 7L) }
      .toDF("user_id", "ts_us")
    val got = EventOps.streakCensus(rows, "user_id", col("ts_us"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 1L), (1L, 1L), (2L, 1L)))
  }

  test("text_compression_proxy / dna_cpg_oe / embed_norm_outliers by hand") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata unavailable here")
    // compression proxy: a repeated-text source must score a lower
    // distinct/total ratio than a diverse one — structural property on
    // real data rather than a second arithmetic transcription
    val cp = SparkEntry.graded("text_compression_proxy").run(spark, dir)
      .collect()
    assert(cp.nonEmpty)
    cp.foreach { r =>
      val (tot, dis) = (r.getLong(1), r.getLong(2))
      assert(dis <= tot && dis <= 46656, // ≤ 36³ possible trigrams
        s"${r.getString(0)}: distinct $dis vs total $tot")
      assert(r.getLong(3) == math.round(10000.0 * dis / tot))
    }
    // CpG: hand sequence checks of the counting identities on the
    // graded output (len is 32 by construction — md5-derived)
    val cg = SparkEntry.graded("dna_cpg_oe").run(spark, dir).collect()
    assert(cg.nonEmpty)
    cg.foreach { r =>
      assert(r.getLong(1) == 32L)
      val (ncg, nc, ng) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ncg <= math.min(nc, ng), "CG pairs exceed letter counts")
      if (nc > 0 && ng > 0) {
        assert(r.getLong(5) == math.round(10000.0 * ncg * 32 / (nc * ng)))
        assert(r.getBoolean(6) ==
          (ncg * 32 * 10 >= nc * ng * 6 && (nc + ng) * 2 >= 32))
      } else assert(r.isNullAt(5) && !r.getBoolean(6))
    }
    // norm outliers: a planted exploded-norm vector must flag, the
    // uniform rest must not
    val emb = ((1L to 50L).map(i => (i, Array.fill(4)(1.0f), "a")) :+
      ((99L, Array.fill(4)(100.0f), "a")))
      .toDF("vec_id", "embedding", "label")
    val out = {
      // route through the same expression chain as the graded query
      val e = emb.select(col("label"),
        round(graft.operators.Similarity.norm(col("embedding")) * 10000)
          .cast("long").as("x4"))
      val stats = e.groupBy("label").agg(count(lit(1)).as("n"),
        sum("x4").as("s"), sum(col("x4") * col("x4")).as("ss"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val dev = dec(col("n") * col("x4") - col("s"))
      val varTerm = dec(col("n")) * dec(col("ss")) - dec(col("s")) * dec(col("s"))
      e.join(broadcast(stats), "label")
        .select(when(dev * dev > varTerm * 4, 1L).otherwise(0L).as("flag"))
        .agg(sum("flag")).as[Long].head()
    }
    assert(out == 1L, s"expected exactly the planted outlier, got $out")
  }

  test("seasonalNaiveBaseline: hand series with a gap") {
    import graft.operators.EventOps
    // 10-day span, day 4 missing (zero-filled): counts
    // [3,1,4,1,0,9,2,6,5,3] after densify
    val us = 86400000000L
    val observed = Map(0 -> 3, 1 -> 1, 2 -> 4, 3 -> 1, 5 -> 9, 6 -> 2,
      7 -> 6, 8 -> 5, 9 -> 3)
    val rows = observed.toSeq.flatMap { case (d, n) =>
      (0 until n).map(i => ("a", d * us + i))
    }.toDF("event_type", "ts_us")
    val dense = (0 to 9).map(d => observed.getOrElse(d, 0))
    val s7 = (7 to 9).map(i => math.abs(dense(i) - dense(i - 7))).sum
    val s1 = (1 to 9).map(i => math.abs(dense(i) - dense(i - 1))).sum
    val got = EventOps.seasonalNaiveBaseline(rows, "event_type",
        col("ts_us"))
      .select("n_days", "sum_abs7", "mae7_4", "sum_abs1", "mae1_4",
        "ratio4")
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((10L, s7.toLong, math.round(10000.0 * s7 / 3),
      s1.toLong, math.round(10000.0 * s1 / 9),
      math.round(10000.0 * s7 * 9 / (3.0 * s1)))))
  }

  test("dedup_jaccard_hist: buckets partition the graded pair frame") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata unavailable here")
    val h = SparkEntry.graded("dedup_jaccard_hist").run(spark, dir).collect()
    assert(h.nonEmpty)
    // buckets at/above the 0.2 threshold only; min/max inside bucket
    h.foreach { r =>
      val (b, minJ, maxJ) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(b >= 2 && b <= 10)
      assert(minJ >= b * 1000 && (b == 10 || maxJ < (b + 1) * 1000))
    }
    // total pairs == the graded pair count
    val n = SparkEntry.graded("dedup_ngram_jaccard").run(spark, dir).count()
    assert(h.map(_.getLong(1)).sum == n)
  }

  test("Sam.parsePaired: mate fields parse, malformed quarantines") {
    import graft.sources.Sam
    // a proper R1: TLEN +300, PNEXT 451
    val r1 = Sam.parsePaired(
      "p1_1\t99\tchr2\t201\t30\t50M\t=\t451\t300\t*\t*")
    assert(r1.contains(Sam.SamPairRow("p1_1", 99, "chr2", 201L, 30,
      "=", 451L, 300L)))
    // its R2: TLEN −300
    val r2 = Sam.parsePaired(
      "p1_1\t147\tchr2\t451\t30\t50M\t=\t201\t-300\t*\t*")
    assert(r2.exists(_.tlen == -300L))
    // quarantines: header, unmapped (* cigar), non-numeric TLEN,
    // malformed CIGAR
    assert(Sam.parsePaired("@SQ\tSN:chr0\tLN:1").isEmpty)
    assert(Sam.parsePaired(
      "q\t4\t*\t0\t0\t*\t*\t0\t0\t*\t*").isEmpty)
    assert(Sam.parsePaired(
      "q\t99\tchr1\t10\t30\t50M\t=\t60\tNaNv\t*\t*").isEmpty)
    assert(Sam.parsePaired(
      "q\t99\tchr1\t10\t30\t5Q\t=\t60\t300\t*\t*").isEmpty)
  }

  test("syntheticMediaMixed: quarantine arms decode to (0,0), valid arms don't") {
    import graft.operators.Multimodal
    // ids 0..9 cover every residue twice
    val media = Multimodal.syntheticMediaMixed(
      (0L until 10L).toDF("doc_id"), "doc_id")
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats.size == 10)
    for (id <- 0L until 10L) {
      val f = feats(id)
      (id % 5) match {
        case 0 => // BMP: synthesis formulas round-trip through the codec
          assert(f.kind == "image" && f.width == 16 + id % 256 &&
            f.height == 16 + (id * 7) % 256)
        case 1 => // WAV: (rate, channels)
          assert(f.kind == "audio" && f.width == 8000 + (id % 8) * 1000 &&
            f.height == 1 + id % 2)
        case 2 => // AVI: (avih width, height)
          assert(f.kind == "video" && f.width == 32 + id % 64 &&
            f.height == 24 + id % 48)
        case 3 => // JPEG header: real format, no decoder → quarantine
          assert(f.kind == "image" && f.width == 0 && f.height == 0)
        case _ => // truncated RIFF: malformed on arrival → quarantine
          assert(f.kind == "audio" && f.width == 0 && f.height == 0)
      }
    }
  }

  test("ivfProbeIndex: bucketed scan, zero exchange on the index side") {
    import graft.operators.Similarity
    // build a tiny index from deterministic vectors, probe it, and
    // assert the serving-shape contract (VERDICT r12 item 3): the only
    // shuffle in the probe plan is the per-query top-k window over
    // SCORED rows — the persisted index streams from its bucketed scan
    // straight into the broadcast join
    val rnd = new scala.util.Random(7L)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val cent = Similarity.ivfQuantizer(16, 64)
    Similarity.ivfWriteIndex(emb, "vec_id", "embedding", cent,
      table = "graft_ivf_index_spec", buckets = 8)
    val probe = Similarity.ivfProbeIndex(spark, "graft_ivf_index_spec",
      emb.filter($"vec_id" % 40 === 0), "vec_id", "embedding", cent,
      k = 3, nprobe = 2)
    // AQE roots the plan in AdaptiveSparkPlanExec (a LEAF node — a
    // plain .collect sees nothing inside); unwrap it explicitly
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val nodes = allNodes(probe.queryExecution.executedPlan)
    val planStr = probe.queryExecution.executedPlan.toString
    val shuffles = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length == 1,
      s"expected exactly the top-k window shuffle, got:\n$planStr")
    // that one shuffle sits ABOVE the probe join: its subtree already
    // contains the join, so the index scan → join path is exchange-free
    val joinInShuffleChild = shuffles.head.child.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joinInShuffleChild.nonEmpty,
      s"probe join not below the single shuffle:\n$planStr")
    // and the index side really is the bucketed layout (not a re-read
    // of raw embeddings): the scan reports its bucket spec
    val bucketedScans = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.bucketSpec.isDefined => f
    }
    assert(bucketedScans.nonEmpty, s"no bucketed scan in probe plan:\n$planStr")
    // and the results equal the one-plan ivfSearch on the same data
    val fused = Similarity.ivfSearch(emb, emb.filter($"vec_id" % 40 === 0),
      "vec_id", "embedding", cent, k = 3, nprobe = 2)
      .select("query_id", "corpus_id", "cos_sim", "rank")
    assert(probe.select("query_id", "corpus_id", "cos_sim", "rank")
      .collect().toSet == fused.collect().toSet)
  }
}
