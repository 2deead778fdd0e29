package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Similarity}

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("repetitionProfile: hand-derived fractions and keep flag") {
    val docs = Seq(
      (1L, "aa bb aa bb aa bb"),          // one bigram dominates -> drop
      (2L, "one two three four five six seven eight nine ten"), // distinct -> keep
      (3L, "x"),                          // below minWords -> drop
      (4L, "go go go stop go go go stop go go go stop")) // dup trigrams
      .toDF("doc_id", "text")
    val out = Curation.repetitionProfile(docs, "doc_id", "text")
      .orderBy("doc_id").collect()

    // doc 1: 6 words, 2 distinct; bigrams: "aa bb"x3, "bb aa"x2 (5 total,
    // each 5 chars) -> top frac 15/25; trigrams: "aa bb aa"x2,
    // "bb aa bb"x2 (4 of 4 duplicated)
    assert(out(0).getAs[Long]("n_words") == 6)
    assert(out(0).getAs[Double]("dup_word_frac") == 0.6667)
    assert(out(0).getAs[Double]("top_bigram_frac") == 0.6)
    assert(out(0).getAs[Double]("dup_trigram_frac") == 1.0)
    assert(out(0).getAs[Int]("keep") == 0)

    // doc 2: clean text keeps
    assert(out(1).getAs[Double]("dup_word_frac") == 0.0)
    assert(out(1).getAs[Int]("keep") == 1)

    // doc 3: 1 word < minWords
    assert(out(2).getAs[Long]("n_words") == 1)
    assert(out(2).getAs[Int]("keep") == 0)

    // doc 4: "go go go" repeats -> dup_trigram_frac high; top bigram
    // "go go" x6 of 11 bigrams
    assert(out(3).getAs[Double]("dup_trigram_frac") > 0.5)
    assert(out(3).getAs[Int]("keep") == 0)
  }

  test("repetitionProfile: top-bigram tie breaks to lexicographically smallest") {
    // "b c" and "a b" both appear once; ties must pick "a b"
    // (count desc, gram asc) in the kernel exactly as the oracle's window
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val r = Curation.repetitionProfile(docs, "doc_id", "text").collect()(0)
    // top bigram "a b" (3 chars) of total 6 bigram chars
    assert(r.getAs[Double]("top_bigram_frac") == 0.5)
  }

  test("decontaminate: flags exactly the docs sharing an n-gram") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "lazy dogs sleep all day"),                         // clean
      (2L, "he said the quick brown fox runs"),                // 1 shared 4-gram
      (3L, "the quick brown fox jumps high today"))            // 2 shared
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", n = 4)
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((2L, 1L), (3L, 2L)))
  }

  test("decontaminateFuzzy: near-dup of a bench doc flagged, unrelated not") {
    val base = "the quick brown fox jumps over the lazy dog near the river " +
      "bank every single morning before the sun rises over the far hills"
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val train = Seq(
      (1L, base),                                   // exact dup: all bands
      (2L, base.replace("morning", "evening")),     // near dup: >=1 band
      (3L, "completely different text about sparks and distributed joins"))
      .toDF("doc_id", "text")
    val out = Curation.decontaminateFuzzy(train, bench, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 4L)          // exact dup shares every band
    assert(out.getOrElse(2L, 0L) >= 1L, s"near-dup not flagged: $out")
    assert(!out.contains(3L))
  }

  test("decontaminate: distinct grams per doc count once") {
    val bench = Seq((9L, "x y z w")).toDF("doc_id", "text")
    val train = Seq((1L, "x y z w and x y z w again")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L)))
  }

  test("scrubPii: counts and redaction order") {
    val docs = Seq(
      (1L, "mail a.b-c@test.org or x@y.io now"),
      (2L, "server 192.168.1.10 and 10.0.0.1"),
      (3L, "call 555-1234 please"),
      (4L, "all: a@b.cc 1.2.3.4 555-0000"),
      (5L, "clean text")).toDF("doc_id", "text")
    val out = Curation.scrubPii(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_email") == 2)
    assert(out(0).getAs[String]("clean") == "mail <EMAIL> or <EMAIL> now")
    assert(out(1).getAs[Long]("n_ip") == 2)
    assert(out(1).getAs[String]("clean") == "server <IP> and <IP>")
    assert(out(2).getAs[Long]("n_phone") == 1)
    assert(out(2).getAs[String]("clean") == "call <PHONE> please")
    assert(out(3).getAs[String]("clean") == "all: <EMAIL> <IP> <PHONE>")
    assert(out(4).getAs[String]("clean") == "clean text")
  }

  test("stratifiedSample: deterministic, rate-bounded, flattens strata") {
    val docs = (0L until 900L).map(i =>
      (i, if (i % 9 == 0) "rare" else "common")).toDF("doc_id", "lang")
    val s1 = Curation.stratifiedSample(docs, "doc_id", "lang",
      targetFrac = 0.4, alpha = 0.5)
    val s2 = Curation.stratifiedSample(docs, "doc_id", "lang",
      targetFrac = 0.4, alpha = 0.5)
    // pure function of ids: identical across runs
    assert(s1.select("doc_id", "lang").orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      s2.select("doc_id", "lang").orderBy("doc_id").as[(Long, String)].collect().toSeq)
    val byLang = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    // temperature 0.5 upsamples the rare stratum: its keep RATE must
    // exceed the common stratum's (100 rare vs 800 common input rows)
    assert(byLang("rare").toDouble / 100 > byLang("common").toDouble / 800)
    // and the overall sample lands near the 40% target
    val total = byLang.values.sum.toDouble
    assert(total > 900 * 0.3 && total < 900 * 0.5)
  }

  test("dedupIncremental drops corpus near-dups, keeps novel batch docs") {
    val corp = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "entirely different corpus content about spark plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact dup
      (11L, "zq unique glyph sequence xw nothing shared qz wv"))  // novel
      .toDF("doc_id", "text")
    val out = Curation.dedupIncremental(corp, batch, "doc_id", "text",
        minSharedBands = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(11L)) // the exact dup shares ALL bands and drops
    // at an impossible threshold nothing can drop
    assert(Curation.dedupIncremental(corp, batch, "doc_id", "text",
      minSharedBands = 99).count() == 2L)
  }

  test("sampleExactK: exactly k per stratum, deterministic, small strata kept whole") {
    val docs = (0L until 300L).map(i =>
      (i, if (i < 290) "big" else "tiny")).toDF("doc_id", "lang")
    val s1 = Curation.sampleExactK(docs, "doc_id", "lang", k = 25)
      .as[(String, Long, Long)].collect().toSet
    val s2 = Curation.sampleExactK(docs, "doc_id", "lang", k = 25)
      .as[(String, Long, Long)].collect().toSet
    assert(s1 == s2) // pure function of the ids
    val byLang = s1.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byLang == Map("big" -> 25, "tiny" -> 10)) // min(k, |stratum|)
    // rk is a 1..k dense rank within each stratum
    assert(s1.filter(_._1 == "big").map(_._3).toSet == (1L to 25L).toSet)
    // the pick is the md5-rank prefix, not the first-k ids
    assert(s1.filter(_._1 == "big").map(_._2) != (0L until 25L).toSet)
  }

  test("curateMix: dedup keeps lowest id, contaminated docs drop, strata survive") {
    val bench = Seq((100L, "secret benchmark phrase here today")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),   // clean, kept pool
      (2L, "alpha beta gamma delta epsilon zeta", "en"),   // exact dup of 1 -> dropped
      (3L, "secret benchmark phrase here today ok", "en"), // contaminated -> dropped
      (4L, "uno dos tres cuatro cinco seis siete ocho nueve diez", "es"),
      (5L, "aa aa aa aa aa aa aa aa", "en"))               // fails repetition gate
      .toDF("doc_id", "text", "lang")
    val out = Curation.curateMix(corpus, bench, "doc_id", "text", "lang",
        decontamN = 4, targetFrac = 1.0, alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // targetFrac 1.0 -> per-stratum rates clamp to 1, so survivors = the
    // curated set exactly: 2 (dup), 3 (contaminated), 5 (repetitive) gone
    assert(out == Set(1L, 4L))
  }

  test("semanticDupPairs matches brute-force within-cluster pairs") {
    val vecs = (0L until 60L).map { i =>
      val base = Array.tabulate(8)(j => ((i % 5) * 8 + j).toFloat / 40f)
      // make ids 10/11 an exact duplicate pair in whatever cluster they land
      val v = if (i == 11) Array.tabulate(8)(j => ((10 % 5) * 8 + j).toFloat / 40f) else base
      (i, v)
    }.toDF("vec_id", "embedding")
    val cents = Array.tabulate(4)(c => Array.tabulate(8)(j => (c * 8 + j).toFloat / 32f))
    val got = Similarity.semanticDupPairs(vecs, "vec_id", "embedding", cents,
      minCos = 0.999).as[(Int, Long, Long, Double)].collect().toSet
    // brute force: same assignment + all pairs, keep cos >= 0.999
    import TestSpark.spark.implicits._
    val assigned = vecs.select(col("vec_id"), col("embedding"),
      array_min(array(cents.zipWithIndex.map { case (cv, ci) =>
        struct((lit(Similarity.selfDot(cv)) - lit(2.0) *
          graft.functions.Vec.dotF(col("embedding"), typedLit(cv))).as("d"),
          lit(ci).as("c"))
      }: _*)).getField("c").as("cluster"))
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    val want = a.join(b, "cluster").filter(col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= 0.999)
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(got.exists { case (_, x, y, _) => x == 10L && y == 11L })
  }

  test("streaming quality gate matches the batch gate, stateless plan") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "aa bb aa bb aa bb", Timestamp.valueOf("2024-01-01 00:00:01")),
      (2L, "one two three four five six seven eight nine ten",
        Timestamp.valueOf("2024-01-01 00:00:02")),
      (3L, "x", Timestamp.valueOf("2024-01-01 00:00:03")))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val gated = Curation.repetitionGate(
      mem.toDF().toDF("doc_id", "text", "ts"), "text")
    val q = gated.writeStream.format("memory").queryName("sq_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sq_out").select("doc_id").as[Long].collect().toSet
      // batch twin on the same rows
      val want = graft.operators.Curation.repetitionGate(
          rows.toDF("doc_id", "text", "ts"), "text")
        .select("doc_id").as[Long].collect().toSet
      assert(got == want && got == Set(2L))
      // stateless: the streaming plan must contain no stateful operator
      assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"))
    } finally q.stop()
  }

  test("streaming decontamination: stream-static hits match batch, stateless") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val rows = Seq(
      (1L, "lazy dogs sleep all day", Timestamp.valueOf("2024-01-01 00:00:01")),
      (2L, "he said the quick brown fox runs", Timestamp.valueOf("2024-01-01 00:00:02")),
      (3L, "the quick brown fox jumps high today", Timestamp.valueOf("2024-01-01 00:00:03")))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val hits = Curation.decontaminationHits(
      mem.toDF().toDF("doc_id", "text", "ts"), bench, "doc_id", "text", n = 4)
    val q = hits.writeStream.format("memory").queryName("sd_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sd_out").groupBy("doc_id").count()
        .as[(Long, Long)].collect().toMap
      // per-doc hit counts equal the batch twin's n_shared
      val want = Curation.decontaminate(
          rows.toDF("doc_id", "text", "ts"), bench, "doc_id", "text", n = 4)
        .as[(Long, Long)].collect().toMap
      assert(got == want && got == Map(2L -> 1L, 3L -> 2L))
      // the stream-static join plan must carry no stateful operator
      assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"))
    } finally q.stop()
  }

  test("semanticDropIds keeps the lowest id of each duplicate group") {
    val v = Array.tabulate(8)(_.toFloat / 8f)
    val vecs = Seq((5L, v), (2L, v), (9L, v),
      (1L, Array.tabulate(8)(j => (7 - j).toFloat / 8f)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array.fill(8)(0.1f))
    val dropped = Similarity.semanticDropIds(vecs, "vec_id", "embedding",
      cents, minCos = 0.999).as[Long].collect().toSet
    // group {2,5,9}: keep 2, drop 5 and 9; singleton 1 untouched
    assert(dropped == Set(5L, 9L))
  }

  test("shardBalanced deals size-ranked docs round-robin, deterministically") {
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L),
      (6L, 60L)).toDF("doc_id", "n_chars")
    val out = Curation.shardBalanced(docs, "doc_id", "n_chars", numShards = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // size-desc order 6,5,4,3,2,1 dealt 0,1,0,1,0,1
    assert(out == Map(6L -> 0L, 5L -> 1L, 4L -> 0L, 3L -> 1L, 2L -> 0L,
      1L -> 1L))
    // LPT deal balances totals: 60+40+20 vs 50+30+10
    val totals = docs.join(
        Curation.shardBalanced(docs, "doc_id", "n_chars", 2)
          .select(col("doc_id"), col("shard")), "doc_id")
      .groupBy("shard").agg(sum("n_chars")).as[(Long, Long)].collect().toMap
    assert(totals == Map(0L -> 120L, 1L -> 90L))
  }

  test("packGreedy cuts bins where the running size crosses the budget") {
    val docs = Seq((1L, "x", 3L), (2L, "x", 4L), (3L, "x", 5L),
      (4L, "x", 2L), (5L, "x", 6L), (6L, "y", 11L))
      .toDF("doc_id", "lang", "n_chars")
    val out = Curation.packGreedy(docs, "doc_id", "n_chars", "lang", 10L)
      .as[(String, Long, Long, Long)].collect().toSet
    // lang x cums 3,7,12,14,20 -> starts 0,3,7,12,14 -> bins 0,0,0,1,1
    // an over-budget doc still starts bin 0 (overflow-by-one rule)
    assert(out == Set(("x", 0L, 3L, 12L), ("x", 1L, 2L, 8L),
      ("y", 0L, 1L, 11L)))
    // the partition column need not literally be named "lang"
    val renamed = Curation.packGreedy(
        docs.withColumnRenamed("lang", "language"),
        "doc_id", "n_chars", "language", 10L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(renamed == out)
  }
}
