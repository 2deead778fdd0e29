package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin
import graft.streaming.StreamDedup

class SkewJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join returns exactly the plain join's rows") {
    val rnd = new scala.util.Random(3)
    // heavily skewed: 80% of rows share key 1
    val large = (1 to 2000).map(i =>
      (if (rnd.nextInt(5) < 4) 1L else rnd.nextInt(50).toLong, i.toLong))
      .toDF("k", "payload")
    val small = (0L to 49L).map(k => (k, s"dim$k")).toDF("k", "name")

    val salted = SkewJoin.saltedJoin(large, small, Seq("k"), buckets = 8)
      .select("k", "payload", "name").as[(Long, Long, String)].collect().sorted
    val plain = large.join(small, "k")
      .select("k", "payload", "name").as[(Long, Long, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq && plain.nonEmpty)
  }

  test("left join keeps unmatched rows") {
    val large = Seq((1L, 10L), (99L, 20L)).toDF("k", "payload")
    val small = Seq((1L, "one")).toDF("k", "name")
    val out = SkewJoin.saltedJoin(large, small, Seq("k"), 4, "left")
      .select("k", "name").as[(Long, Option[String])].collect().toSet
    assert(out == Set((1L, Some("one")), (99L, None)))
  }

  test("outer joins from the small side are rejected") {
    // the exploded small side would emit `buckets` duplicate unmatched rows
    val large = Seq((1L, 10L)).toDF("k", "payload")
    val small = Seq((1L, "one")).toDF("k", "name")
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(large, small, Seq("k"), 4, "right_outer")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(large, small, Seq("k"), 4, "full")
    }
  }
}

class StatefulSessionsSpec extends AnyFunSuite {
  import graft.streaming.StatefulSessions
  import graft.streaming.StatefulSessions.{ClosedSession, Event, SessionState}
  import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

  test("timeout flushes the open session and evicts state") {
    val state = TestGroupState.create[SessionState](
      org.apache.spark.api.java.Optional.of(SessionState(10L, 20L, 3L)),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = StatefulSessions.update(1800L)(7L, Iterator.empty, state).toSeq
    assert(out == Seq(ClosedSession(7L, 10L, 20L, 3L)))
    assert(state.isRemoved)
  }

  test("update registers a gap-length timeout on the open session") {
    val state = TestGroupState.create[SessionState](
      org.apache.spark.api.java.Optional.empty[SessionState](),
      GroupStateTimeout.ProcessingTimeTimeout,
      5000L, org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out = StatefulSessions.update(1800L)(
      7L, Iterator(Event(7L, 100L), Event(7L, 200L)), state).toSeq
    assert(out.isEmpty) // session still open
    assert(state.get == SessionState(100L, 200L, 2L))
    assert(state.getTimeoutTimestampMs.isPresent) // eviction armed
  }

  // an open session in state, then one trigger of late rows
  private def late(s: SessionState, ts: Long*): (Seq[ClosedSession], SessionState) = {
    val state = TestGroupState.create[SessionState](
      org.apache.spark.api.java.Optional.of(s), GroupStateTimeout.ProcessingTimeTimeout,
      5000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    (StatefulSessions.update(1800L)(7L, ts.map(Event(7L, _)).iterator, state).toSeq, state.get)
  }

  test("a row one trigger late inside the open session widens it, never shrinks its end") {
    // the batch Sessionize.sessions places 150 inside (100, 200)
    assert(late(SessionState(100L, 200L, 2L), 150L) == (Nil, SessionState(100L, 200L, 3L)))
  }

  test("a row more than the gap before the open session's start drops as late") {
    // 1000 is 4000 s before the start: dropped; 4000 is within the gap
    assert(late(SessionState(5000L, 6000L, 2L), 1000L, 4000L) ==
      (Nil, SessionState(4000L, 6000L, 3L)))
  }
}

class KeyedFoldSpec extends AnyFunSuite {
  import graft.streaming.KeyedFold
  import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

  test("a trigger that adds no rows emits nothing and leaves the state untouched") {
    val state = TestGroupState.create[Map[String, Long]](
      org.apache.spark.api.java.Optional.of(Map("a" -> 2L)), GroupStateTimeout.NoTimeout,
      0L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val fold = KeyedFold(Map.empty[String, Long])(
      KeyedFold.countBy((r: String) => r) _)((_: String, m) => m.size)
    assert(fold("k", Iterator.empty, state).isEmpty)
    assert(!state.isUpdated && state.get == Map("a" -> 2L))
    assert(fold("k", Iterator("a", "b"), state).toSeq == Seq(2))
    assert(state.get == Map("a" -> 3L, "b" -> 1L))
  }
}

class StreamMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.VariantMerge
  import graft.streaming.StreamMerge

  test("streaming merge absorbs only new natural keys, idempotently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val key = Seq("chr", "pos", "ref_nuc", "var_nuc")
    val seed = Seq(("1", 100L, "A", "G", 11L))
      .toDF("chr", "pos", "ref_nuc", "var_nuc", "variant_id")
    VariantMerge.writeBucketed(seed, "stream_merge_store", key, buckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val mem = MemoryStream[(String, Long, String, String)]
      mem.addData(
        ("1", 100L, "A", "G"),  // already loaded -> skipped
        ("1", 200L, "C", "T"),  // new
        ("1", 200L, "C", "T"))  // duplicate within the batch -> once
      val q = StreamMerge.absorb(
        mem.toDF().toDF("chr", "pos", "ref_nuc", "var_nuc")
          .withColumn("variant_id", org.apache.spark.sql.functions.lit(0L))
          .select("chr", "pos", "ref_nuc", "var_nuc", "variant_id"),
        "stream_merge_store", key, ckpt)
      q.awaitTermination()
      val stored = spark.table("stream_merge_store")
        .select("chr", "pos").as[(String, Long)].collect().toSet
      assert(stored == Set(("1", 100L), ("1", 200L)))
    } finally spark.sql("DROP TABLE IF EXISTS stream_merge_store")
  }
}

class StreamDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming dedup drops same-fingerprint docs across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val out = StreamDedup.distinctDocs(
      mem.toDF().toDF("ts", "text"), "ts", "text", "10 minutes")
    val q = out.writeStream.format("memory").queryName("sd_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:00:01"), "Hello  World"),
        (Timestamp.valueOf("2024-01-01 00:00:02"), "hello world"), // dup
        (Timestamp.valueOf("2024-01-01 00:00:03"), "different"))
      q.processAllAvailable()
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:01:00"), "HELLO   world")) // dup again
      q.processAllAvailable()
      val texts = spark.table("sd_out").select("text").as[String].collect().toSet
      assert(texts.map(_.toLowerCase.replaceAll("\\s+", " ")) ==
        Set("hello world", "different"))
    } finally q.stop()
  }
}

class StreamNearDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.streaming.StreamNearDedup

  test("scalar simhash equals the batch signature") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "Completely different content about spark engines"),
      (3L, "zz")).toDF("doc_id", "text")
    val batch = Dedup.simhash(docs, "doc_id", "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    docs.as[(Long, String)].collect().foreach { case (id, t) =>
      assert(Dedup.simhashScalar(t) == batch(id), s"doc $id")
    }
  }

  test("streaming near-dup emits hits for close docs across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = StreamNearDedup.nearDupHits(
      mem.toDF().toDF("doc_id", "ts", "text"),
      "ts", "doc_id", "text", watermark = "10 minutes", maxHamming = 3)
    val q = out.writeStream.format("memory").queryName("snd_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:01"),
          "the quick brown fox jumps over the lazy dog"),
        (2L, Timestamp.valueOf("2024-01-01 00:00:02"),
          "totally unrelated text about distributed query engines"))
      q.processAllAvailable()
      assert(spark.table("snd_out").count() == 0) // nothing near yet
      mem.addData(
        (3L, Timestamp.valueOf("2024-01-01 00:01:00"),
          "The QUICK brown fox jumps over the lazy dog")) // normalizes == doc 1
      q.processAllAvailable()
      val hits = spark.table("snd_out")
        .as[StreamNearDedup.Hit].collect().toSet
      assert(hits.nonEmpty &&
        hits.forall(h => h.doc_id == 3L && h.matched_id == 1L && h.hamming == 0))
      // a second identical arrival matches BOTH stored copies — every
      // stored match is reported, not just the most recent
      mem.addData(
        (4L, Timestamp.valueOf("2024-01-01 00:02:00"),
          "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      val m4 = spark.table("snd_out").as[StreamNearDedup.Hit].collect()
        .filter(_.doc_id == 4L).map(_.matched_id).toSet
      assert(m4 == Set(1L, 3L))
    } finally q.stop()
  }
}

class StreamEnrichSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stream-static dim enrichment matches batch join, stateless plan") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val rows = Seq(
      (1L, 10.0, Timestamp.valueOf("2024-01-01 00:00:01")),
      (2L, 20.0, Timestamp.valueOf("2024-01-01 00:00:02")),
      (7L, 30.0, Timestamp.valueOf("2024-01-01 00:00:03"))) // no dim row
    val mem = MemoryStream[(Long, Double, Timestamp)]
    val streamDf = mem.toDF().toDF("user_id", "value", "ts")
    val enriched = streamDf.join(broadcast(dim),
      streamDf("user_id") === dim("user_id"), "left").drop(dim("user_id"))
    val q = enriched.writeStream.format("memory").queryName("se_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("se_out").select("user_id", "value", "tier")
        .as[(Long, Double, Option[String])].collect().toSet
      // facts without a dim row pass through (left semantics)
      assert(got == Set((1L, 10.0, Some("gold")), (2L, 20.0, Some("basic")),
        (7L, 30.0, None)))
      // zero stateful operators: the static side is broadcast, not keyed state
      assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"))
    } finally q.stop()
  }
}
