package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Sessionize, VcfFormat}
import graft.streaming.StatefulSessions

class SessionizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val events = Seq(
    // user 1: two sessions (gap 1800s)
    (1L, 101L, 1000L), (1L, 102L, 1500L), (1L, 103L, 5000L),
    // user 2: one session
    (2L, 201L, 1000L), (2L, 202L, 2799L))
    .toDF("user_id", "event_id", "ts_sec")

  test("batch sessionize splits on gap and rolls up") {
    val out = Sessionize.sessions(events, "user_id", col("ts_sec"),
        col("event_id"), gapSec = 1800)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 1L, 2L, 1000L, 1500L),
      (1L, 2L, 1L, 5000L, 5000L),
      (2L, 1L, 2L, 1000L, 2799L)))
  }

  test("streaming stateful sessionize closes sessions across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val mem = MemoryStream[StatefulSessions.Event]
    val q = StatefulSessions.sessionize(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    // NB: with ProcessingTimeTimeout the engine legitimately keeps
    // scheduling batches to evaluate pending timeouts, so
    // processAllAvailable() never quiesces — poll the sink instead.
    def awaitRows(n: Long): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("sess_out").count() < n && System.nanoTime() < deadline)
        Thread.sleep(100)
    }
    try {
      mem.addData(StatefulSessions.Event(1L, 1000L), StatefulSessions.Event(1L, 1500L))
      Thread.sleep(2000) // let the batch land
      assert(spark.table("sess_out").count() == 0) // session still open
      mem.addData(StatefulSessions.Event(1L, 5000L)) // gap > 1800 closes it
      awaitRows(1)
      val closed = spark.table("sess_out")
        .as[StatefulSessions.ClosedSession].collect().toSeq
      assert(closed == Seq(StatefulSessions.ClosedSession(1L, 1000L, 1500L, 2L)))
    } finally q.stop()
  }
}

class VcfFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("vcf line formatting with null rsId") {
    val df = Seq(("1", 100L, Some("rs7"), "A", "G"), ("X", 5L, None, "C", "T"))
      .toDF("chr", "pos", "rs_id", "ref", "alt")
      .select(VcfFormat.toVcfLine(col("chr"), col("pos"), col("rs_id"),
        col("ref"), col("alt")).as("line"))
    assert(df.as[String].collect().toSeq == Seq(
      "1\t100\trs7\tA\tG\t.\tPASS\t.",
      "X\t5\t.\tC\tT\t.\tPASS\t."))
  }

  test("iupac expansion matches the reference map") {
    val df = Seq("R", "N", "T", "Z", "AC").toDF("code")
      .select(col("code"), VcfFormat.iupacNucleotides(col("code")).as("nucs"))
    val m = df.as[(String, String)].collect().toMap
    assert(m("R") == "AG" && m("N") == "ATCG" && m("T") == "T")
    assert(m("Z") == "Unknown")
    assert(m("AC") == "AC") // multi-char passes through
  }
}

class ExtensionsSpec extends AnyFunSuite {
  test("graft functions are callable from SQL via SparkSessionExtensions") {
    // the shared session carries the extensions, as every Sessions builder does
    val spark = TestSpark.spark
    val r = spark.sql(
      """SELECT translate_dna('ATGGCCTAA') AS aa,
        |  reverse_complement('AAGG') AS rc,
        |  norm_text('  Hello   World ') AS nt,
        |  count_word('the cat the dog', 'the') AS cw,
        |  dot_f(array(cast(1.0 as float), cast(2.0 as float)),
        |        array(cast(3.0 as float), cast(4.0 as float))) AS d,
        |  simhash60('hello world') AS sh,
        |  size(minhash16('hello world', 3)) AS mh,
        |  size(winnow_fps('hello world hello world', 5, 4)) AS wf,
        |  intersect_count(array('a','b','c'), array('b','c','d')) AS ic,
        |  rep_stats('aa bb aa') AS rs
        |""".stripMargin).collect()(0)
    assert(r.getString(0) == "MA*")
    assert(r.getString(1) == "CCTT")
    assert(r.getString(2) == "hello world")
    assert(r.getInt(3) == 2)
    assert(r.getDouble(4) == 11.0)
    assert(r.getLong(5) == graft.operators.Dedup.simhashScalar("hello world"))
    assert(r.getInt(6) == 16 && r.getInt(7) >= 1 && r.getInt(8) == 2)
    // "aa bb aa": 3 words, 2 distinct, 6 word chars; top bigram covers
    // 5 chars of 10; the single trigram is unique (0 of 8 duplicated)
    assert(r.getSeq[Long](9) == Seq(3L, 2L, 6L, 5L, 10L, 0L, 8L))
  }
}
