package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bounded-error contract for the engine-native sketch profile
  * (Sketches.eventProfile, the r13 library retirement of the old
  * sketch_stats graded entry): sketches are engine-specific by design
  * (no DuckDB twin can hash-match), but their PUBLISHED error bounds
  * are checkable against the exact answers on the same data — HLL++
  * distinct counts within a few rsd, KLL-style quantiles within rank
  * error of the sort-based percentile. */
class SketchBoundsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("approx_count_distinct stays within 4x the configured rsd") {
    assume(new java.io.File(dir).isDirectory, "testdata unavailable here")
    val sketch = Sketches.eventProfile(Tables.events(spark, dir))
      .select("event_type", "approx_users")
      .as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, dir)
      .groupBy("event_type").agg(countDistinct("user_id").as("u"))
      .as[(String, Long)].collect().toMap
    assert(sketch.keySet == exact.keySet)
    for ((et, ex) <- exact) {
      val err = math.abs(sketch(et) - ex).toDouble / ex
      assert(err <= 4 * 0.02,
        s"$et: approx ${sketch(et)} vs exact $ex (rel err $err)")
    }
  }

  test("approx quantiles fall inside the rank-error window of the exact") {
    assume(new java.io.File(dir).isDirectory, "testdata unavailable here")
    val sketch = Sketches.eventProfile(Tables.events(spark, dir))
      .select("event_type", "q50", "q95", "q99")
      .collect().map(r => r.getString(0) ->
        Seq(0.50 -> r.getDouble(1), 0.95 -> r.getDouble(2),
          0.99 -> r.getDouble(3))).toMap
    // exact order statistics per group (sf0.001 groups are collect-sized);
    // window = published rank error (1/accuracy) + two order statistics
    // of slack, because percentile_approx returns actual data points
    // while the interpolated `percentile` sits between them
    val byType = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast("double"))
      .as[(String, Double)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(sketch.keySet == byType.keySet)
    for ((et, qs) <- sketch; (p, approx) <- qs) {
      val sorted = byType(et)
      val n = sorted.length
      val eps = 1.0 / 10000 + 2.0 / n
      val lo = sorted(math.max(0, math.floor((p - eps) * (n - 1)).toInt))
      val hi = sorted(math.min(n - 1, math.ceil((p + eps) * (n - 1)).toInt))
      assert(approx >= lo - 1e-4 && approx <= hi + 1e-4,
        s"$et p$p: approx $approx outside exact rank window [$lo, $hi] (n=$n)")
    }
  }

  // sf0.01: ~2000 events per type, so the 1024-row sample genuinely
  // subsamples (sf0.001 groups fit inside K and the sketch degenerates
  // to exact — no bound would be exercised)
  private val dir01 = "/root/testdata/sf0.01"

  test("kmvQuantiles: estimates inside the bottom-k sampling rank window") {
    assume(new java.io.File(dir01).isDirectory, "testdata unavailable here")
    val out = SparkEntry.graded("sketch_quantiles").run(spark, dir01).collect()
    val byType = Tables.events(spark, dir01)
      .select(col("event_type"), col("value").cast("double"))
      .as[(String, Double)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(out.map(_.getString(0)).toSet == byType.keySet)
    for (r <- out) {
      val sorted = byType(r.getString(0))
      val n = sorted.length
      val k = r.getLong(2).toDouble
      for ((q, i) <- Seq(0.5 -> 3, 0.95 -> 5, 0.99 -> 7)) {
        // a uniform k-sample's q-quantile has rank sd n·sqrt(q(1−q)/k);
        // 4 sd + one order statistic of slack — generous but still
        // tight enough to catch a broken rank pick or biased sample
        val eps = 4.0 * math.sqrt(q * (1 - q) / k) + 2.0 / n
        val lo = sorted(math.max(0, math.floor((q - eps) * (n - 1)).toInt))
        val hi = sorted(math.min(n - 1, math.ceil((q + eps) * (n - 1)).toInt))
        val est = r.getDouble(i)
        assert(est >= lo && est <= hi,
          s"${r.getString(0)} q$q: est $est outside [$lo, $hi] (n=$n, k=$k)")
      }
    }
  }

  test("kmvSample merges: bottom-k of shard bottom-ks = bottom-k of union") {
    // the property that makes the quantile sketch a sketch: per-shard
    // samples combine WITHOUT rescanning, because the hash order is a
    // property of the row. 3000 rows in one group forces real
    // truncation at K=1024 in every shard and in the merge.
    val rows = (1L to 3000L).map(i => ("g", i, (i * 37 % 1000).toDouble))
    val df = rows.toDF("grp", "id", "v")
    val whole = Sketches.kmvSample(df, "grp", "id", "v")
      .as[(String, Long, Double)].collect().toSet
    val shards = Seq(df.filter($"id" % 2 === 0), df.filter($"id" % 2 === 1))
      .map(Sketches.kmvSample(_, "grp", "id", "v"))
    val merged = Sketches.kmvSample(shards.reduce(_ union _), "grp", "id", "v")
      .as[(String, Long, Double)].collect().toSet
    assert(merged == whole && whole.size == Sketches.QuantK)
    // and the two-phase salted rank is exactly the naive bottom-K: the
    // K smallest md5 uniforms, independently re-derived
    val naive = rows.map { case (g, i, v) =>
      val u = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString)
          .substring(0, 12), 16)
      (g, i, v, u)
    }.sortBy(t => (t._4, t._3)).take(Sketches.QuantK)
      .map(t => (t._1, t._2, t._3)).toSet
    assert(whole == naive)
  }
}
