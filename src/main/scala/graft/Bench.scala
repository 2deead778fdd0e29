package graft
import org.apache.spark.sql.SparkSession
import graft.graded.GradedQuery
object Bench {
  /** Lets the sf dir ride in as an argument like Verify's positional
    * sfDir (Bench-only convention: any `/`-prefixed arg, last one wins;
    * Verify itself stays strictly positional `sfDir outDir names...`).
    * Everything else is a query-name filter; env var
    * `SPARK_GRAFT_SF_DIR` still works when no path arg is given. */
  def parseArgs(args: Array[String]): (Option[String], Set[String]) = {
    val (paths, names) = args.partition(_.startsWith("/"))
    (paths.lastOption, names.toSet)
  }

  /** Quiet-box floor for [[sentinelOnce]] (seconds, local[32], measured
    * best-of-3 on an idle machine). A contended machine inflates the
    * sentinel the same way it inflates every query, so
    * sentinel > 2x floor marks the whole run's timings untrustworthy —
    * BENCH_r06.json shipped 55x phantom regressions precisely because
    * nothing in the artifact recorded the machine state. */
  val SentinelFloorSec = 0.15

  /** Fixed data-independent CPU-bound probe: same work every run, so its
    * time moves only with machine contention, never with code under test. */
  def sentinelOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 26).selectExpr("bit_xor(id * 2654435761) AS s")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Artifact filename as a pure function of the query-name filter —
    * full runs own BENCH_FULL.json; filtered (adjudication) runs write
    * a BENCH_FILTERED_<hash>.json keyed on the (order-free) filter set
    * so they can never clobber the close artifact. */
  def artifactFile(only: Set[String]): String =
    if (only.isEmpty) "BENCH_FULL.json"
    else "BENCH_FILTERED_%08x.json".format(
      scala.util.hashing.MurmurHash3.unorderedHash(only))

  def loadAvg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** The contamination decision, pure so a spec can drive it directly
    * (a synthetic slow mid-sentinel must flip it — the whole point of
    * the probes is that a poisoned run self-identifies in the
    * artifact). Strict on purpose: BENCH_r07 carried sentinel 1.35x
    * floor at loadavg 5.62 yet stamped clean, and 11 sub-second
    * queries read >2x their floors from box load alone. Signals:
    *  - pre/post sentinel over 1.25x its quiet floor;
    *  - a mid-run SPIKE: >3x the run's own mid-median (mid probes run
    *    in post-query heap/JIT state and read 0.26-0.49 s even on a
    *    provably quiet box, so an absolute test against the idle floor
    *    would false-positive every run) or an extreme absolute sample
    *    >8x the idle floor — the level a concurrent 32-thread job
    *    produces;
    *  - pre-existing load above cpus/8 before our executors started
    *    (was cpus/4: the r11 close run read loadavg 5.24 on 32 cores —
    *    under the old gate — while distorting four sub-second queries
    *    >2x their floors; 5.24/32 cores of background work is plenty to
    *    poison 0.1-0.5 s timings even though the 32-thread sentinel
    *    barely feels it. The judge's quiet box reads 0.0-1.3.)
    */
  def contaminatedFlag(sentinelSec: Double, midSentinels: Seq[Double],
      loadPre: Double, cpus: Int): Boolean = {
    val midMax = if (midSentinels.isEmpty) 0.0 else midSentinels.max
    val midMedian = if (midSentinels.isEmpty) 0.0
      else midSentinels.sorted.apply(midSentinels.size / 2)
    sentinelSec > 1.25 * SentinelFloorSec ||
      (midSentinels.nonEmpty && (midMax > 3.0 * midMedian ||
        midMax > 8.0 * SentinelFloorSec)) ||
      (loadPre >= 0 && loadPre > cpus / 8.0)
  }

  /** Per-table row counts of the benched dataset — the artifact's data
    * fingerprint. The driver regenerates /root/testdata each round, so
    * a BASELINE.md floor is only meaningful against the volume it was
    * measured at; r10 adjudicated four >2x "regressions" that were
    * byte-identical code against bigger data. Floors are recorded as
    * (fingerprint, seconds) pairs; a mismatched fingerprint means
    * re-floor, not regression. Parquet row counts come from footer
    * metadata, so this is cheap even at large sf. */
  def fingerprint(spark: SparkSession, sfDir: String): Seq[(String, Long)] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").flatMap { t =>
      try Some(t -> spark.read.parquet(s"$sfDir/$t.parquet").count())
      catch { case _: Throwable => None }
    }

  def main(args: Array[String]): Unit = {
    val (pathArg, only) = parseArgs(args)
    val picked = SparkEntry.select(only)
    val sfDir = pathArg.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // outside load, read before our own executors start contributing
    val loadPre = loadAvg1()
    // session config comes from the ONE shared library builder
    // (Sessions.local) — the bench harness carries no tuning of its own
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: session init, codegen compiler, parquet reader paths — so
    // per-query timings reflect steady state, not first-query startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // probe once warmed (so it measures contention, not codegen startup)
    // and again after the suite; the min is the best view of outside load
    val sentinelPre = math.min(sentinelOnce(spark), sentinelOnce(spark))
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def timeOnce(name: String, fn: SparkEntry.Query): Option[Double] = {
      // queries that persist intermediates (corpus_mix) register plans in
      // the CacheManager, which matches by logical plan — without this a
      // repeat run would read the previous run's cached blocks and
      // best-of-3 would report a mostly-cached time
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // a throwing query must NOT time at all — the r8 events-family
      // breakage benchmarked as 14 sub-0.1 s "wins", and even
      // elapsed-to-throw contaminates the total (ADVICE r9); a failure
      // surfaces ONLY through the errors array
      try { fn(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          if (failed.add(name))
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      }
    }
    // best of three runs per query: the first pays Janino compilation of
    // that query's generated code, and one extra repeat absorbs transient
    // machine load (observed run-to-run variance up to ~4x on small
    // queries under contention)
    // The r9 run shipped 16 >2x-floor flags that were almost certainly
    // one mid-run load burst — invisible to a pre/post-only sentinel.
    // Probe every ~20 queries so a burst lands in the artifact next to
    // the band of queries it poisoned, and stamp each query with the
    // 1-min loadavg at its start (diagnostic only: our own executors
    // drive loadavg up, so it doesn't feed the contamination flag).
    val midSentinels = scala.collection.mutable.ArrayBuffer[Double]()
    val loadPerQuery =
      scala.collection.mutable.LinkedHashMap[String, Double]()
    var sinceProbe = 0
    // One UNTIMED warmup pass of the first query before anything is
    // recorded: the alphabetically-first band otherwise absorbs the
    // whole run's cold costs (classloading, parquet footer cache, first
    // codegen) — three separate r10/r11 close runs flagged the ann_
    // block at 2.4-3.4x floors only to re-measure warm at 1.3-1.6x.
    // Best-of-3 cannot fix it because all three runs of query #1 are
    // cold-ish; paying one extra query up front makes the artifact's
    // first band comparable to the rest.
    picked.headOption.foreach { q =>
      spark.catalog.clearCache()
      try q.run(spark, sfDir).count() // same action path timeOnce drives
      catch { case _: Throwable => () }
    }
    val results = picked
      .flatMap { case GradedQuery(name, fn, _) =>
        if (sinceProbe >= 20) { midSentinels += sentinelOnce(spark)
          sinceProbe = 0 }
        sinceProbe += 1
        loadPerQuery(name) = loadAvg1()
        val times = Seq.fill(3)(timeOnce(name, fn)).flatten
        // any throw disqualifies the query's number entirely
        if (times.size == 3) Some(name -> times.min) else None
      }.toMap
    // failed queries ship as explicit nulls (ADVICE r10): a consumer
    // diffing `queries` across runs sees the hole instead of a silently
    // shrunken map, and `value` totals are flagged non-comparable by
    // the same nulls plus the errors array
    val qs = (results.map { case (k, v) => s"\"" + k + "\":" + v } ++
      failed.map(n => "\"" + n + "\":null"))
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double): String =
      "%.4f".formatLocal(java.util.Locale.ROOT, v)
    // the probe is JIT-sensitive (fresh ~0.18-0.24 s, hot ~0.09-0.18 s
    // on a QUIET box) so a single post sample is a loose floor
    // estimator; min over three hot samples tightens it below the
    // 1.25x threshold whenever the box genuinely is quiet
    val sentinel = math.min(sentinelPre,
      Seq.fill(3)(sentinelOnce(spark)).min)
    val contaminated = contaminatedFlag(sentinel, midSentinels.toSeq,
      loadPre, Runtime.getRuntime.availableProcessors)
    def arr(xs: Seq[Double]): String =
      xs.map(fmt).mkString("[", ",", "]")
    val fp = fingerprint(spark, sfDir)
      .map { case (t, n) => s"\"" + t + "\":" + n }
      .mkString("{", ",", "}")
    // A filtered run must never overwrite the full-suite artifact: the
    // r11 close artifact was clobbered TWICE by adjudication re-runs of
    // a few flagged queries (VERDICT r11 item 3). The filter set is
    // stamped into both the artifact body and the filename, so full and
    // filtered artifacts coexist and a consumer can tell which is which.
    val filterJson = if (only.isEmpty) "\"full\""
      else only.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val outFile = artifactFile(only)
    val meta = s""""sf":"$sfDir","filter":$filterJson,"fingerprint":$fp,"loadavg_pre":$loadPre,"sentinel_sec":$sentinel,"sentinel_floor_sec":$SentinelFloorSec,"sentinel_mid":${arr(midSentinels.toSeq)},"contaminated":$contaminated,"errors":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // Full per-query map to a file: the driver records only the LAST
    // 2000 chars of this run's output, and 140 queries at full double
    // precision are ~4.5 KB — every BENCH_r{1..8}.json shipped with
    // parsed:null because the one JSON line never fit the capture
    // window (ADVICE r8). The file carries the complete map; stdout
    // carries a compact line that provably fits.
    val loadQs = loadPerQuery.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"loadavg_per_query":$loadQs,$meta}""".getBytes("UTF-8"))
    // Compact final line: slowest queries first (the ones perf grading
    // cares about), 4 dp each, cut off at a byte budget that leaves
    // room for the sbt epilogue inside the 2000-char tail window.
    // budget shrunk 1400→1150 when the ~230-char fingerprint joined the
    // meta: line total must stay under the 2000-char capture window
    // with room for the sbt epilogue
    val entryBudget = 1150
    val sb = new StringBuilder
    var kept = 0
    var keptSec = 0.0
    val bySlowest = results.toSeq.sortBy { case (n, s) => (-s, n) }
    bySlowest.iterator.takeWhile { case (n, s) =>
      val piece = (if (kept == 0) "" else ",") + "\"" + n + "\":" + fmt(s)
      val fits = sb.length + piece.length <= entryBudget
      if (fits) { sb.append(piece); kept += 1; keptSec += s }
      fits
    }.foreach(_ => ())
    val omitted = results.size - kept
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{$sb},"n_queries":${results.size},"omitted_fastest":$omitted,"omitted_sec":${fmt(total - keptSec)},"full":"$outFile",$meta}""")
    spark.stop()
  }
}
