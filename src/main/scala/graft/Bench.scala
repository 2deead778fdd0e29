package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** Quiet-box floor for [[sentinelOnce]] on a box of `cpus` cores, in
    * seconds: the top of the quiet readings measured on a 32-core box
    * (0.06-0.15) and on a 4-core box (0.14-0.25), interpolated in log
    * cores between the two and held at the nearer one outside them. The
    * probe is mostly fixed job overhead, not work spread over threads:
    * on the 4-core box it reads 0.13-0.24 s at local[1], [2], [4] and [8]
    * alike. So the floor is the box's, keyed on its core count, not on
    * the session's threads. A contended machine inflates the sentinel as it
    * inflates every query, so the artifact records the machine state. */
  def sentinelFloorSec(cpus: Int): Double = {
    val (at32, at4) = (0.15, 0.25)
    val boxCores = math.min(32, math.max(4, cpus))
    at32 * math.pow(at4 / at32, math.log(32.0 / boxCores) / math.log(8.0))
  }

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

  /** Runs `df` whole into the `noop` sink, the plan `Verify` writes;
    * `count()` would let Catalyst prune projected kernels and joins. */
  def runWhole(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def loadAvg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Busy cores between two `/proc/stat` snapshots: the busy share
    * (user + nice + system + irq + softirq) of the `cpu` line's elapsed
    * ticks times the count of `cpuN` lines. Steal is elapsed, not busy:
    * the sentinel feels it. -1 without a reading. */
  def busyCores(before: String, after: String): Double = {
    def ticks(stat: String) = stat.linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").slice(1, 9).map(_.toLong)).filter(_.length == 8)
    val cores = after.linesIterator.count(_.matches("cpu\\d+ .*"))
    (for (b <- ticks(before); a <- ticks(after)) yield {
      val d = a.zip(b).map { case (x, y) => x - y }
      if (d.sum > 0) (d(0) + d(1) + d(2) + d(5) + d(6)).toDouble / d.sum * cores
      else -1.0
    }).getOrElse(-1.0)
  }

  private def procStat(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat")), "UTF-8")
    catch { case _: Throwable => "" }

  /** The contamination decision, pure so a spec can drive it: a
    * poisoned run must identify itself in its artifact. Strict on
    * purpose, since box load alone pushes sub-second queries >2x their
    * floors. Signals:
    *  - pre/post sentinel over 1.25x the quiet floor of a `cpus`-core box;
    *  - a mid-run SPIKE: >3x the run's own mid-median (mid probes run
    *    in post-query heap/JIT state and read 0.26-0.49 s even on a
    *    provably quiet box, so an absolute test against the idle floor
    *    would false-positive every run) or an extreme absolute sample
    *    >8x the idle floor of the box — the level a concurrent 32-thread
    *    job produces on 32 cores;
    *  - more than cpus/8 cores busy in the second before the session
    *    starts (cpus/4 let a 32-core run at loadavg 5.24 push four
    *    sub-second queries >2x their floors; the 1-min loadavg itself
    *    kept the previous run's JVM in it and stamped every 4-core run).
    */
  def contaminatedFlag(sentinelSec: Double, midSentinels: Seq[Double],
      busyPre: Double, cpus: Int): Boolean = {
    val midMax = if (midSentinels.isEmpty) 0.0 else midSentinels.max
    val midMedian = if (midSentinels.isEmpty) 0.0
      else midSentinels.sorted.apply(midSentinels.size / 2)
    val floor = sentinelFloorSec(cpus)
    sentinelSec > 1.25 * floor ||
      (midSentinels.nonEmpty && (midMax > 3.0 * midMedian ||
        midMax > 8.0 * floor)) ||
      (busyPre >= 0 && busyPre > cpus / 8.0)
  }

  /** Per-table row counts of the benched dataset — the artifact's data
    * fingerprint: a BASELINE.md floor only holds at the volume it was
    * measured at, so a mismatched fingerprint means re-floor, not
    * regression. Parquet footers make it cheap at any sf. */
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
    // outside load, read before our own executors start contributing;
    // the loadavg stays in the artifact as a diagnostic only
    val loadPre = loadAvg1()
    val stat0 = procStat()
    Thread.sleep(1000)
    val busyPre = busyCores(stat0, procStat())
    // session config comes from the ONE shared library builder
    // (Sessions.local) — the bench harness carries no tuning of its own
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: session init, codegen compiler, parquet reader paths — so
    // per-query timings reflect steady state, not first-query startup
    try runWhole(SparkEntry.entry(spark)) catch { case _: Throwable => }
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
      // a throwing query is not timed at all (a broken query would
      // read as a fast one); it surfaces only in the errors array
      try { runWhole(fn(spark, sfDir))
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          if (failed.add(name))
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      }
    }
    // best of three runs per query: the first pays Janino compilation,
    // a repeat absorbs transient load. A mid-run sentinel every ~20
    // queries puts a load burst in the artifact next to the queries it
    // poisoned; each query's start loadavg is a diagnostic only (our
    // own executors drive it up).
    val midSentinels = scala.collection.mutable.ArrayBuffer[Double]()
    val loadPerQuery =
      scala.collection.mutable.LinkedHashMap[String, Double]()
    var sinceProbe = 0
    // one untimed pass of the first query: otherwise the alphabetically
    // first band absorbs the run's cold costs (classloading, footer
    // cache, first codegen), which best-of-3 cannot hide
    picked.headOption.foreach { q =>
      spark.catalog.clearCache()
      try runWhole(q.run(spark, sfDir)) // same action path timeOnce drives
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
    // failed queries ship as explicit nulls, so a diff across runs sees
    // the hole rather than a silently shrunken map
    val qs = (results.map { case (k, v) => s"\"" + k + "\":" + v } ++
      failed.map(n => "\"" + n + "\":null"))
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double): String =
      "%.4f".formatLocal(java.util.Locale.ROOT, v)
    // the probe is JIT-sensitive (fresh ~0.2 s, hot ~0.1 s on a quiet
    // box): the min of three hot samples is the floor estimate
    val sentinel = math.min(sentinelPre,
      Seq.fill(3)(sentinelOnce(spark)).min)
    val cpus = Runtime.getRuntime.availableProcessors
    val contaminated = contaminatedFlag(sentinel, midSentinels.toSeq,
      busyPre, cpus)
    def arr(xs: Seq[Double]): String =
      xs.map(fmt).mkString("[", ",", "]")
    val fp = fingerprint(spark, sfDir)
      .map { case (t, n) => s"\"" + t + "\":" + n }
      .mkString("{", ",", "}")
    // the filter set is stamped into the artifact body and its filename,
    // so a filtered run never overwrites the full-suite artifact
    val filterJson = if (only.isEmpty) "\"full\""
      else only.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val outFile = artifactFile(only)
    val meta = s""""sf":"$sfDir","filter":$filterJson,"fingerprint":$fp,"loadavg_pre":$loadPre,"busy_cores_pre":${fmt(busyPre)},"sentinel_sec":$sentinel,"cpus":$cpus,"sentinel_floor_sec":${sentinelFloorSec(cpus)},"sentinel_mid":${arr(midSentinels.toSeq)},"contaminated":$contaminated,"errors":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // the complete per-query map goes to a file; stdout carries a
    // compact line that fits a 2000-char output tail
    val loadQs = loadPerQuery.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"loadavg_per_query":$loadQs,$meta}""".getBytes("UTF-8"))
    // compact final line: slowest queries first, 4 dp each, cut at a
    // budget that leaves the meta and sbt's epilogue room in 2000 chars
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
