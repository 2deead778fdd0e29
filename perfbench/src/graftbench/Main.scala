package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.{Bench, Sessions}
import graft.plans.GraftExtensions

/** One benchmark run: set up once, run the workload's ops in a
  * closed loop for the given seconds, check every op's output and print
  * one JSON result line (see README).
  *
  * Arguments: workload seed seconds trace(0|1) workDir resultFile.
  */
object Main {

  final case class OpRun(i: Int, seconds: Double, records: Long, check: Check, traced: Boolean) {
    def group: String = s"op-$i"
  }

  /** Share of CPU time the host took from this machine (steal) over the
    * settle and timed ops above which a run marks itself contaminated. */
  val StealLimit = 0.05

  /** (steal, total) CPU ticks of all CPUs, from /proc/stat. */
  def cpuTimes(): (Long, Long) = {
    val f = Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (f(7), f.take(8).sum) // user nice system idle iowait irq softirq steal
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, resultS) = args
    // process start on the nanoTime clock
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Path.of(workS)
    val cores = Runtime.getRuntime.availableProcessors()
    val local = work.resolve("spark-local")
    val tracer = new Tracer(trace)
    val loadPre = Bench.loadAvg1()

    // ---- set-up, once, counted from JVM start: session, reference
    // data and one warm-up op, as a user's first session pays them
    val w = Workload(workload, work)
    tracer.op = "setup"
    val spark = tracer("sessions.session")(Sessions.local(cores.toString)
      .withExtensions(new GraftExtensions)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate())
    tracer("sessions.reference")(w.setup(spark, tracer))
    val warmupChecks = ArrayBuffer(tracer("sessions.warmup")(w.op(spark, w.warmupOp, tracer, traced = false)()))
    val setupS = (System.nanoTime() - jvmStartNs) / 1e9
    val sc = spark.sparkContext
    val sentinelPre = Bench.sentinelOnce(spark)

    // ---- untimed settle ops. Op latency falls for the first 10-30 s of
    // ops while the JIT and Spark's generated-code cache fill. A fixed
    // count of ops, not of seconds, starts the timed loop at the same
    // point of that fall on a fast host and on a slow one.
    val cpuPre = cpuTimes()
    var i = 0
    while (i < w.settleOps && w.hasOp(i)) {
      warmupChecks += w.op(spark, i, tracer, traced = false)()
      i += 1
    }

    // ---- the closed loop. A traced run alternates blocks of untraced
    // ops (stage and plan figures, the overhead baseline) with blocks of
    // traced ones, whose layers are each forced under their own span.
    // Alternating keeps most of what is left of the warm-up fall out of
    // the overhead figure; a block of four holds every chromosome of
    // variant_annotate, so both kinds of op see the same inputs.
    val stageL = new StageListener
    val planL = new PlanListener
    if (trace) { Bus.drain(sc); sc.addSparkListener(stageL); spark.listenerManager.register(planL) }
    val runs = ArrayBuffer.empty[OpRun]
    val planRecs = scala.collection.mutable.Map.empty[String, Seq[PlanListener#Rec]]
    val firstTimed = i
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end && w.hasOp(i)) {
      val traced = trace && (i - firstTimed) / 4 % 2 == 1
      val group = s"op-$i"
      sc.setJobGroup(group, s"$workload op $i", interruptOnCancel = false)
      tracer.op = group
      val t0 = System.nanoTime()
      val pending =
        try { val c = tracer("op")(w.op(spark, i, tracer, traced)); Right(c) }
        catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      val check = pending match {
        case Right(c) => try c() catch { case e: Throwable => Check(ok = false, s"check threw $e") }
        case Left(e) => Check(ok = false, s"op threw $e")
      }
      if (trace) {
        Bus.drain(sc)
        val recs = planL.drain()
        if (!traced) planRecs(group) = recs
      }
      runs += OpRun(i, dt, w.records(i), check, traced)
      i += 1
    }
    val finalCheck = w.finalCheck(spark)
    val sentinelPost = Bench.sentinelOnce(spark)
    val loadPost = Bench.loadAvg1()
    val stealFrac = {
      val (stealPost, totalPost) = cpuTimes()
      (stealPost - cpuPre._1).toDouble / math.max(1L, totalPost - cpuPre._2)
    }

    // ---- end-to-end figures (over the untraced ops)
    val timed = runs.filterNot(_.traced).toSeq
    val lat = timed.map(_.seconds)
    val (tail, tailPct, tailBeyond) = Stats.tail(lat)
    val failedOps = runs.count(!_.check.ok) + finalCheck.count(!_.ok)
    val failedFrac = failedOps.toDouble / math.max(1, runs.length)
    val peakRssMb = {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally s.close()
    }
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", Stats.median(timed.filter(_.check.ok).map(r => r.records / r.seconds)), "rows/s"),
      ("op_p50_s", Stats.median(lat), "s"),
      ("op_tail_s", tail, "s"),
      ("ok_ops_frac", 1.0 - failedFrac, "ratio"),
      ("peak_rss_mb", peakRssMb, "MB"))

    // ---- per-layer figures (traced run)
    val perLayer: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        val kernels =
          if (workload == "variant_annotate") Kernels.dna(spark, seed) else Map.empty[String, Kernels.Result]
        Layers.metrics(tracer, runs.toSeq, planRecs.toMap, stageL, kernels, cores)
      }

    val spansFile = Path.of(resultS.stripSuffix(".json") + "-spans.jsonl")
    if (trace) Files.write(spansFile, tracer.spans.map(s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.str(s.op),
        "name" -> Json.str(s.name), "start_ns" -> Json.num(s.startNs.toDouble),
        "end_ns" -> Json.num(s.endNs.toDouble), "self_s" -> Json.num(tracer.selfSeconds(s))))
    ).mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()

    val manifest = Manifest.read(work)
    val failures = (warmupChecks.filterNot(_.ok) ++ runs.map(_.check).filterNot(_.ok) ++
      finalCheck.filterNot(_.ok)).map(_.detail)
    val correct = failures.isEmpty
    val stamp = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
      "trace" -> Json.num(if (trace) 1 else 0), "seconds" -> Json.num(seconds),
      "nproc" -> Json.num(cores), "git_sha" -> Json.str(sys.props.getOrElse("graftbench.git", "unknown")),
      "source_sha256" -> Json.str(sys.props.getOrElse("graftbench.sources", "unknown")),
      "spark" -> Json.str(spark.version),
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}"),
      "input_files" -> Json.num(manifest("files").toDouble),
      "input_bytes" -> Json.num(manifest("bytes").toDouble),
      "input_sha256" -> Json.str(manifest("sha256")),
      "loadavg_pre" -> Json.num(loadPre), "loadavg_post" -> Json.num(loadPost),
      "sentinel_pre_s" -> Json.num(sentinelPre), "sentinel_post_s" -> Json.num(sentinelPost),
      "steal_frac" -> Json.num(stealFrac),
      "contaminated" -> (stealFrac > StealLimit || sentinelPost > 1.5 * sentinelPre).toString,
      "ops" -> Json.num(runs.length), "ops_untraced" -> Json.num(timed.length),
      "op_tail_percentile" -> Json.num(tailPct), "op_tail_samples_beyond" -> Json.num(tailBeyond),
      "inputs_exhausted" -> (!w.hasOp(i)).toString,
      "failed_ops_frac" -> Json.num(failedFrac),
      "op_latencies_s" -> Json.arr(runs.map(r => Json.num(r.seconds)).toSeq),
      "failures" -> Json.arr(failures.take(5).map(Json.str).toSeq)))
    def metrics(ms: Seq[(String, Double, String)]) = Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(runs.length),
      "failed" -> Json.num(failedOps),
      "metrics" -> metrics(if (trace) perLayer else endToEnd)))
    Files.write(Path.of(resultS), Json.obj(Seq("stamp" -> stamp, "result" -> result,
      "end_to_end" -> metrics(endToEnd))).getBytes(UTF_8))
    println("stamp " + stamp)
    println(result)
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
