package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.{Bench, ListenerBarrier, QueryCapture, Sessions, SparkEntry}
import graft.graded.GradedQuery

/** Looks inside named graded queries (every one with no names given).
  *
  *   sbt "runMain graft.tools.Inspect plan /root/testdata/sf0.01 feature_count"
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Inspect profile /root/testdata/sf0.1 dedup_groups"
  *
  * `plan`: the plan you ship should be the plan you wanted — broadcasts
  * on dim sides, pushed filters, no unpartitioned windows, whole-stage
  * codegen over the hot path. Per query, for each query run or turned
  * into an RDD while the frame was built (a collected model, a
  * checkpointed input, TopK's ranked input) and then for the returned
  * frame, it prints
  *  - the formatted plan: numbered operators, Exchange placement, join
  *    strategy + build side, PushedFilters / ReadSchema at every scan;
  *  - the executed plan with its `*(n)` whole-stage-codegen markers — an
  *    operator WITHOUT a `*(n)` prefix runs interpreted (row-at-a-time
  *    `InternalRow` eval), the first thing to look for when a query is
  *    mysteriously slow;
  *  - a codegen summary (subtree count + generated-method sizes), which
  *    surfaces Janino giant-method problems the formatted plan hides.
  * Before/after plan evidence is two runs redirected to files.
  *
  * `profile`: where the time goes. After one session warm-up, each query
  * runs cold (codegen + first touch) and then warm (steady state, the
  * bench's best-of-3 regime). The warm run prints a totals row (jobs,
  * stages, tasks, shuffle-read/spill/input MB) and then one line per
  * stage (wall/exec/cpu seconds, tasks, shuffle-read MB, and the job
  * group, which is the query's name; broadcast and adaptive-stage jobs
  * inherit it from the thread that starts them): a query whose
  * time is job/stage count wants fewer rounds or exchanges, one dominated
  * by shuffle bytes wants narrower rows, a 1-task stage under heavy
  * per-row work wants spreading. The timing action is Bench's noop-sink
  * [[graft.Bench.runWhole]].
  */
object Inspect {
  private val usage = "usage: Inspect <plan|profile> <sfDir> [query names…]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("plan", "profile")(args(0)), usage)
    val (mode, sfDir) = (args(0), args(1))
    val picked = SparkEntry.select(args.drop(2).toSet)
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (mode == "plan") plan(spark, sfDir, picked)
      else profile(spark, sfDir, picked)
    } finally spark.stop()
  }

  private def plan(spark: SparkSession, sfDir: String,
      picked: Seq[GradedQuery]): Unit =
    picked.foreach { case GradedQuery(name, fn, _) =>
      println(s"\n========== $name ==========")
      try {
        // queries run or turned into an RDD while the frame was built
        // (a collected model, a checkpointed input, TopK's ranked input)
        // come first; their plans are final
        val (df, eager) = QueryCapture.during(spark)(fn(spark, sfDir))
        eager.zipWithIndex.foreach { case ((action, qe), i) =>
          println(s"-- eager query ${i + 1} of ${eager.size} ($action), " +
            "reported while the frame was built")
          show(qe)
        }
        if (eager.nonEmpty) println("-- the returned frame")
        val qe = df.queryExecution
        // run the query first: with AQE the plan (and its codegen
        // subtrees) is only final after execution — inspecting the
        // unexecuted AdaptiveSparkPlan reports 0 subtrees for everything.
        // Execute THIS QueryExecution (count() would build a separate
        // plan and leave this one unfinalized), but via its RDD so no
        // result rows land in the driver heap.
        qe.toRdd.foreach(_ => ())
        show(qe)
      } catch {
        case e: Throwable => println(s"[inspect] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }

  /** The formatted plan, the executed plan and its codegen summary,
    * [[masked]]. */
  private def show(qe: QueryExecution): Unit = {
    println(masked(qe.explainString(FormattedMode)))
    // executedPlan.toString carries the `*(id)` codegen markers that
    // the formatted view drops — interpreted stages have no star
    println(masked(qe.executedPlan.toString))
    val subtrees = codegenStringSeq(qe.executedPlan)
    println(s"-- codegen: ${subtrees.size} whole-stage subtree(s)")
    subtrees.zipWithIndex.foreach { case ((tree, _, stats), i) =>
      val head = masked(tree.linesIterator.take(1).mkString)
      println(s"   subtree ${i + 1}: $head | " +
        s"maxMethod ${stats.maxMethodCodeSize}B, " +
        s"constPool ${stats.maxConstPoolSize}, " +
        s"innerClasses ${stats.numInnerClasses}")
    }
    if (subtrees.isEmpty)
      println("   (NO whole-stage codegen subtrees — fully interpreted)")
  }

  /** `plan` with the ids that change from run to run masked: expression
    * ids (`#123`), lambda variable names (`x_12`), RDD ids, exchange plan
    * ids, AQE query-stage numbers, codegen stage ids, object hashes and
    * JVM lambda class names; and what depends on the checkout, not the
    * plan: the directory above `spark-warehouse` and the source line of
    * an RDD's call site (`at Curation.scala:N`). The `*` of `*(n)` stays,
    * since an operator without it runs interpreted. The pre-AQE plans of
    * two dumps of one commit then diff clean, also across checkouts,
    * except the column order of a
    * distinct-aggregate `Expand` (profile_columns, sv_reciprocal_overlap).
    * What AQE decides at run time is not masked: the final plan and the
    * codegen summary follow the order in which stages finish. */
  private[graft] def masked(plan: String): String = Seq(
      "#\\d+" -> "#N",
      "(lambda \\w+?)_\\d+" -> "$1_N",
      "RDD\\[\\d+\\]" -> "RDD[N]",
      "plan_id=\\d+" -> "plan_id=N",
      "(QueryStage(?: |\\n(?:Output .*\\n)?Arguments: ))\\d+" -> "$1N",
      "\\*\\(\\d+\\)" -> "*(N)",
      "codegen id : \\d+" -> "codegen id : N",
      "([\\w$])@[0-9a-f]{4,8}\\b" -> "$1@H",
      "Lambda\\$\\d+/0x[0-9a-f]+" -> "Lambda",
      "/[^\\s\\[\\],:]*/spark-warehouse\\b" -> "<dir>/spark-warehouse",
      "(\\w\\.scala):\\d+" -> "$1:N")
    .foldLeft(plan) { case (p, (id, mask)) => p.replaceAll(id, mask) }

  /** Jobs started and stages completed since the last reset, and the
    * job group of each stage's job. The listener barrier's marker jobs
    * and their stages are not counted. */
  private final class StageLog extends SparkListener {
    @volatile var jobs = 0
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]
    private val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (ListenerBarrier.isMarker(j)) j.stageIds.foreach(markerStages.add)
      else {
        jobs += 1
        val group = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("-")
        j.stageIds.foreach(groups.put(_, group))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (!markerStages.contains(s.stageInfo.stageId)) stages.add(s.stageInfo)
    def reset(): Unit = { jobs = 0; stages.clear(); groups.clear() }
  }

  private def profile(spark: SparkSession, sfDir: String,
      picked: Seq[GradedQuery]): Unit = {
    import scala.jdk.CollectionConverters._
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    // one warm-up query so the first profiled name doesn't absorb
    // session-wide cold costs (same reasoning as Bench's untimed pass)
    try Bench.runWhole(SparkEntry.entry(spark)) catch { case _: Throwable => }
    def timed(fn: SparkEntry.Query): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Bench.runWhole(fn(spark, sfDir))
      val s = (System.nanoTime() - t0) / 1e9
      ListenerBarrier.await(spark.sparkContext)
      s
    }
    println(f"${"query"}%-28s ${"cold_s"}%7s ${"warm_s"}%7s ${"jobs"}%5s ${"stg"}%4s ${"tasks"}%6s ${"shufMB"}%8s ${"spillMB"}%8s ${"inMB"}%7s")
    picked.foreach { case GradedQuery(name, fn, _) =>
      spark.sparkContext.setJobGroup(name, name)
      try {
        val cold = timed(fn)
        log.reset()
        val warm = timed(fn)
        val stages = log.stages.asScala.toSeq.sortBy(_.stageId)
        def mb(f: StageInfo => Long): Double = stages.map(f).sum / 1e6
        println(f"$name%-28s $cold%7.2f $warm%7.2f ${log.jobs}%5d " +
          f"${stages.size}%4d ${stages.map(_.numTasks).sum}%6d " +
          f"${mb(_.taskMetrics.shuffleReadMetrics.totalBytesRead)}%8.1f " +
          f"${mb(_.taskMetrics.diskBytesSpilled)}%8.1f " +
          f"${mb(_.taskMetrics.inputMetrics.bytesRead)}%7.1f")
        stages.foreach { i =>
          val dur = (for { a <- i.completionTime; b <- i.submissionTime }
            yield (a - b) / 1000.0).getOrElse(-1.0)
          val m = i.taskMetrics
          println(f"  stage ${i.stageId}%4d ${i.numTasks}%4d tasks " +
            f"$dur%6.2f s  exec=${m.executorRunTime / 1000.0}%7.2f s " +
            f"cpu=${m.executorCpuTime / 1e9}%7.2f s " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1f MB " +
            log.groups.getOrDefault(i.stageId, "-"))
        }
      } catch {
        case e: Throwable => println(s"$name FAILED: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    }
  }
}
