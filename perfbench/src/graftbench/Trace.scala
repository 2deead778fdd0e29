package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Spans of one op share
  * `op`; `parent` is the id of the enclosing span (-1 at the root). */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: String = "setup"

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** Span duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

/** Per-op Spark stage, task and exchange counters, attributed by the job
  * group the benchmark sets around every op. */
final class StageListener extends SparkListener {
  final class OpStats {
    var jobs = 0; var stages = 0; var tasks = 0; var oneTaskStages = 0
    var scanTasks = 0; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val stageRunMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
    /** Largest max/median task run time over the op's multi-task stages. */
    def skew: Double = {
      val ratios = stageRunMs.values.filter(_.length > 1).map { xs =>
        val med = Stats.median(xs.map(_.toDouble).toSeq)
        if (med > 0) xs.max / med else 1.0
      }
      if (ratios.isEmpty) 1.0 else ratios.max[Double]
    }
  }
  private val byGroup = scala.collection.mutable.Map.empty[String, OpStats]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]

  private def stats(g: String) = byGroup.getOrElseUpdate(g, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      stats(grp).jobs += 1
      e.stageIds.foreach(stageGroup(_) = grp)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      val s = stats(g)
      s.stages += 1
      if (e.stageInfo.numTasks == 1) s.oneTaskStages += 1
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) s.scanTasks += 1
        s.stageRunMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }
  def get(group: String): OpStats = synchronized(byGroup.getOrElse(group, new OpStats))
}

/** Planning time and plan shape of every query the ops run (writes to
  * parquet and to the noop sink alike). */
final class PlanListener extends QueryExecutionListener {
  final case class Rec(planMs: Long, nodes: Int, exchanges: Int)
  private val recs = ArrayBuffer.empty[Rec]

  /** The plan as it ran, query stages unwrapped; codegen wrappers are
    * not counted. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec => walk(w.child)
    case i: org.apache.spark.sql.execution.InputAdapter => walk(i.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val nodes = walk(qe.executedPlan)
    val ex = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    synchronized(recs += Rec(ms, nodes.length, ex))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Records since the last call. */
  def drain(): Seq[Rec] = synchronized { val r = recs.toSeq; recs.clear(); r }
}

object Bus {
  /** Blocks until Spark's listener bus has delivered every event posted
    * so far, so the listeners above hold complete per-op figures. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Op tail: the 90th percentile of `xs` (linear between closest
    * ranks), returned as (value, percentile, samples above it). It is
    * the percentile that keeps ten samples beyond it at 100 ops; a run
    * here has fewer, so the samples above it are recorded beside it. */
  def tail(xs: Seq[Double]): (Double, Double, Int) =
    if (xs.isEmpty) (0.0, 90.0, 0)
    else {
      val s = xs.sorted; val h = 0.9 * (s.length - 1); val lo = h.toInt
      val v = s(lo) + (h - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
      (v, 90.0, s.count(_ > v))
    }
}
