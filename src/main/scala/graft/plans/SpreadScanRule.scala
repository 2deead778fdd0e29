package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, WriteFiles}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf

/** Hash-spreads a parquet scan that has fewer splits (Σ ceil(fileLen /
  * maxPartitionBytes)) than `defaultParallelism` but at least AQE's
  * `coalescePartitions.minPartitionSize` of bytes (AQE would merge the
  * shuffle of a smaller input back into one task), when its stage does
  * heavy per-row work: a `Generate`, a typed lambda, a `ScalaUDF`, a
  * [[graft.functions]] kernel, md5/sha, a regexp, or the partial half of a
  * dedup, a distinct aggregate or a sort/object aggregate (a string
  * min/max, `collect_list`). A hash aggregate of fixed-width buffers is
  * light: spreading it measured slower. The exchange sits above the scan's
  * filters, below its first projection, hashes the pruned columns (stable
  * under retries) and has a fixed count, so AQE keeps it. Each use of a
  * relation is judged on its own; equal uses get equal exchanges, which
  * ReuseExchange runs once. A broadcast build side is spread only as such
  * a repeat. It leaves alone text/CSV/JSON (line order can be the data),
  * streams, and stages with a nondeterministic expression (joins do not
  * end the stage for this check), a limit, a sample, a partition-local
  * sort or an operator it does not list. `MapPartitions` counts as
  * per-row work: `Dataset.flatMap` compiles to it, and a scan's split
  * layout is no contract in Spark. Idempotent: its exchange ends the
  * stage. Runs pre-CBO, after column pruning has settled.
  */
case class SpreadScanRule(spark: SparkSession) extends Rule[LogicalPlan]
    with JoinSelectionHelper {
  import SpreadScanRule._

  /** Pass one spreads free stages; pass two lets a build side repeat one. */
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else {
      val once = visit(plan, heavy = false, Free, Set.empty)
      val placed = once.collect { case r: RepartitionByExpression => r.canonicalized }.toSet
      if (placed.isEmpty) once else visit(once, heavy = false, Free, placed)
    }

  /** `heavy`: the stage above `p` does heavy per-row work; `gate`: whether
    * it may be spread; `reuse`: the spreads a build side may repeat. */
  private def visit(p: LogicalPlan, heavy: Boolean, gate: Int,
                    reuse: Set[LogicalPlan]): LogicalPlan = p match {
    case ScanChain(upper, filtered, r, fs) =>
      val needed = upper.lastOption.fold(r.output)(low => r.output.filter(low.references.contains))
      val par = spark.sparkContext.defaultParallelism
      if ((heavy || upper.exists(isHeavy)) && gate < Blocked &&
          !(upper :+ filtered).exists(_.exists(isNondet)) && needed.nonEmpty && small(fs, par)) {
        val narrowed = if (needed.size == r.output.size) filtered else Project(needed, filtered)
        val spread: LogicalPlan = RepartitionByExpression(needed, narrowed, Some(par), None)
        if (gate == Free || reuse.contains(spread.canonicalized))
          upper.foldRight(spread)((n, child) => n.withNewChildren(Seq(child)))
        else p
      } else p
    case j: Join =>
      // the build side as JoinSelection picks it: hints, then size
      val build = getBroadcastBuildSide(j, hintOnly = true, conf)
        .orElse(getBroadcastBuildSide(j, hintOnly = false, conf))
      val g = if (isNondet(j)) Blocked else gate
      def side(s: LogicalPlan, b: BuildSide) =
        visit(s, heavy = false, if (build.contains(b)) math.max(g, Build) else g, reuse)
      j.withNewChildren(Seq(side(j.left, BuildLeft), side(j.right, BuildRight)))
    case a: Aggregate => // its partial half runs in the child's stage
      val fns = a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression => e })
      // a dedup, a distinct aggregate (Expand copies every row) or a buffer
      // the hash aggregate cannot hold (a sort or object aggregate)
      val heavyAgg = fns.isEmpty || fns.exists(_.isDistinct) || !Aggregate.supportsHashAggregate(
        fns.flatMap(_.aggregateFunction.aggBufferAttributes), a.groupingExpressions)
      a.mapChildren(visit(_, heavyAgg || isHeavy(a), if (isNondet(a)) Blocked else Free, reuse))
    case _ =>
      val (h, g) = p match {
        case _: Project | _: Filter | _: Generate | _: Union | _: Expand |
             _: SubqueryAlias | _: CollectMetrics | _: DeserializeToObject |
             _: SerializeFromObject | _: MapElements | _: MapPartitions | _: TypedFilter |
             _: AppendColumns | _: AppendColumnsWithObject =>
          (heavy || isHeavy(p), if (isNondet(p)) Blocked else gate)
        case _: Command | _: WriteFiles => (heavy, gate) // a write runs in its query's stage
        case _: Window | Sort(_, true, _, _) | _: RepartitionByExpression |
             Repartition(_, true, _) | _: RebalancePartitions | _: MapGroups | _: CoGroup =>
          (false, Free) // an exchange below: a new stage starts
        case _ => (heavy, Blocked) // LocalLimit, Sample, Sort(global = false), unknown
      }
      p.mapChildren(visit(_, h, g, reuse))
  }

  /** Fewer estimated splits than `par`, yet one AQE minimum partition of
    * bytes; an unlistable location counts as big. */
  private def small(fs: HadoopFsRelation, par: Int): Boolean = {
    val maxBytes = conf.filesMaxPartitionBytes
    try {
      val lens = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.getLen)
      lens.map(l => math.max(1L, (l + maxBytes - 1) / maxBytes)).sum < par &&
        lens.sum >= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    } catch { case _: Exception => false }
  }
}

object SpreadScanRule {
  // a stage may be spread freely, only as a repeat (a build side), or not
  private val Free = 0
  private val Build = 1
  private val Blocked = 2

  /** A Project/Filter chain over a parquet scan, cut below its lowest
    * Project: the nodes above the cut (top first) and the filtered scan. */
  private object ScanChain {
    def unapply(p: LogicalPlan)
        : Option[(Seq[LogicalPlan], LogicalPlan, LogicalRelation, HadoopFsRelation)] = {
      val chain = Iterator.iterate(p)(_.children.head)
        .takeWhile(n => n.isInstanceOf[Project] || n.isInstanceOf[Filter]).toSeq
      (if (chain.isEmpty) p else chain.last.children.head) match {
        case r @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
            if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val (upper, lower) = chain.splitAt(chain.lastIndexWhere(_.isInstanceOf[Project]) + 1)
          Some((upper, lower.headOption.getOrElse(r), r, fs))
        case _ => None
      }
    }
  }

  private def isHeavy(n: LogicalPlan): Boolean = n match {
    case _: Generate | _: MapElements | _: MapPartitions | _: TypedFilter |
         _: AppendColumns | _: AppendColumnsWithObject => true
    case _ => n.expressions.exists(_.exists {
      case _: ScalaUDF | _: Md5 | _: Sha1 | _: Sha2 | _: RLike | _: RegExpReplace |
           _: RegExpExtractBase => true
      case e => e.getClass.getName.startsWith("graft.functions.")
    })
  }

  private def isNondet(n: LogicalPlan): Boolean = n.expressions.exists(!_.deterministic)
}
