package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanLike, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{CoalesceShufflePartitions, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Sorts a small result in one partition instead of range-partitioning
  * it. Spark plans every global sort (`ORDER BY` without `LIMIT`) over
  * a range exchange, and the exchange's `RangePartitioner` first runs a
  * sampling job over the sort's whole input to pick its bounds; the
  * map job then evaluates that input a second time. For an input that
  * fits one task the sampling pass is pure overhead: in a traced
  * seed-1 perfbench `batch` run at sf0.01 (4-core host) the full-result
  * write of `parity_enrich` ran 3 jobs and 200 ms of task CPU, and with
  * this rule 1 job and 102 ms; `d13_edit_distance`, whose Levenshtein
  * verdicts ran twice, went from 232 to 162 ms.
  *
  * Each `SortExec(global)` over a range exchange that
  * `EnsureRequirements` inserted is planned by the size of its input:
  *   - above `spark.sql.autoBroadcastJoinThreshold` (or with that
  *     threshold disabled): the range exchange stays;
  *   - at or below it, when the input already runs as one partition (a
  *     one-file scan, or a stage whose shuffle reads AQE will coalesce
  *     to one partition): no exchange, a `CoalesceExec(1)`, so the sort
  *     runs in its input's stage;
  *   - at or below it otherwise: one single-partition exchange.
  * One partition satisfies the sort's ordered distribution, so the
  * result is the same total order; rows that tie on every sort key
  * may come out in another order, as between any two range plans.
  *
  * The size is the sort's logical statistics: static estimates on the
  * first plan, and on each adaptive re-plan the runtime sizes of the
  * stages that have finished, so a sort over an aggregate or a join
  * qualifies once its child stage has run. The one-partition test
  * predicts the coalescing with AQE's own `CoalesceShufflePartitions`;
  * a wrong guess costs parallelism, never correctness, because
  * `CoalesceExec(1)` yields one partition whatever its input.
  *
  * Injected as a query-stage preparation rule ([[GraftExtensions]]),
  * so it runs on AQE's initial plan and on every re-plan, after
  * `EnsureRequirements`; a session with AQE off keeps Spark's range
  * sort. `ORDER BY … LIMIT` plans as `TakeOrderedAndProject`, which
  * takes no sampling pass and has no range exchange to replace.
  */
case class SmallSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold < 0) plan else plan.transformUp {
      case s @ SortExec(_, true, ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if s.logicalLink.exists(_.stats.sizeInBytes <= threshold) =>
        s.withNewChildren(Seq(
          if (partitions(coalesced(child)).contains(1)) CoalesceExec(1, child)
          else ShuffleExchangeExec(SinglePartition, child, ENSURE_REQUIREMENTS)))
    }
  }

  /** `plan` with the shuffle reads AQE will give it once it runs as a
    * stage; unchanged while any of its query stages is still running,
    * since the coalescing reads their map output sizes.
    */
  private def coalesced(plan: SparkPlan): SparkPlan =
    if (plan.collect { case q: QueryStageExec => q }.forall(_.isMaterialized))
      CoalesceShufflePartitions(session)(plan)
    else plan

  /** The number of partitions `plan` runs as, where the plan says. A
    * non-bucketed file scan reports `UnknownPartitioning(0)`: one file
    * no larger than the smallest split Spark can choose is one
    * partition. Narrow unary operators and broadcast joins run as many
    * partitions as their streamed input.
    */
  private def partitions(plan: SparkPlan): Option[Int] = plan match {
    case s: FileSourceScanLike if !s.bucketedScan =>
      val files = s.selectedPartitions
      val minSplit = math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
      if (files.totalNumberOfFiles <= 1 && files.totalFileSize <= minSplit) Some(1) else None
    case j: BroadcastHashJoinExec =>
      partitions(j.buildSide match { case BuildLeft => j.right; case BuildRight => j.left })
    case j: BroadcastNestedLoopJoinExec =>
      partitions(j.buildSide match { case BuildLeft => j.right; case BuildRight => j.left })
    case p => p.outputPartitioning match {
      case UnknownPartitioning(0) => p match {
        case u: UnaryExecNode => partitions(u.child)
        case _ => None
      }
      case known => Some(known.numPartitions)
    }
  }
}
