package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Gathers a small output sort into one task instead of range-shuffling it.
  *
  * Spark plans a global sort as a range shuffle: a `RangePartitioner`
  * sampling job that runs the sort's whole input stage once more, then a
  * map stage, after which AQE coalesces the range read back into one
  * partition whenever its input is small. This query-stage preparation
  * rule makes that same decision before the shuffle exists: when the bytes
  * the sort's input stage reads are known and fit the size AQE coalesces
  * into one partition, the range exchange becomes `CoalesceExec(1)`, and
  * the sort runs in one task over the gathered input.
  *
  * It matches only the output-defining sort: a global `SortExec` reached
  * from the adaptive plan's root through unary, non-exchange operators,
  * over an `ENSURE_REQUIREMENTS` range exchange. A sort under a join or a
  * union, or over a larger or unknown input, keeps Spark's range path.
  * The input is counted up to its stage boundaries: a materialized
  * shuffle stage by its runtime size, a built broadcast as 0, a file scan
  * by its relation's file bytes; anything else is unknown. AQE re-runs
  * preparation rules after each stage lands, so a sort over an aggregate,
  * join or window gathers once its last shuffle is materialized.
  *
  * "One partition" is AQE's own threshold, read from the same confs:
  * `coalescePartitions.minPartitionSize` under `parallelismFirst` (the
  * default `GraftSession` keeps), else `advisoryPartitionSizeInBytes`.
  * With `coalescePartitions.enabled` off, AQE never coalesces, and
  * neither does this rule.
  */
object GatherSmallSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) gather(plan).getOrElse(plan) else plan

  private def gather(p: SparkPlan): Option[SparkPlan] = p match {
    case s @ SortExec(_, true, ShuffleExchangeExec(_: RangePartitioning, in, ENSURE_REQUIREMENTS, _), _)
        if inputBytes(in).exists(_ <= onePartition) =>
      Some(s.withNewChildren(Seq(CoalesceExec(1, in))))
    case _: Exchange => None
    case u: UnaryExecNode => gather(u.child).map(c => u.withNewChildren(Seq(c)))
    case _ => None
  }

  private def onePartition: Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Bytes the stage rooted at `p` reads, or None when any input is unknown. */
  private def inputBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: ShuffleQueryStageExec if s.isMaterialized => Some(s.getRuntimeStatistics.sizeInBytes)
    case b: BroadcastQueryStageExec if b.isMaterialized => Some(0)
    case f: FileSourceScanExec => Some(f.relation.location.sizeInBytes)
    case _: QueryStageExec | _: Exchange => None
    case _ if p.children.isEmpty => None
    case _ => p.children.map(inputBytes).reduce((a, b) => for (x <- a; y <- b) yield x + y)
  }
}
