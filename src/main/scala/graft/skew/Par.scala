package graft.skew

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/**
 * Scale-adaptive parallelism floor for COMPUTE-DENSE map stages
 * (optimization guide §2.1/§6.2: derive partitioning from the input,
 * never from a constant tuned to one deployment).
 *
 * A small table stored as a single parquet row group is unsplittable:
 * the scan plans as ONE task, and a dense per-row expression above it
 * (the per-turn engine, a 64-hash MinHash fold, per-gram md5 hashing)
 * runs on one core while the rest of the executor idles. AQE can only
 * coalesce too-MANY shuffle partitions; nothing in Spark grows too-FEW
 * scan partitions, because a sub-row-group file cannot be split.
 *
 * `floor` inserts one round-robin repartition to `defaultParallelism`
 * when — and only when — the planned partition count is below it. At
 * real scale (many files, >128 MB splits) the scan already meets the
 * floor and this is a structural NO-OP: no exchange is added to the
 * plan. Catalyst pushes filters and column pruning THROUGH the
 * repartition, so PushedFilters/ReadSchema on the scan are unchanged
 * and only pruned columns ride the exchange.
 *
 * Use it ONLY on MAP-ONLY plans (no exchange downstream), where the
 * added parallelism is pure win. Measured A/B at sf0.1 (this round):
 * on plans that already shuffle token/gram rows with map-side partial
 * aggregation (q21/q22/q37/q50/q51/q61), the extra full-text
 * serialization + stage LOST 0.2-0.5 s against the single-task scan it
 * replaced — the fused native expressions made the per-row compute
 * cheaper than one extra row round-trip. On the map-only classifier
 * pass (q68) it won 1.7x. Those eight candidate sites were reverted;
 * only the map-only site keeps the floor.
 *
 * Safety: `df.rdd.getNumPartitions` is job-free only when the plan has
 * no un-materialized exchange below it (with AQE, partition resolution
 * of a shuffly plan would EXECUTE its stages while the caller is still
 * building its plan). `floor` therefore refuses such a plan before it
 * touches `.rdd`: apply it to raw scans or localCheckpoint'ed tables.
 */
object Par {
  def floor(df: DataFrame): DataFrame = {
    require(!pendingExchange(df.queryExecution.executedPlan), "Par.floor on a plan with " +
      "an exchange that has not run: resolving its partitions would run Spark jobs")
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** An unmaterialized exchange anywhere in the plan, AQE's included. */
  private def pendingExchange(p: SparkPlan): Boolean = p match {
    case _: QueryStageExec => false
    case a: AdaptiveSparkPlanExec => pendingExchange(a.executedPlan)
    case _: Exchange => true
    case _ => p.children.exists(pendingExchange)
  }
}
