package graft.skew

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Salted repartitioning on conv_id (SURVEY.md §4 item 1).
 *
 * A 10^6-turn conversation must not pin one task, but per-conversation
 * outputs still need stable (conv_id, turn_idx) ordering. Partitioning by
 * (conv_id, pmod(hash(turn_idx), salt)) spreads a hot conversation over
 * `salt` partitions while keeping unrelated conversations hashed apart;
 * sortWithinPartitions restores the stable order inside each partition,
 * so any per-partition consumer (manifest writer, file sink) sees
 * monotonically ordered turns of each conversation slice.
 */
object Salt {

  def saltedRepartition(df: DataFrame, numPartitions: Int, salt: Int): DataFrame =
    df.repartition(numPartitions, col("conv_id"), pmod(hash(col("turn_idx")), lit(salt)))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
}
