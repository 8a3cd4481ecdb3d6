package graft.skew

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Salting: one hot key's rows spread over many tasks.
 *
 * Salted repartitioning on conv_id (SURVEY.md §4 item 1). A 10^6-turn
 * conversation must not pin one task, but per-conversation outputs
 * still need stable (conv_id, turn_idx) ordering. Partitioning by
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

  /** Two-level per-key top-k (q24, q30, q84), ranked 1..k in `rankCol`:
    * top-k within (key, hash(`saltOn`) mod saltBuckets), then top-k of
    * those survivors per key. Same result as one per-key window, but no
    * hot key's candidates ever sort in one task. */
  def topK(scored: DataFrame, keyCol: String, saltOn: String, orderBy: Seq[Column],
           k: Int, rankCol: String, saltBuckets: Int = 64): DataFrame = {
    val w1 = Window.partitionBy(col(keyCol), col("__salt")).orderBy(orderBy: _*)
    val w2 = Window.partitionBy(col(keyCol)).orderBy(orderBy: _*)
    scored.withColumn("__salt", pmod(xxhash64(col(saltOn)), lit(saltBuckets)))
      .withColumn("__r1", row_number().over(w1)).where(col("__r1") <= k)
      .withColumn(rankCol, row_number().over(w2).cast("long")).where(col(rankCol) <= k)
      .drop("__salt", "__r1")
  }
}
