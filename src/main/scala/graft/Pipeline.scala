package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Engine
import graft.model.TurnResult

/**
 * Spark-side extraction pipeline.
 *
 * The per-turn engine ([[graft.core.Engine]]) is pure, so extraction is a
 * map-only job: select (conv_id, turn_idx, text) — column pruning reaches
 * the parquet scan — and run Engine.parseTurn inside mapPartitions. No
 * shuffle anywhere in the extraction path; throughput scales linearly with
 * executors (the north rule's N->4N efficiency comes from exactly this).
 */
object Pipeline {

  /** Core transform: transcripts -> per-turn extraction results. */
  def extractTurns(turns: DataFrame): Dataset[TurnResult] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .select(col("conv_id").cast("string"), col("turn_idx").cast("int"), col("text").cast("string"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        it.map { case (conv, idx, text) => Engine.parseTurn(conv, idx, text) }
      }
  }

  /** Flattened item rows with (conv_id, turn_idx) lineage keys (J6). */
  def extractItems(turns: DataFrame): DataFrame = {
    extractTurns(turns).toDF()
      .select(col("conv_id"), col("turn_idx"), col("best_parser"),
        posexplode(col("best_items")).as(Seq("item_idx", "item")))
      .select(col("conv_id"), col("turn_idx"), col("best_parser"), col("item_idx"),
        col("item.name").as("name"), col("item.article").as("article"),
        col("item.qty").as("qty"), col("item.unit").as("unit"),
        col("item.price").as("price"), col("item.currency").as("currency"),
        col("item.total").as("total"), col("item.supplier").as("supplier"),
        col("item.source").as("source"), col("item.confidence").as("confidence"))
  }
}
