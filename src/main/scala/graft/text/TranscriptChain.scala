package graft.text

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Composed end-to-end transcript-prep chain (q78): the conversation
 * analog of [[CorpusChain.corpusChain]] — the production shape that
 * takes RAW multi-turn transcripts (the BASELINE.json payload) to
 * packed training examples in ONE query:
 *
 *   repair turn order → drop looping conversations → strip boilerplate
 *   turns → truncate to a context budget → assemble → pack whole
 *   conversations
 *
 * Stage semantics are exactly the individually-oracled operators
 * (q73 repair, q72 loop gate, q64 boiler strip, q69 truncation, q63
 * whole-doc packing); the chain's own contract is COMPOSITION WITHOUT
 * RECOMPUTE: the turns table is materialized exactly twice
 * (`repaired` — consumed by both the loop-stats aggregate and the
 * anti-join; `gated` — consumed by both the boilerplate
 * document-frequency aggregate and its join-back), every later stage
 * is linear lineage on top, and no stage re-derives an upstream pass
 * (the q57 corpus-chain lesson: lineage re-execution hides in
 * multi-use DataFrames). Per-conversation work everywhere is bounded
 * by that conversation's own turn count; corpus-scale statistics
 * (boiler df) are combinable groupBys + join-backs, never
 * hot-key windows.
 */
object TranscriptChain {

  def transcriptChain(turns: DataFrame, convCol: String, idxCol: String,
                      roleCol: String, toolCol: String, ordCol: String,
                      textCol: String,
                      minRun: Int = 3, minConvs: Int = 3,
                      budgetTokens: Long = 512L,
                      packTokens: Int = 2048, nShards: Int = 8): DataFrame = {
    // 1. repair: dense per-conversation turn order (q73 semantics)
    val wRep = Window.partitionBy(col("conv_id")).orderBy(col("__oi"), col("ord"))
    val repaired = turns.select(col(convCol).as("conv_id"), col(idxCol).as("__oi"),
        col(roleCol).as("role"), col(toolCol).as("tool"), col(ordCol).as("ord"),
        col(textCol).as("text"))
      .withColumn("new_idx", (row_number().over(wRep) - 1).cast("long"))
      .drop("__oi")
      .localCheckpoint() // consumed by loop stats AND the anti-join below
    // 2. loop gate: drop conversations stuck repeating one (role, tool)
    //    action (q72 semantics, evaluated on the repaired order)
    val looping = TranscriptOps.agentLoops(repaired, "conv_id", "new_idx",
        "role", "tool", "ord", minRun)
      .where(col("is_looping")).select(col("conv_id"))
    val gated = repaired.join(looping, Seq("conv_id"), "left_anti")
      .localCheckpoint() // consumed by the boiler df aggregate AND its join-back
    // 3. boilerplate-turn strip (q64 semantics): normalized turn text
    //    repeated across >= minConvs distinct conversations is cut
    val h = md5(graft.dedup.Dedup.normText(col("text")))
    val nconv = gated.select(h.as("__h"), col("conv_id"))
      .groupBy("__h", "conv_id").agg(count(lit(1)).as("__cnt"))
      .groupBy("__h").agg(count(lit(1)).as("__nconv"))
    val kept1 = gated.withColumn("__h", h).join(nconv, Seq("__h"))
      .where(col("__nconv") < minConvs)
    // 4. context-budget truncation (q69 semantics over the stripped
    //    conversation: first remaining turn + longest fitting suffix)
    val wDesc = Window.partitionBy(col("conv_id")).orderBy(col("new_idx").desc)
    val wAll = Window.partitionBy(col("conv_id"))
    val kept2 = kept1
      .withColumn("__tok", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("__revcum", sum(col("__tok")).over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__min_idx", min(col("new_idx")).over(wAll))
      .where(col("new_idx") === col("__min_idx") || col("__revcum") <= budgetTokens)
    // 5. assemble (conversation-bounded ordered collect) and pack whole
    //    conversations (q63 semantics — a conversation never splits)
    val assembled = kept2.groupBy("conv_id")
      .agg(array_join(transform(sort_array(collect_list(
          struct(col("new_idx").as("i"), col("text").as("t")))),
        s => s("t")), "\n").as("clean_text"))
    TextAnalysis.packWholeDocs(assembled, "conv_id", "clean_text",
      packTokens, nShards)
  }
}
