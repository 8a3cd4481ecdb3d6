package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Transcript-structure operators: the conversation-level counterparts of
 * the per-document corpus operators — this graft cell's payload is
 * multi-turn conversation/agent transcripts (BASELINE.json input_hint),
 * and a production transcript pipeline audits/repairs conversation
 * STRUCTURE before any per-turn text work runs.
 *
 * Scale contract shared by both operators: exactly ONE conv_id-keyed
 * exchange; every per-conversation computation (ordered lag, reverse
 * cumulative budget) is bounded by that conversation's own turn count —
 * the same conversation-bounded argument as the q64 assembly collect and
 * the as-of ordered window. Conversations at 10^12-turn corpus scale are
 * individually small (turn counts in the thousands); the corpus scales
 * by conversation COUNT, which is exactly the dimension these plans
 * parallelize over.
 */
object TranscriptOps {

  /**
   * Conversation integrity audit (q66): per-conversation structural
   * defect counts over the (conv_id, turn_idx, role, ts) contract —
   * duplicated turn indices, index gaps, timestamp regressions in turn
   * order, consecutive same-role turns, and tool turns not preceded by
   * an assistant turn (orphaned tool results). `ordCol` breaks turn_idx
   * ties deterministically (any unique column — an event id).
   *
   * One conv-keyed window (lag of role/ts in (turn_idx, ord) order),
   * then a combinable groupBy — defect counts partial-aggregate
   * map-side after the single exchange.
   */
  def convIntegrity(turns: DataFrame, convCol: String, idxCol: String,
                    roleCol: String, tsCol: String, ordCol: String): DataFrame = {
    val w = Window.partitionBy(col(convCol)).orderBy(col(idxCol), col(ordCol))
    val lagged = turns
      .withColumn("__prev_role", lag(col(roleCol), 1).over(w))
      .withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
    lagged.groupBy(col(convCol).as("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        (count(lit(1)) - countDistinct(col(idxCol))).as("n_dup_idx"),
        (max(col(idxCol)) - min(col(idxCol)) + 1L - countDistinct(col(idxCol)))
          .as("n_idx_gaps"),
        sum(when(col(tsCol) < col("__prev_ts"), 1L).otherwise(0L))
          .as("n_ts_regress"),
        sum(when(col(roleCol) === col("__prev_role"), 1L).otherwise(0L))
          .as("n_role_repeat"),
        sum(when(col(roleCol) === "tool" &&
            (col("__prev_role").isNull || col("__prev_role") =!= "assistant"), 1L)
          .otherwise(0L)).as("n_orphan_tool"))
      .withColumn("is_clean",
        col("n_dup_idx") === 0L && col("n_idx_gaps") === 0L &&
        col("n_ts_regress") === 0L && col("n_role_repeat") === 0L &&
        col("n_orphan_tool") === 0L)
  }

  /**
   * Context-window truncation (q69): the SFT preprocessing step that fits
   * a long conversation into a token budget by keeping the FIRST turn
   * (system prompt) plus the longest SUFFIX of turns whose combined
   * token count fits `budgetTokens` (most-recent-context-wins, the
   * standard chat-truncation contract). The first turn is always kept
   * and does not consume suffix budget. Token = whitespace token, the
   * corpus-wide convention.
   *
   * One conv-keyed window carrying both frames (reverse cumulative token
   * sum for the suffix test, partition min for the system turn) over the
   * single exchange; output re-assembly is a conversation-bounded
   * ordered collect.
   */
  def truncateContext(turns: DataFrame, convCol: String, idxCol: String,
                      textCol: String, budgetTokens: Long): DataFrame = {
    val nTok = size(split(trim(col(textCol)), "\\s+")).cast("long")
    val wDesc = Window.partitionBy(col(convCol)).orderBy(col(idxCol).desc)
    val wAll = Window.partitionBy(col(convCol))
    val flagged = turns
      .withColumn("__tok", nTok)
      .withColumn("__revcum", sum(col("__tok")).over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__min_idx", min(col(idxCol)).over(wAll))
      .withColumn("__keep",
        col(idxCol) === col("__min_idx") || col("__revcum") <= budgetTokens)
    flagged.groupBy(col(convCol).as("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("__tok")).as("n_tokens_total"),
        sum(when(col("__keep"), col("__tok")).otherwise(0L)).as("n_tokens_kept"),
        md5(array_join(transform(sort_array(collect_list(
            when(col("__keep"), struct(col(idxCol).as("i"), col(textCol).as("t"))))),
          s => s("t")), "\n")).as("kept_md5"))
  }

  /**
   * Conversation-level exact dedup (q71): the transcript analog of
   * per-document exact dedup — a conversation's fingerprint is the md5
   * over its turn-text digests IN TURN ORDER (so the same turns in a
   * different order are different conversations), and the lowest conv_id
   * per fingerprint is the keeper (first-wins, deterministic).
   *
   * Turn digests collapse per conversation via a conversation-bounded
   * sorted collect (same contract as [[truncateContext]]'s kept_md5);
   * the keeper argmin is a combinable fingerprint-keyed min + join-back
   * — a billion-copy conversation family partial-aggregates map-side,
   * never a fingerprint window. Three keyed exchanges: Spark plans the
   * conversation collapse twice, once on each side of the join-back (two
   * Scans, two conv-keyed Exchanges — PLANS.md q71), plus the fingerprint
   * Exchange on a uniform md5 key.
   */
  def convExactDedup(turns: DataFrame, convCol: String, idxCol: String,
                     textCol: String): DataFrame = {
    val perConv = turns.groupBy(col(convCol).as("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        md5(array_join(transform(sort_array(collect_list(
            struct(col(idxCol).as("i"), md5(col(textCol)).as("h")))),
          s => s("h")), "|")).as("conv_fp"))
    val families = perConv.groupBy("conv_fp")
      .agg(min(col("conv_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
    perConv.join(families, "conv_fp")
      .select(col("conv_id"), col("conv_fp"), col("n_turns"), col("n_copies"),
        (col("conv_id") === col("keeper_id")).as("keep"))
  }

  /**
   * Degenerate agent-loop detection (q72): an agent transcript stuck in
   * a loop repeats the same (role, tool) action back-to-back — the
   * classic failure a training-data pipeline must flag before such
   * conversations poison the corpus. Runs are gap-islands of identical
   * consecutive (role, coalesce(tool,'')) pairs in (turn_idx, ord)
   * order; a run of length >= `minRun` is degenerate.
   *
   * Lag + cumulative run-id windows share ONE conv-keyed exchange, and
   * both downstream groupBys — (conv, run) then conv — cluster on a
   * superset of the conv key, so the plan keeps that single exchange
   * end-to-end (subset-partitioning satisfies ClusteredDistribution).
   */
  def agentLoops(turns: DataFrame, convCol: String, idxCol: String,
                 roleCol: String, toolCol: String, ordCol: String,
                 minRun: Int): DataFrame = {
    val w = Window.partitionBy(col(convCol)).orderBy(col(idxCol), col(ordCol))
    val act = concat_ws("", col(roleCol), coalesce(col(toolCol), lit("")))
    val runs = turns
      .withColumn("__act", act)
      .withColumn("__new", when(lag(col("__act"), 1).over(w).isNull ||
        lag(col("__act"), 1).over(w) =!= col("__act"), 1L).otherwise(0L))
      .withColumn("__run", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(convCol).as("conv_id"), col("__run"))
      .agg(count(lit(1)).as("run_len"), first(col("__act")).as("act"))
    runs.groupBy("conv_id")
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_len")).as("max_run_len"),
        sum(when(col("run_len") >= minRun, 1L).otherwise(0L))
          .as("n_degenerate_runs"))
      .withColumn("is_looping", col("n_degenerate_runs") > 0L)
  }

  /**
   * Preference-pair construction (q74): DPO/RLHF data prep — rows are
   * candidate completions keyed by the prompt they answer (`promptCol`,
   * typically a prefix fingerprint); within each prompt group the
   * best-scored completion is CHOSEN (ties broken by lowest id,
   * deterministic) and every other member pairs against it as REJECTED.
   * Best-vs-rest emits O(group) pairs — linear in the input, unlike
   * all-pairs ranking which is quadratic in the group.
   *
   * Scale shape: the chosen argmax is TWO combinable prompt-keyed
   * aggregates (max score, then min id among max-scored members — no
   * id negation, so any orderable id type works) and the pairing is one
   * AQE-skew-splittable equi-join of the members against the
   * prompt-sized chosen table. A degenerate prompt with a million
   * completions partial-aggregates map-side and emits linear output.
   */
  def preferencePairs(completions: DataFrame, idCol: String, promptCol: String,
                      scoreCol: String): DataFrame = {
    val members = completions.select(col(promptCol).as("prompt_fp"),
      col(idCol).as("cid"), col(scoreCol).as("score"))
    val best = members.groupBy("prompt_fp").agg(max(col("score")).as("chosen_score"))
    val chosen = members.join(best, "prompt_fp")
      .where(col("score") === col("chosen_score"))
      .groupBy("prompt_fp").agg(min(col("cid")).as("chosen_id"),
        max(col("chosen_score")).as("chosen_score"))
    members.join(chosen, "prompt_fp")
      .where(col("cid") =!= col("chosen_id"))
      .select(col("prompt_fp"), col("chosen_id"), col("chosen_score"),
        col("cid").as("rejected_id"), col("score").as("rejected_score"),
        (col("chosen_score") - col("score")).as("score_gap"))
  }

  /**
   * Turn-order repair (q73): the repair counterpart of [[convIntegrity]]
   * — re-sequence each conversation's turns into a dense 0..n-1 index in
   * (turn_idx, ord) order, so duplicated and gapped indices (upstream
   * retries, merged shards) become a clean training-ready ordering while
   * the original index is kept for lineage. One conv-keyed exchange.
   */
  def repairTurnOrder(turns: DataFrame, convCol: String, idxCol: String,
                      ordCol: String): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("orig_idx"), col("ord"))
    turns.select(col(convCol).as("conv_id"), col(idxCol).as("orig_idx"),
        col(ordCol).as("ord"))
      .withColumn("new_idx", (row_number().over(w) - 1).cast("long"))
      .withColumn("moved", col("new_idx") =!= col("orig_idx"))
  }

  /**
   * Tool-call transition matrix (q80): the agent-behavior profile a
   * transcript pipeline reports before deciding curriculum weights —
   * for every ordered pair of consecutive ACTIONS (role, plus the tool
   * name on tool turns) count how many transitions occur corpus-wide
   * and how many distinct conversations exhibit the pair. The
   * conversation-start edge is kept as an explicit `<start>` source so
   * opening-action mix is part of the same matrix.
   *
   * Scale shape: ONE conv-keyed exchange for the lag window (per-
   * conversation cost bounded by that conversation's own turn count),
   * then a combinable groupBy on the (from, to) pair — count
   * partial-aggregates map-side and the distinct-conversation count
   * collapses through a per-(pair, conv) pre-aggregate, so a pair that
   * appears in every conversation of a 10^12-turn corpus never funnels
   * raw turn rows through one task. The transition-pair key space is
   * (roles x tools)^2 — a dimension table, orders of magnitude smaller
   * than the corpus.
   */
  def toolTransitions(turns: DataFrame, convCol: String, idxCol: String,
                      roleCol: String, toolCol: String, ordCol: String): DataFrame = {
    val act = concat(col(roleCol),
      when(col(toolCol).isNull || col(toolCol) === "", lit(""))
        .otherwise(concat(lit(":"), col(toolCol))))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("idx"), col("ord"))
    val edges = turns
      .select(col(convCol).as("conv_id"), col(idxCol).as("idx"),
        col(ordCol).as("ord"), act.as("to_act"))
      .withColumn("from_act", coalesce(lag(col("to_act"), 1).over(w), lit("<start>")))
    // per-(pair, conv) collapse first: distinct-conv arrives at the pair
    // key pre-counted, both aggregates fully combinable.
    edges.groupBy(col("from_act"), col("to_act"), col("conv_id"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("from_act"), col("to_act"))
      .agg(sum(col("__n")).as("n_transitions"), count(lit(1)).as("n_convs"))
  }
}
