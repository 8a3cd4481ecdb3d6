package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The composed end-to-end training-data pipeline — the production shape
 * every individually-oracled operator exists to serve, chained as ONE
 * query: corpus filter (quality/language/repetition/exact-dedup gates)
 * -> near-dup clustering (MinHash-LSH chain with exact-dup pre-collapse)
 * -> keep-best representative per duplicate family -> deterministic
 * stratified sampling -> GPT-style sequence packing.
 *
 * Composition discipline (the round-3 "multi-use DataFrame" lesson —
 * lineage re-execution hides exactly here):
 *  - the FILTERED corpus is localCheckpoint'ed once: it feeds the dedup
 *    chain (~3 consumers internally), the representative scoring join,
 *    the loser anti-join and the sampler — without truncation each would
 *    re-run the filter's corpus scan + fingerprint shuffle;
 *  - cluster labels are pair-bounded and checkpointed (consumed by both
 *    the scoring aggregate and the loser join);
 *  - representative selection reuses the cluster labels instead of
 *    calling clusterRepresentatives (which would re-run the whole LSH
 *    chain from scratch — the recompute blowup this chain exists to
 *    avoid); the argmax is the same combinable min-struct aggregate.
 * SparkSpec asserts the executed plan scans the documents parquet a
 * constant number of times (the checkpoints cut everything else).
 */
object CorpusChain {

  /**
   * @param scoreCol  representative quality score (keep-best: highest
   *                  score, tie -> smallest id — q52 semantics)
   * @param rates     per-stratum keep rates out of 256 (q45 semantics)
   * @return packed sequences (shard, pack_id, doc_id, seg_start_in_doc,
   *         seg_len) over the filtered, deduplicated, sampled corpus
   */
  def corpusChain(docs: DataFrame, idCol: String, textCol: String,
                  langCol: String, scoreCol: String,
                  lang: String = "en",
                  rates: Map[String, Int] = Map.empty, defaultOutOf256: Int = 64,
                  packTokens: Int = 512, nShards: Int = 8): DataFrame = {
    val flags = TextAnalysis.corpusFilter(docs, idCol, textCol, lang)
    val survivors = docs.select(col(idCol), col(textCol), col(langCol), col(scoreCol))
      .join(flags.where(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")
      .localCheckpoint()
    val clusters = graft.dedup.Dedup.lshDedupClusters(survivors, idCol, textCol)
      .localCheckpoint()
    // keep-best per cluster: combinable argmax (min of (-score, id)) —
    // a giant family partial-combines map-side, no cluster window
    val scored = clusters
      .join(survivors.select(col(idCol).as("doc_id"), col(scoreCol).as("__score")),
        Seq("doc_id"))
    val keepers = graft.dedup.Dedup.keepBest(scored,
        (lit(0.0) - col("__score").cast("double")).as("negs"))
      .select(col("cluster_id"), col("__b.doc_id").as("__keeper"))
    // losers = clustered docs that are not their cluster's keeper. At
    // corpus scale duplicates can be a large FRACTION of the corpus, so
    // no broadcast: a plain anti-join on the unique doc id — skew-free by
    // construction, AQE-sizeable either way
    val losers = clusters.join(keepers, Seq("cluster_id"))
      .where(col("doc_id") =!= col("__keeper"))
      .select(col("doc_id").as(idCol))
    val deduped = survivors.join(losers, Seq(idCol), "left_anti")
    val sampled = TextAnalysis.stratifiedSample(deduped, idCol, langCol,
      rates, defaultOutOf256)
    TextAnalysis.packSequences(sampled, idCol, textCol, packTokens, nShards)
  }
}
