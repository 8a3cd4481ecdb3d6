package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of the key pipelines,
  * the evidence that pruning/pushdown/codegen/map-only claims hold. */
object PlansDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions","4").config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (regenerate: `Test/runMain graft.PlansDump`)\n\n")
    sb.append("Each plan is explained after its Dataset ran at sf0.01, so AQE plans show the " +
      "Final Plan (isFinalPlan=true, `*` marks whole-stage codegen) above the Initial Plan. " +
      "At this scale AQE often broadcasts a side that the notes describe as a shuffle join, " +
      "and drops an anti-join whose other side turned out empty.\n\n")
    def section(title: String, note: String)(df: DataFrame): Unit = {
      sb.append(s"## $title\n\n$note\n\n```\n")
      // run the Dataset's own plan first: explain then shows AQE's final
      // plan (isFinalPlan=true, with the WholeStageCodegen *(n) markers)
      df.collect()
      // whole lines, never cut: a cut at a fixed length of the unmasked
      // text moves with the digit count of expression ids, so
      // tools/plan_diff.py would see a changed line in an unchanged plan
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")).stripLineEnd)
      sb.append("\n```\n\n")
    }
    graft.io.Transcripts.generateDF(spark, 200L).write.mode("overwrite").parquet("/tmp/plans_transcripts")
    val turns = spark.read.parquet("/tmp/plans_transcripts")
    section("Extraction pipeline (map-only)",
      "Scan reads ONLY (conv_id, turn_idx, text); no Exchange anywhere — the " +
      "extraction is embarrassingly parallel and scales with executor count.") {
      Pipeline.extractTurns(turns).toDF().select("conv_id","turn_idx","best_count")
    }
    section("q01 text metrics (pushdown + pruning + whole-stage codegen)",
      "PushedFilters reach the parquet scan; ReadSchema is 2 columns; the " +
      "projection runs inside WholeStageCodegen.") {
      SparkEntry.byName("q01_text_metrics").build(spark, dir).where("doc_id < 100")
    }
    section("q07 group stats (map-side partial aggregation)",
      "partial_* functions before each Exchange — countDistinct plans two, " +
      "one on (group keys, l_partkey) and one on the group keys; combine " +
      "happens map-side, both shuffles carry pre-aggregated rows.") {
      SparkEntry.byName("q07_group_stats").build(spark, dir)
    }
    section("q27 broadcast dimension join",
      "The part dimension broadcasts (BroadcastHashJoin) — the fact side " +
      "streams with no shuffle for the join itself.") {
      SparkEntry.byName("q27_join_agg").build(spark, dir)
    }
    section("q02 parse_number (custom expression inside codegen)",
      "parse_number is a static_invoke of graft.core.Num.parseOrNull — one " +
      "static call in the generated code, so the projection stays in " +
      "WholeStageCodegen — no UDF/encoder boundary.") {
      SparkEntry.byName("q02_parse_number").build(spark, dir)
    }
    section("q12 exact dedup (combinable min/count per normalized-text hash)",
      "md5 of the normalized text (Dedup.normText) and min(doc_id)/count per " +
      "hash — partial aggregates before the one hash-keyed Exchange, no window.") {
      SparkEntry.byName("q12_dedup_exact").build(spark, dir)
    }
    section("q16 fingerprint (map-only normalized-text hash)",
      "md5 of the normalized text (Dedup.normText), its 8-char bucket and " +
      "the normalized length in one projection — no Exchange.") {
      SparkEntry.byName("q16_fingerprint").build(spark, dir)
    }
    section("q24 ANN brute-force top-k (salted two-level reduction)",
      "The per-query top-k runs as TWO windows: first within (query_id, salt) " +
      "— parallel across salt buckets, so no task ever sorts a corpus-sized " +
      "candidate list for one key — then over the k*saltBuckets survivors. " +
      "The query side is a BroadcastNestedLoopJoin build side; the corpus streams.") {
      SparkEntry.byName("q24_ann_topk").build(spark, dir)
    }
    section("q30 ANN IVF (broadcast-centroid fold argmax — zero assignment shuffle)",
      "Corpus-to-centroid assignment is a fold over a ONE-row broadcast " +
      "centroid array (BroadcastNestedLoopJoin against a single row — no " +
      "per-id window, no n*k shuffle, and k lives in the broadcast " +
      "relation, not the plan, so the quantizer can grow to SemDeDup-scale " +
      "k); the keyed exchanges are the probe join on centroid_id (a " +
      "broadcast of the 500-row probe side at this scale) and the salted " +
      "top-k windows, plus the one-row centroid aggregate's. Training is a " +
      "hash-sampled TakeOrderedAndProject, localCheckpoint'ed before this " +
      "plan (its Scan ExistingRDD) — never a global sort, never a driver collect.") {
      SparkEntry.byName("q30_ann_ivf").build(spark, dir)
    }
    section("q21 MinHash candidates (single-fold signature, broadcast-capped bucket shuffle)",
      "Signatures are ONE native-expression projection per row (a " +
      "static_invoke of graft.expr.SigCore.minhash inside WholeStageCodegen, " +
      "no cached intermediates, no " +
      "persist). The bucket-size guard is a map-side-combinable groupBy " +
      "count (partial_count before its Exchange) whose over-cap keys " +
      "anti-filter via BroadcastHashJoin LeftAnti " +
      "(in the Initial Plan: at sf0.01 no key is over the cap, so AQE drops the anti-join from the Final Plan) — a degenerate bucket's " +
      "rows are dropped MAP-SIDE and never enter the (band, bucket) " +
      "Exchange, where the former window count scanned the whole hot " +
      "bucket in one task.") {
      SparkEntry.byName("q21_minhash_candidates").build(spark, dir)
    }
    section("q22 SimHash candidates (native blocks, the MinHash bucket-pairing core)",
      "SimHash blocks are one static_invoke of graft.expr.SigCore.simhashBlocks " +
      "per row; the (block, block_val) buckets go through the same capped " +
      "pairing as q21 (Dedup.bucketPairs: combinable count + broadcast " +
      "anti-join guard, one bucket Exchange, native hamming pair emission; " +
      "at sf0.01 no key is over the cap, so the anti-join is in the Initial " +
      "Plan only).") {
      SparkEntry.byName("q22_simhash_candidates").build(spark, dir)
    }
    section("q25 ANN sign-LSH pairs (capped bucket join)",
      "The bucketed working set is localCheckpoint'ed once, bucket sizes " +
      "come from a combinable groupBy count off the materialized set, and " +
      "over-cap buckets anti-filter via BroadcastHashJoin LeftAnti BEFORE " +
      "the in-bucket self-join " +
      "(in the Initial Plan: at sf0.01 no key is over the cap, so AQE drops the anti-join from the Final Plan) — a degenerate hot bucket is excluded " +
      "map-side instead of exploding quadratically.") {
      SparkEntry.byName("q25_ann_lsh").build(spark, dir)
    }
    section("q37 contamination (broadcast-hot-set df cap, bounded per-h groups)",
      "Shingle hashes with corpus df above the cap are counted by a " +
      "map-side-combinable groupBy (partial_count before the count " +
      "Exchange) and dropped via BroadcastHashJoin LeftAnti " +
      "(in the Initial Plan: at sf0.01 no key is over the cap, so AQE drops the anti-join from the Final Plan) — map-side, so " +
      "a corpus-ubiquitous boilerplate shingle's rows never serialize " +
      "through one count task OR enter the h Exchange. Docs x bench-ids " +
      "pairs then explode inside each h-group, bounded by the cap. The " +
      "price is a second map-side shingle pass for the count branch — " +
      "embarrassingly parallel; q50 is the at-scale variant that avoids " +
      "even that.") {
      SparkEntry.byName("q37_contamination").build(spark, dir)
    }
    section("q35 distinctive terms (combinable df count + join-back, no term-keyed window)",
      "Document frequency is a groupBy over distinct (doc, term) rows — " +
      "partial_count before the term Exchange — joined back on term " +
      "(AQE-skew-splittable). A stopword's df is never one window task; " +
      "the only Window is the per-doc rank, bounded by a document's own " +
      "distinct terms. The df branch explodes the corpus a second time: its " +
      "distinct (doc, term) aggregate differs from tf's counted one, so the " +
      "two (doc, term) Exchanges are not reused.") {
      SparkEntry.byName("q35_distinctive_terms").build(spark, dir)
    }
    section("q38 boilerplate lines (combinable line-frequency count + join-back)",
      "docs_with_line is a groupBy count over collapsed (doc, norm) rows " +
      "— partial_count before the norm Exchange — joined back on norm. A " +
      "line present in EVERY document (the signal this operator exists to " +
      "find) is counted map-side-combinably instead of serializing n_docs " +
      "rows through one window task.") {
      SparkEntry.byName("q38_boilerplate").build(spark, dir)
    }
    section("Blocked fuzzy matcher (token + char-3-gram equi-join before scoring)",
      "Items and products equi-join on shared blocking keys — processed " +
      "tokens UNION each token's character 3-grams (broadcast on the " +
      "exploded dim) — and only co-blocked pairs reach the WRatio UDF: " +
      "the large-catalog alternative to the reference's all-pairs scoring. " +
      "Tokens recall word-overlap pairs; 3-grams recall in-token " +
      "typo/transliteration pairs that share no whole word (SparkSpec " +
      "asserts both equivalences).") {
      val items = Pipeline.extractItems(turns).select("conv_id", "turn_idx", "item_idx", "name")
      graft.matching.Matching.topMatchesBlocked(items,
        graft.io.Transcripts.productsDim(spark),
        Seq("conv_id", "turn_idx", "item_idx"))
    }
    section("q11 fuzzy top-3 (broadcast cross join, the matcher's rank step)",
      "Every part is scored against the broadcast 6-row catalog with the " +
      "levenshtein ratio (BroadcastNestedLoopJoin, the corpus streams), then " +
      "Matching.rankTop: one p_partkey-keyed Exchange between the partial and " +
      "final WindowGroupLimit, then the row_number Window " +
      "(score desc, cand_id asc), rank <= 3 and score >= 40, the auto flag.") {
      SparkEntry.byName("q11_fuzzy_topk").build(spark, dir)
    }
    section("q41 blocked match (the matcher's co-blocking and rank steps)",
      "Matching.coBlocked explodes each part's and each catalog row's " +
      "token + char-3-gram keys, joins them on the key against the " +
      "broadcast exploded catalog and keeps distinct (part, cand_id) pairs " +
      "(a HashAggregate around one Exchange); the 6-row catalog joins back " +
      "(broadcast) for the name, and Matching.rankTop ranks as in q11.") {
      SparkEntry.byName("q41_blocked_match").build(spark, dir)
    }
    section("q42 salted as-of join on a Zipf-hot key (bucket-parallel windows)",
      "The driver fixture collapses ~2/3 of users onto one id; the window " +
      "partitions on (key, time-bucket) instead of key alone, so the hot " +
      "key parallelizes across its buckets. Carry-in rows come from a " +
      "window over the tiny per-(key,bucket) summary — no correctness " +
      "loss (SparkSpec asserts equality with the plain as-of; the q42 " +
      "oracle is DuckDB's native ASOF over the same hot remap).") {
      SparkEntry.byName("q42_asof_salted").build(spark, dir)
    }
    section("q44 composite corpus filter (no window; combinable min-per-fingerprint gate)",
      "Quality, language and repetition gates are pure projections over the " +
      "scan. The exact-dup gate is a combinable min-per-fingerprint groupBy " +
      "(partial_min before its Exchange — a billion-copy family collapses " +
      "map-side, where the former fingerprint window serialized it through " +
      "one task) joined back by SIZE: here the min table broadcasts and the " +
      "stream side crosses NO exchange; at corpus scale it becomes a " +
      "sort-merge join-back, AQE-skew-splittable.") {
      SparkEntry.byName("q44_corpus_filter").build(spark, dir)
    }
    section("q46 sequence packing (one shard-keyed shuffle)",
      "Concat-then-chunk packing: the cumulative token offset is a window " +
      "over (shard, id) — ONE hash Exchange on shard, then pack assignment, " +
      "boundary segmentation and the explode are all map-side arithmetic. " +
      "Shards pack in parallel; a global order would serialize the corpus.") {
      SparkEntry.byName("q46_pack_sequences").build(spark, dir)
    }
    section("q48 source blocklist (broadcast anti-join, corpus never shuffles for the filter)",
      "The C4 badlist step: the blocklist is dimension-sized, so the anti " +
      "join is a BroadcastHashJoin LeftAnti fused into the scan stage; the " +
      "only Exchanges are the survivor-stats groupBy's two (its " +
      "count(distinct lang) adds the second).") {
      SparkEntry.byName("q48_source_filter").build(spark, dir)
    }
    section("q50 bloom-prefiltered contamination (bench-sized shuffle instead of corpus-sized)",
      "Identical output to q37 (same oracle): the bench shingle hashes are " +
      "aggregated into a broadcast bloom filter and probed MAP-SIDE, the " +
      "bench-sized survivors are localCheckpoint'ed once (bounded state — " +
      "~|bench| x 1.01), and the df cap is the same combinable-count + " +
      "broadcast-anti guard as q37, reading the materialized survivors " +
      "instead of re-running the corpus pass. The h-keyed Exchange carries " +
      "only might-be-bench shingles. False positives match no bench id in " +
      "their h-group; per-h df counts are unchanged because the probe " +
      "keeps or drops whole h-groups.") {
      SparkEntry.byName("q50_contamination_bloom").build(spark, dir)
    }
    section("q49 native session windows (one user-keyed Exchange, streaming-capable)",
      "Gap sessionization through Spark's SessionWindow aggregation: one " +
      "hash Exchange on user_id, sessions merged inside the aggregate — " +
      "the same operator runs under a watermark in Structured Streaming, " +
      "and the custom-state closed-session emitter " +
      "(StreamingExtract.streamingSessions) is differentially tested " +
      "against this batch plan.") {
      SparkEntry.byName("q49_session_window").build(spark, dir)
    }
    section("q53 lexical commonness (no token instance crosses a term-keyed Exchange)",
      "The CCNet-shaped quality signal with an integer statistic: the " +
      "explosion collapses immediately to per-(doc, term) tf (partial_count " +
      "before its Exchange — a hot term's instances combine map-side), the " +
      "corpus frequency is a second combinable groupBy over those collapsed " +
      "rows (partial_sum), and the term join-back is AQE-skew-splittable. " +
      "n_tokens = sum(tf), sum_token_freq = sum(tf*freq) — identical " +
      "integers to the instance-level formulation, with no Window anywhere: " +
      "at 100 TB the most frequent token is partial-aggregated like any " +
      "other, not one window task.") {
      SparkEntry.byName("q53_lexical_commonness").build(spark, dir)
    }
    section("q51 duplicated-span coverage (combinable gram count + semi-join, doc-keyed interval merge)",
      "Substring-dedup shape: positional-gram frequencies come from a " +
      "map-side-combinable groupBy count (partial_count before the h " +
      "Exchange) applied as a left-semi join (both kept and dropped gram " +
      "sets are unbounded, so none is broadcast by plan — AQE broadcasts " +
      "the gram side at this scale — and AQE can skew-split the " +
      "semi-join, unlike the former h-keyed window count; SparkSpec's " +
      "executed-plan check asserts skew=true actually appears on a " +
      "degenerate-gram fixture with production-shaped thresholds). " +
      "Survivors flow " +
      "into doc-keyed windows that merge overlapping spans — never a pair " +
      "join, so corpus-common grams cannot explode anything.") {
      SparkEntry.byName("q51_dup_spans").build(spark, dir)
    }
    section("q54 global top-K vocabulary (TakeOrdered, no vocab-wide sort)",
      "Term counts partial-aggregate map-side (partial_count before the " +
      "term Exchange — a hot term combines like any other) and the global " +
      "top-K plans as TakeOrderedAndProject: per-partition top-K merged " +
      "once; the rank window runs over the K-row result only.") {
      SparkEntry.byName("q54_vocab_topk").build(spark, dir)
    }
    section("q55 source-mix audit (combinable per-source totals, window total over the sources)",
      "Per-source totals are one combinable groupBy on the dimension key; " +
      "the corpus-wide token total is a window sum over those per-source " +
      "rows (one per source, so its single-partition Exchange is " +
      "dimension-sized) — the corpus is scanned once and nothing skews.") {
      SparkEntry.byName("q55_source_mix").build(spark, dir)
    }
    section("q56 SemDeDup pairs (broadcast-centroid assignment, capped in-cluster join)",
      "Embeddings assign to their nearest coarse-quantizer centroid by a " +
      "fold over a ONE-row broadcast centroid array (BroadcastNestedLoopJoin " +
      "against a single row — zero assignment shuffle, and k lives in the " +
      "broadcast relation, not the plan, so SemDeDup-scale k in the tens of " +
      "thousands costs nothing in plan size; SparkSpec asserts no data-sized " +
      "literal at k=256), the assigned set materializes once, over-dense " +
      "clusters anti-filter via BroadcastHashJoin LeftAnti (observable: " +
      "CapMetrics site semdedup_clusters) " +
      "(in the Initial Plan: at sf0.01 no key is over the cap, so AQE drops the anti-join from the Final Plan) and cosine comparison happens " +
      "only inside clusters — the O(n^2) semantic dedup becomes k " +
      "independent bounded self-joins.") {
      SparkEntry.byName("q56_semdedup_pairs").build(spark, dir)
    }
    section("q57 composed corpus chain (filter -> dedup -> keep-best -> sample -> pack, no recompute)",
      "The production chain as ONE query. The filtered corpus and the " +
      "cluster labels are localCheckpoint'ed exactly once, so the FINAL " +
      "plan below starts from checkpointed RDDs and contains ZERO parquet " +
      "scans — no stage re-runs an upstream corpus pass (SparkSpec asserts " +
      "this on the executed plan). Representative selection reuses the " +
      "cluster labels with a combinable min-struct argmax instead of " +
      "re-running the LSH chain; the loser anti-join keys on the unique " +
      "doc id (skew-free; planned as a SortMergeJoin, no broadcast — " +
      "duplicates can be a large fraction of a real corpus — though at " +
      "this scale AQE broadcasts the loser set).") {
      SparkEntry.byName("q57_corpus_chain").build(spark, dir)
    }
    section("q34 LSH dedup clusters (checkpointed family/signature and pair tables)",
      "The family table, candidate and verified pairs and the components " +
      "are computed and checkpointed before this plan: the family table " +
      "enters as Scan ExistingRDD, the union-find labels as a " +
      "LocalTableScan, and what runs here is the label join and the " +
      "family re-expansion join against the corpus scan.") {
      SparkEntry.byName("q34_lsh_dedup").build(spark, dir)
    }
    section("q52 cluster representatives (combinable per-cluster argmax)",
      "q34's clusters joined to the score column, then a min(struct) " +
      "aggregate per cluster_id — partial aggregates before its Exchange, " +
      "no window.") {
      SparkEntry.byName("q52_cluster_best").build(spark, dir)
    }
    section("q59 SemDeDup keep (in-cluster pairs -> components -> farthest-from-centroid keeper)",
      "q56's capped in-cluster pairs feed the connected components before " +
      "this plan (their labels enter as a LocalTableScan); the keeper is a " +
      "combinable min(struct(cen_cos, doc_id)) per group, partial " +
      "aggregates before its Exchange, against the broadcast centroid table.") {
      SparkEntry.byName("q59_semdedup_keep").build(spark, dir)
    }
    section("q58 incremental dedup (fold a new batch into a persisted index — old corpus never re-signed)",
      "The even-id half plays the persisted index (family table + " +
      "fh-keyed signatures + verified pairs, each localCheckpoint'ed); " +
      "the odd-id batch merges by re-aggregating the associative family " +
      "min-struct, signing ONLY never-seen families (anti-join on __fh), " +
      "banding old+new signatures together but emitting only pairs with " +
      ">= 1 new family, and verifying only those. The plan below reads " +
      "the old signatures from a checkpointed RDD — no shingle/signature " +
      "fold over the indexed corpus appears anywhere.") {
      SparkEntry.byName("q58_incremental_dedup").build(spark, dir)
    }
    section("q60 incremental SemDeDup (fixed epoch-0 quantizer, O(delta) fold)",
      "The odd-id batch is assigned against the even-epoch's quantizer " +
      "(one-row broadcast centroid array) and compared only where a pair " +
      "has >= 1 new member; the old epoch's assigned working set and pairs " +
      "enter from checkpointed RDDs — no re-assignment, no re-comparison " +
      "of the indexed corpus, and every new checkpoint is batch-bounded.") {
      SparkEntry.byName("q60_semdedup_incremental").build(spark, dir)
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS g_plans_text")
    spark.sql("DROP TABLE IF EXISTS g_plans_meta")
    docs.select("doc_id", "text").write.format("parquet")
      .bucketBy(8, "doc_id").sortBy("doc_id").mode("overwrite").saveAsTable("g_plans_text")
    docs.select("doc_id", "lang", "n_chars").write.format("parquet")
      .bucketBy(8, "doc_id").sortBy("doc_id").mode("overwrite").saveAsTable("g_plans_meta")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    section("Bucketed co-located join (shuffle paid once, at write time)",
      "Both sides written `bucketBy(8, doc_id)`: every later join on the " +
      "bucketed key reads co-located buckets — SortMergeJoin with ZERO " +
      "Exchange (broadcast disabled here to show the shuffle-join path; " +
      "the technique for repeatedly-joined corpus tables at 100 TB — the " +
      "write-side shuffle amortizes across every downstream join).") {
      spark.table("g_plans_text").join(spark.table("g_plans_meta"), Seq("doc_id"))
        .select("doc_id", "lang")
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.sql("DROP TABLE IF EXISTS g_plans_text")
    spark.sql("DROP TABLE IF EXISTS g_plans_meta")
    section("q47 int8 quantization (zero Exchange — projection in the scan stage)",
      "Per-vector max-abs scale, code transform and the audit digests are " +
      "codegen'd HOFs over the embedding array: no shuffle, no UDF — at " +
      "100 TB this is a pure map stage that fuses with whatever reads it.") {
      SparkEntry.byName("q47_quantize_int8").build(spark, dir)
    }
    section("q61 duplicated-span removal (doc-bounded spans array + codegen'd HOF filter)",
      "q51's island chain, then islands collapse to ONE spans array per " +
      "doc (combinable collect_list — bounded by the doc's own length, " +
      "never corpus-sized) and join back to the corpus on the doc key " +
      "(AQE-splittable equi-join; at this scale AQE broadcasts the spans " +
      "side, so the corpus crosses no Exchange). The per-token cut is a " +
      "codegen'd filter/exists over the " +
      "row-local spans array — no corpus window, no pair join.") {
      SparkEntry.byName("q61_remove_dup_spans").build(spark, dir)
    }
    section("q62 BPE first-merge pairs (vocab-weighted — corpus scanned once)",
      "The BPE-at-scale trick in the plan: the ONLY corpus-sized stage is " +
      "the word-count groupBy (partial_count before the word Exchange); " +
      "the char-pair explode and pair-sum run over the vocab-sized table, " +
      "and the top-K is TakeOrderedAndProject. Each BPE iteration costs a " +
      "vocab job, never a corpus re-read.") {
      SparkEntry.byName("q62_bpe_pairs").build(spark, dir)
    }
    section("q63 whole-doc packing (one shard Exchange + per-partition fold)",
      "Greedy never-split packing: a single shard-keyed repartition, " +
      "sortWithinPartitions, then a streaming fold with O(1) state per " +
      "partition (the open-new-pack-on-overflow reset is inherently " +
      "sequential per shard — a sanctioned mapPartitions site). No " +
      "window, no collect; shards pack in parallel.") {
      SparkEntry.byName("q63_pack_whole").build(spark, dir)
    }
    section("q64 transcript boilerplate-turn strip (combinable conv-frequency, no window)",
      "Distinct-conversation frequency per turn template = per-(hash, " +
      "conv) collapse then a combinable hash-keyed groupBy (partial_count " +
      "before the hash Exchange — a template in EVERY conversation " +
      "partial-aggregates map-side) joined back on the hash key; the " +
      "cleaned assembly is a conversation-keyed collect bounded by each " +
      "conversation's own turn count. Zero Window operators.") {
      SparkEntry.byName("q64_strip_boiler_turns").build(spark, dir)
    }
    section("q65 length-quantile profile (corpus collapses before any window)",
      "Exact nearest-rank percentiles: the only corpus-sized stage is the " +
      "combinable (group, value)-count groupBy (partial_count before its " +
      "Exchange); the cumulative window and percentile argmin run over the " +
      "group x distinct-length dimension table only.") {
      SparkEntry.byName("q65_length_profile").build(spark, dir)
    }
    section("q66 conversation integrity audit (one conv-keyed Exchange)",
      "The lag window and the defect-count groupBy share the single conv_id " +
      "hash partitioning — the groupBy partial-aggregates map-side after it; " +
      "per-conversation work is bounded by that conversation's turn count.") {
      SparkEntry.byName("q66_conv_integrity").build(spark, dir)
    }
    section("q67 deterministic global shuffle (one shard Exchange, shard-local sort)",
      "The seed-keyed md5 permutation costs ONE hash Exchange on the shard " +
      "id; row_number sorts only shard-local rows (corpus/nShards each). " +
      "md5 shards are uniform by construction — no skew handling needed, and " +
      "never a global single-partition sort.") {
      SparkEntry.byName("q67_global_shuffle").build(spark, dir)
    }
    section("q68 hashed linear classifier (map-only scoring pass)",
      "Hashing-trick featurize + integer linear score as ONE static_invoke " +
      "of graft.expr.TextCore.classifierScore per row (the struct is " +
      "projected once, its fields expanded by the next Project) — no keyed " +
      "Exchange: the one round-robin Exchange is Par.floor raising this " +
      "small table's scan to one partition per core, absent at real scale; " +
      "the canonical score-100-TB-with-a-linear-model pass is " +
      "embarrassingly parallel.") {
      SparkEntry.byName("q68_hash_classifier").build(spark, dir)
    }
    section("q69 context-window truncation (dual-frame window on one Exchange)",
      "Reverse cumulative token sum (suffix fit) and partition-min (system " +
      "turn) both ride the single conv_id Exchange; assembly is a " +
      "conversation-bounded ordered collect.") {
      SparkEntry.byName("q69_truncate_context").build(spark, dir)
    }
    section("q70 overlapping-window chunking (map-only explode)",
      "sequence + posexplode + slice per document — no Exchange; chunking " +
      "stays embarrassingly parallel at any corpus size.") {
      SparkEntry.byName("q70_chunk_docs").build(spark, dir)
    }
    section("q71 conversation exact dedup (combinable fingerprint argmin, no window)",
      "Keyed Exchanges for the conv collapse (once on each side of the " +
      "join-back) and the fingerprint family — a billion-copy conversation family partial-aggregates " +
      "its keeper argmin map-side; no fingerprint-keyed Window anywhere.") {
      SparkEntry.byName("q71_conv_dedup").build(spark, dir)
    }
    section("q72 agent-loop detection (one conv Exchange end-to-end)",
      "Lag + run-id windows and BOTH downstream groupBys — (conv, run) " +
      "then conv — cluster on a superset of the conv key, so the whole " +
      "gap-islands chain rides a single Exchange.") {
      SparkEntry.byName("q72_agent_loops").build(spark, dir)
    }
    section("q73 turn-order repair (one conv Exchange)",
      "Dense re-sequencing is one row_number over the conv-keyed sort; " +
      "per-conversation work is bounded by that conversation's turn count.") {
      SparkEntry.byName("q73_repair_order").build(spark, dir)
    }
    section("q74 DPO preference pairs (combinable argmax, linear best-vs-rest)",
      "Chosen selection is two combinable prompt-keyed aggregates (max " +
      "score, min id among the max-scored) — no Window, no id negation; " +
      "the pairing equi-join is AQE-skew-splittable and emits O(group).") {
      SparkEntry.byName("q74_preference_pairs").build(spark, dir)
    }
    section("q75 sqrt temperature sampling (source-sized broadcast, map-side gate)",
      "Per-source counts are one combinable groupBy on the dimension key; " +
      "the n_min scalar and the rate table broadcast back; the keep gate " +
      "is a map-side integer compare — the corpus itself never shuffles.") {
      SparkEntry.byName("q75_temperature_sample").build(spark, dir)
    }
    section("q76 duplicate-flow matrix (arithmetic pair counts, no pair enumeration)",
      "The corpus collapses to per-(family, source) counts in one " +
      "combinable groupBy; the family-keyed self-join touches only that " +
      "collapsed table and n_a*n_b counts cross pairs without " +
      "materializing them.") {
      SparkEntry.byName("q76_dup_flow_matrix").build(spark, dir)
    }
    section("q77 curriculum quantile binning (corpus collapses before the window)",
      "Same shape as q65: the only corpus-sized stages are the combinable " +
      "(group, value)-count groupBy and the final equi-join-back; the " +
      "cumulative window runs over the group x distinct-value dimension " +
      "table; bucket arithmetic is integer div.") {
      SparkEntry.byName("q77_curriculum").build(spark, dir)
    }
    section("q78 composed transcript-prep chain (two lineage cuts, no recompute)",
      "repair -> loop gate -> boiler strip -> truncate -> assemble -> pack " +
      "as one query: the turns table materializes exactly twice (repaired, " +
      "gated — each consumed by two branches); the final plan reads only " +
      "the checkpointed RDDs, never the original scan.") {
      SparkEntry.byName("q78_transcript_chain").build(spark, dir)
    }
    section("q79 KMV distinct-count sketch (O(k) mergeable buffer, partial-aggregates map-side)",
      "The typed Aggregator plans as ObjectHashAggregate with a partial " +
      "phase before the group Exchange: each task reduces its rows into a " +
      "k-bounded sorted array, so the shuffle carries per-group sketches, " +
      "never distinct values — the mergeable-summary contract that makes " +
      "count-distinct O(groups x k) at 100 TB instead of a " +
      "distinct-value shuffle.") {
      SparkEntry.byName("q79_kmv_sketch").build(spark, dir)
    }
    section("q80 tool-call transition matrix (one conv exchange, pre-counted distinct)",
      "ONE conv-keyed exchange feeds the lag window; the (from, to) " +
      "matrix is a combinable groupBy whose distinct-conversation count " +
      "arrives pre-collapsed through a per-(pair, conv) aggregate — a " +
      "pair present in every conversation never funnels raw turn rows " +
      "through one task; the pair key space is a dimension table.") {
      SparkEntry.byName("q80_tool_transitions").build(spark, dir)
    }
    section("q81 exact bottom-k sample (TakeOrderedAndProject, never a global sort)",
      "orderBy(key).limit(k) plans as a per-task k-row heap merged on " +
      "the driver — at most k rows per partition cross the wire; the " +
      "dense 1..k rank window runs over the k survivors only " +
      "(k-bounded single task by construction).") {
      SparkEntry.byName("q81_bottomk_sample").build(spark, dir)
    }
    section("q82 centroid similarity matrix (integer-exact sums, group-dim keys only)",
      "Floats quantize map-side to floor(x*2^20) longs, so the only " +
      "corpus-sized stage — the (group, dim)-keyed sum — is an exact " +
      "integer combinable aggregate; centroid reassembly is dim-bounded " +
      "per group and the pairwise stage is a |groups|-row broadcast " +
      "self-join. Cosine is scale-invariant so the SUM vector stands in " +
      "for the mean with no float division before the final fold.") {
      SparkEntry.byName("q82_centroid_sim").build(spark, dir)
    }
    section("q83 temperature-mixture epoch execution (dimension broadcast, map-side explode)",
      "Per-source counts are ONE combinable dimension groupBy; the " +
      "sqrt-rule rate table broadcasts back; emission is a map-side " +
      "sequence explode gated by a 40-bit content-keyed hash — the " +
      "corpus never crosses a keyed exchange, it is read once and " +
      "written ~sum(r_s * n_s) times, the output's own size.") {
      SparkEntry.byName("q83_epoch_repeats").build(spark, dir)
    }
    section("q84 per-group bottom-k carve (salted two-level, no single-task group sort)",
      "Top-k within (group, salt) buckets runs parallel across 64 tasks " +
      "per group; the global per-group rank window touches only the " +
      "k x saltBuckets survivors — identical output to a single window " +
      "(k smallest of a union of bucket k-smallest), but a 10^11-doc " +
      "source never sorts in one task.") {
      SparkEntry.byName("q84_bottomk_per_group").build(spark, dir)
    }
    section("q85 vocabulary OOV audit (one corpus pass, broadcast vocab membership)",
      "Tokens explode map-side (explode_outer keeps token-less docs), " +
      "vocabulary membership is a BroadcastHashJoin against the K-row " +
      "artifact, and both counters collapse through ONE doc-keyed " +
      "combinable groupBy — no join-back (the second corpus scan builds " +
      "the q54 vocabulary artifact, a TakeOrderedAndProject); the " +
      "rate is a single division so engines agree bit-for-bit.") {
      SparkEntry.byName("q85_oov_audit").build(spark, dir)
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("PLANS.md written")
    spark.stop()
  }
}
