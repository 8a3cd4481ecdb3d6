package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.dedup.Dedup
import graft.expr.textops.tokens_of

/**
 * Corpus-level training-data operators: statistics and filters that need
 * the whole corpus, not one document — distinctive-term extraction
 * (TF-IDF shape), PII scrubbing, benchmark-contamination checks, and
 * repeated-line boilerplate detection (the corpus-scale complement of the
 * per-turn header/footer strip in graft.core.Segmentation).
 *
 * Scale shapes: everything reduces to hash-keyed groupBys and equi-joins
 * on term/line/shingle keys — map-side combinable, no corpus cross
 * products, windows only over per-document bounded candidate sets.
 * Rankings are integer-only (tf, df, lexicographic term) so results are
 * bit-deterministic and SQL-oracle-checkable with no float-accumulation
 * hazards.
 */
object CorpusAnalysis {

  /**
   * Top distinctive terms per document — the TF-IDF shape with an
   * integer-exact ranking: high term frequency first, low document
   * frequency (rarer = more distinctive) second, term lexicographic as
   * the deterministic tie-break. Three shuffles (doc-term tf, doc-term
   * again in the df branch, term df) plus a term-keyed join; the per-doc
   * window only ever sees that document's own distinct terms.
   */
  def distinctiveTerms(df: DataFrame, idCol: String, textCol: String,
                       topK: Int = 5): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), explode(tokens_of(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency via a map-side-combinable groupBy over the SAME
    // aggregated tf rows, joined back on term. NOT a window count over
    // partitionBy(term): a window gets no partial aggregation, so a
    // stopword's df partition is n_docs rows serialized through ONE task —
    // the groupBy's partial_count collapses every map partition's share of
    // a hot term to one row before the term Exchange, and the join back is
    // a sort-merge join AQE can skew-split. The df branch does not reuse
    // tf's (doc, term) shuffle: Spark plans it from a second Scan and
    // Generate with its own (doc, term) Exchange (PLANS.md q35). The per-doc
    // rank window only ever sees one document's distinct terms.
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tf"), asc("df"), asc("term"))
    tf.join(dfreq, Seq("term"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select("doc_id", "rank", "term", "tf", "df")
  }

  /** Conservative, RE2-compatible PII patterns (identical dialect in Java
    * regex and DuckDB's RE2 — no lookaround, no backrefs). */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePattern = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrubbing: count and redact emails/phone numbers. Pure map-side
    * column expressions — scales embarrassingly. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      regexp_count(t, lit(emailPattern)).cast("long").as("n_emails"),
      regexp_count(t, lit(phonePattern)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(t, emailPattern, "<EMAIL>"), phonePattern, "<PHONE>")
        .as("scrubbed"))
  }

  /**
   * Benchmark-contamination check: which corpus documents share any
   * word k-gram with a benchmark document (deterministic md5 sample of
   * the corpus stands in for the benchmark set)? The join key is the
   * 60-bit md5 shingle hash, not the shingle string — less shuffle
   * weight; per-doc output counts distinct shared shingles and distinct
   * benchmark documents hit. Self-matches excluded.
   *
   * `maxDf` drops shingles whose corpus document frequency exceeds the cap
   * BEFORE the join: one boilerplate k-gram shared by millions of corpus
   * docs is a single hot join key that would explode the join, and real
   * decontamination pipelines discard ultra-high-df shingles anyway (a
   * phrase that common carries no contamination signal). The cap is part
   * of the operator's semantics, mirrored by the SQL oracle.
   */
  def contamination(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, benchOutOf256: Int = 16,
                    maxDf: Int = 10000): DataFrame = {
    // distinct shingle HASHES in one native pass (graft.expr.TextCore
    // .shingleHashes): the gram strings never materialize as rows, and
    // the KeyCaps double pass below re-runs only this fused expression
    val raw = df.select(col(idCol).as("doc_id"),
        explode(graft.expr.textops.shingle_hashes(col(textCol), k)).as("h"))
    // broadcast-hot-set df cap (graft.skew.KeyCaps): over-cap shingles
    // (<= |rows|/maxDf keys — bounded) are counted with a combinable
    // groupBy and anti-filtered MAP-SIDE, so a corpus-ubiquitous
    // boilerplate shingle's rows never enter the h exchange — the former
    // window cap scanned them all through one count task first
    val sh = graft.skew.KeyCaps.dropOverCapKeys(raw, Seq("h"), maxDf, site = "contamination_df")
    sharedWithBench(sh, benchOutOf256)
  }

  /** Shared tail of the contamination variants: ONE corpus pass. The
    * df-cap window and the per-h groupBy share the same hash partitioning
    * (one Exchange); per-h groups are bounded by the cap, so the collect
    * is bounded the same way as the candidate-pair skew guards. Exploding
    * docs x bench-ids inside each h-group produces exactly the rows the
    * previous formulation got from a self-join whose bench side RE-RAN
    * the whole corpus shingle pass. */
  private def sharedWithBench(sh: DataFrame, benchOutOf256: Int): DataFrame = {
    val bound = f"$benchOutOf256%02x"
    val grouped = sh
      .withColumn("is_bench",
        substring(md5(col("doc_id").cast("string")), 1, 2) < bound)
      .groupBy("h")
      .agg(collect_list(col("doc_id")).as("ids"),
        collect_list(when(col("is_bench"), col("doc_id"))).as("bench_ids"))
      .where(size(col("bench_ids")) > 0)
    grouped.select(col("h"), explode(col("ids")).as("doc_id"), col("bench_ids"))
      .select(col("h"), col("doc_id"), explode(col("bench_ids")).as("bench_id"))
      .where(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id")
      .agg(countDistinct("h").as("n_shared_ngrams"),
        countDistinct("bench_id").as("n_bench_docs"))
  }

  /**
   * [[contamination]] with a bloom prefilter — IDENTICAL output, far less
   * shuffle at corpus scale. The bench side's shingle hashes are
   * aggregated into a bloom filter (distributed build; only the ~MB
   * bitset reaches the driver), broadcast, and applied MAP-SIDE before
   * the df-cap window: only corpus shingles that might belong to the
   * bench set ever enter the h-keyed exchange, shrinking it from
   * |corpus shingles| to ~|bench shingles| x (1+fpp) — the shape that
   * matters when the corpus is 100 TB and the benchmark is a few GB.
   *
   * Exactness: the probe is a pure function of h, so it keeps or drops
   * whole h-groups — per-h document frequencies among survivors are
   * unchanged — and bloom false positives match no bench row in the exact
   * equi-join, so they contribute nothing. No false negatives by
   * construction. SparkSpec asserts output equality with [[contamination]].
   */
  def contaminationBloom(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, benchOutOf256: Int = 16,
                         maxDf: Int = 10000, fpp: Double = 0.01): DataFrame = {
    val raw = df.select(col(idCol).as("doc_id"),
        explode(graft.expr.textops.shingle_hashes(col(textCol), k)).as("h"))
    val bound = f"$benchOutOf256%02x"
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 2) < bound
    val benchH = raw.where(isBench).select("h")
    // one action on the SMALL side (the benchmark, by contract) to size the
    // filter; the build itself is a distributed aggregation
    val nBench = math.max(benchH.count(), 1L)
    val bloom = benchH.stat.bloomFilter("h", nBench, fpp)
    val bb = df.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bb.value.mightContainLong(h))
    // the df cap counts only bloom survivors, but the probe keeps or drops
    // whole h-groups (pure function of h), so survivor counts per h equal
    // the full-corpus counts — the cap semantics are unchanged. The
    // survivors are BOUNDED (~|bench shingles| x (1+fpp) — the operator's
    // whole point), so materialize them once with localCheckpoint: the
    // cap guard's count pass and anti-join then both read the bench-sized
    // set instead of re-running the corpus scan + shingle pass. Same
    // broadcast-hot-set guard as [[contamination]] — map-side-combinable
    // count, map-side anti-filter, no hot-key single-task scan.
    val survivors = raw.where(mightContain(col("h"))).localCheckpoint()
    val sh = graft.skew.KeyCaps.dropOverCapKeys(survivors, Seq("h"), maxDf, site = "contamination_bloom_df")
    sharedWithBench(sh, benchOutOf256)
  }

  /**
   * Corpus-relative lexical commonness — the CCNet/KenLM-shaped quality
   * signal with an integer-exact statistic: each token's corpus-wide
   * occurrence count, summed (and averaged by one division) per document.
   * Documents of frequent, ordinary words score high; jargon/noise/
   * gibberish-heavy documents score low — the filter band is picked
   * downstream, exactly like a perplexity band. An LM log-prob mean would
   * be float-accumulation-order-dependent; integer counts make the score
   * bit-exact and oracle-checkable.
   *
   * Skew-proof by construction: NO token instance ever crosses a
   * term-keyed exchange. The token explosion collapses immediately to
   * per-(doc, term) counts — a groupBy whose partial aggregation combines
   * a hot term's instances map-side, unlike a `count().over(partitionBy
   * (term))` window, which has no partial step and would serialize ~4-5%
   * of a 100 TB corpus ("the") through ONE window task. The corpus-wide
   * frequency is then a second combinable groupBy over those collapsed
   * rows (<= n_docs rows per term), joined back on term — a sort-merge
   * join AQE can skew-split, which a window cannot. The per-doc totals
   * decompose exactly: n_tokens = sum(tf), sum_token_freq = sum(tf*freq)
   * — identical integers to the instance-level formulation. The (doc,
   * term) exchange feeding tf appears in both branches and is planned
   * once (reused exchange).
   */
  def lexicalCommonness(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), explode(tokens_of(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("__tf"))
    val freq = tf.groupBy("term").agg(sum("__tf").as("__freq"))
    tf.join(freq, Seq("term"))
      .groupBy("doc_id")
      .agg(sum("__tf").as("n_tokens"),
        sum(col("__tf") * col("__freq")).as("sum_token_freq"))
      .withColumn("mean_token_freq",
        col("sum_token_freq").cast("double") / col("n_tokens").cast("double"))
  }

  /**
   * Global top-K vocabulary with counts — the tokenizer-vocab seeding /
   * corpus-profiling primitive. Term counts are a map-side-combinable
   * groupBy (a hot term partial-aggregates like any other); the global
   * top-K plans as TakeOrderedAndProject — per-partition top-K merged
   * once, never a vocabulary-wide global sort. Deterministic tie-break
   * (count desc, term asc); the rank window runs over the K-row result
   * only.
   */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = df.select(explode(tokens_of(col(textCol))).as("term"))
    toks.groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("term"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("n"), asc("term"))).cast("long"))
      .select("rank", "term", "n")
  }

  /**
   * Vocabulary coverage / OOV audit (q85): given a vocabulary artifact
   * (e.g. [[vocabTopK]]'s output, or a tokenizer's term table), report
   * per-document token count, out-of-vocabulary token count and OOV
   * rate — the pre-training audit that decides whether a tokenizer's
   * vocabulary actually covers the corpus it is about to encode
   * (per-source OOV mass is one further groupBy on this output).
   *
   * Scale shape: ONE corpus pass for the AUDIT ITSELF, given a
   * precomputed vocabulary artifact — tokens explode map-side
   * (explode_outer so empty documents keep their row), vocabulary
   * membership is a broadcast hash LEFT join (the vocab is K rows), and
   * both counters collapse through a single doc-keyed combinable
   * groupBy whose per-doc row count is bounded by that document's own
   * token count. No join-back, no second corpus scan *by this
   * operator*; a caller that derives `vocab` from the same documents
   * table (as q85 does via [[vocabTopK]]) pays that derivation's own
   * corpus pass in addition. oov_rate is a single division (null for
   * token-less docs), so engines agree bit-for-bit.
   *
   * @param vocab the tokenizer vocabulary to audit against — REQUIRED
   *              to expose the vocabulary entries in a string column
   *              literally named `term` (as [[vocabTopK]]'s output
   *              does); extra columns are ignored.
   */
  def oovAudit(df: DataFrame, idCol: String, textCol: String,
               vocab: DataFrame): DataFrame = {
    val toks = df.select(col(idCol), explode_outer(tokens_of(col(textCol))).as("term"))
    toks.join(broadcast(vocab.select(col("term")).withColumn("__in", lit(1))),
        Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(col("term")).as("n_tokens"),
        sum(when(col("term").isNotNull && col("__in").isNull, 1L).otherwise(0L))
          .as("n_oov"))
      .withColumn("oov_rate", when(col("n_tokens") > 0L,
        col("n_oov").cast("double") / col("n_tokens").cast("double")))
  }

  /**
   * First BPE merge statistic — the inner loop of byte-pair-encoding
   * tokenizer training (Sennrich et al. 2016, arXiv:1508.07909): count
   * adjacent character pairs across the corpus and rank the top-K merge
   * candidates (count desc, pair asc — the deterministic merge order).
   * Pairs never cross word boundaries; no word-end marker (the corpus
   * tokenizer already erases the whitespace the marker would encode).
   *
   * Scale shape — the BPE-at-scale trick: pair counting runs over the
   * DISTINCT-WORD VOCABULARY weighted by word frequency, not over the
   * raw character stream. The only corpus-sized pass is ONE combinable
   * word-count groupBy (corpus -> vocab-sized); the char-pair explode
   * then touches vocab rows only — at 100 TB the vocabulary is millions
   * of rows where the character stream is quadrillions, so each BPE
   * iteration costs a vocab-sized job, not a corpus re-read. Pair sums
   * are again combinable, and the top-K plans as TakeOrderedAndProject
   * (per-partition top-K merged once — no global sort).
   *
   * Words of length 1 contribute no pair — filtered BEFORE the explode
   * (Spark's `sequence(0, -1)` would DESCEND, not produce empty).
   */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val wc = df.select(explode(tokens_of(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__wc"))
    wc.where(length(col("word")) >= 2)
      .select(explode(transform(
        sequence(lit(0), length(col("word")) - 2),
        i => col("word").substr(i + 1, lit(2)))).as("pair"),
        col("__wc"))
      .groupBy("pair").agg(sum("__wc").as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("n"), asc("pair"))).cast("long"))
      .select("rank", "pair", "n")
  }

  /**
   * Corpus-mix audit: per-source document/token/char totals and each
   * source's share of all corpus tokens — the data-mixture report every
   * training pipeline keeps next to its sampling weights. One combinable
   * groupBy on the dimension-sized source key, so the corpus is scanned
   * once and nothing skews; the global token total is a window sum over
   * those per-source rows (one row per source, so its single partition
   * is dimension-sized). Counts are integer-exact; the share is one
   * division of exact longs — bit-identical across engines.
   */
  def sourceMix(df: DataFrame, sourceCol: String, textCol: String): DataFrame =
    df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens_of(col(textCol))).cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars_total"))
      .withColumn("token_share",
        col("n_tokens").cast("double") / sum("n_tokens").over(Window.partitionBy()).cast("double"))

  /** Source/domain blocklist filtering (the C4-style badlist step): a
    * broadcast LEFT ANTI join — the blocklist is dimension-sized by
    * definition, so the corpus never shuffles; at 100 TB this is a
    * map-side hash probe fused into the scan stage. */
  def blocklistFilter(df: DataFrame, srcCol: String,
                      blocklist: DataFrame, blockCol: String): DataFrame =
    df.join(broadcast(blocklist), df(srcCol) === blocklist(blockCol), "left_anti")

  /**
   * Corpus-level boilerplate detection (north-star "repeated-prefix /
   * line-density" heuristic at corpus scale): a line is boilerplate when
   * its normalized form occurs in at least `minDocs` distinct documents.
   * Per-document output: total lines and boilerplate lines. One groupBy
   * on the normalized line + one line-keyed join back.
   */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
                       sep: String, minDocs: Int = 10): DataFrame = {
    // sep is a LITERAL separator (the oracle's string_split is literal);
    // quote it so regex metacharacters cannot silently diverge
    val lines = df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("line"))
      .select(col("doc_id"), lower(trim(col("line"))).as("norm"))
    // ONE corpus explode collapsed to per-(doc, line) instance counts,
    // then the distinct-doc frequency as a map-side-combinable groupBy
    // over those collapsed rows joined back on norm — NOT a window count:
    // a ubiquitous boilerplate line (the very signal this operator exists
    // to find) is in every document, and a `count().over(partitionBy
    // (norm))` window would serialize all n_docs of its rows through one
    // task with no partial aggregation. The groupBy's partial_count
    // collapses each map partition's share first; the join back is
    // AQE-skew-splittable. The (doc, norm) exchange feeding perDocLine is
    // shared by both branches (reused exchange).
    val perDocLine = lines.groupBy("doc_id", "norm").agg(count(lit(1)).as("cnt"))
    val freq = perDocLine.groupBy("norm").agg(count(lit(1)).as("docs_with_line"))
    perDocLine.join(freq, Seq("norm"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_lines"),
        sum(when(col("docs_with_line") >= minDocs, col("cnt")).otherwise(0L)).as("n_boiler_lines"))
  }

  /**
   * Boilerplate-TURN stripping over multi-turn transcripts — the
   * transcript-granularity main-content extraction: a turn whose
   * normalized text (the [[Dedup.normText]] normalization)
   * appears in at least `minConvs` DISTINCT conversations is boilerplate
   * (repeated system prompts, canned greetings, templated tool banners)
   * and is cut from the assembled conversation. Emits one row per
   * conversation: turn counts and the cleaned turn-ordered assembly
   * (kept turns joined with '\n'; a fully-templated conversation
   * assembles to "").
   *
   * Scale shape — [[boilerplateLines]] at turn granularity: the
   * distinct-conversation frequency is a per-(hash, conv) collapse then
   * a combinable hash-keyed groupBy (a turn text present in EVERY
   * conversation partial-aggregates map-side — never a hash-keyed
   * window); the flag joins back on the hash key (AQE-skew-splittable,
   * broadcastable when the repeated-turn dimension is small); the final
   * assembly is a conversation-keyed collect bounded by each
   * conversation's own turn count — the transcript analog of a
   * doc-bounded spans array, never corpus-sized. No window anywhere.
   */
  def stripBoilerplateTurns(turns: DataFrame, convCol: String, idxCol: String,
                            textCol: String, minConvs: Int): DataFrame = {
    val base = turns.select(col(convCol).as("conv_id"), col(idxCol).as("turn_idx"),
      col(textCol).as("text"),
      md5(Dedup.normText(col(textCol))).as("__h"))
    val perConvTurn = base.select("__h", "conv_id")
      .groupBy("__h", "conv_id").agg(count(lit(1)).as("__cnt"))
    val nconv = perConvTurn.groupBy("__h").agg(count(lit(1)).as("__nconv"))
    base.join(nconv, Seq("__h"))
      .withColumn("__boiler", col("__nconv") >= minConvs)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_boiler_turns"),
        array_join(transform(sort_array(collect_list(
          when(!col("__boiler"), struct(col("turn_idx").as("i"), col("text").as("t"))))),
          s => s("t")), "\n").as("clean_text"))
  }
}
