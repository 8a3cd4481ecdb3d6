package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.expr.textops.tokens_of

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * language ID (stopword-marker heuristic), quality scoring, token counting,
 * document fingerprinting. All pure column expressions (whole-stage
 * codegen'd, no UDFs) so they pushdown/prune and scale map-only.
 */
object TextAnalysis {

  /** Marker stopwords per language (tiny n-gram heuristic — deterministic,
    * SQL-expressible; accuracy is not the point, parity is). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " of ", " and "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " la ", " et "),
    "es" -> Seq(" el ", " los ", " y "))

  private def hitCount(textCol: Column, markers: Seq[String]): Column =
    markers.map(m => when(instr(textCol, m) > 0, 1).otherwise(0))
      .reduce(_ + _).cast("long")

  /** Language-ID: argmax of marker hits, first-wins tie-break in
    * (en, de, fr, es) order, 'und' when all zero. */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val withCounts = langMarkers.foldLeft(df) { case (d, (lang, markers)) =>
      d.withColumn(s"hits_$lang", hitCount(concat(lit(" "), lower(col(textCol)), lit(" ")), markers))
    }
    // explicit first-wins argmax chain (en > others, then de, fr, es)
    val pred =
      when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr") &&
        col("hits_en") >= col("hits_es") && col("hits_en") > 0, "en")
      .when(col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es") &&
        col("hits_de") > 0, "de")
      .when(col("hits_fr") >= col("hits_es") && col("hits_fr") > 0, "fr")
      .when(col("hits_es") > 0, "es")
      .otherwise("und")
    withCounts.withColumn("pred_lang", pred)
  }

  /** Quality scoring: length, word stats, stopword ratio, alpha ratio.
    * Single-division doubles -> bit-deterministic across engines. */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = size(split(trim(t), "\\s+")).cast("long")
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_words", words)
      .withColumn("avg_word_len",
        (length(translate(trim(t), " ", "")).cast("double") / words.cast("double")))
      .withColumn("stopword_hits",
        Seq(" the ", " a ", " of ").map(m => when(instr(concat(lit(" "), lower(t), lit(" ")), m) > 0, 1).otherwise(0))
          .reduce(_ + _).cast("long"))
      .withColumn("is_quality",
        col("n_words") >= 20 && col("avg_word_len") >= 2.0 && col("avg_word_len") <= 12.0)
  }

  /** Token counting: whitespace tokens + regex word tokens (BPE-ish
    * lower-alnum runs). */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(split(trim(t), "\\s+")).cast("long"))
      .withColumn("word_tokens",
        size(graft.expr.textops.tokens_of(t)).cast("long"))
  }

  /** Deterministic hash-based sampling: keep a row iff the first byte of
    * md5(id) falls under the rate — seed-free, engine-portable (md5 is
    * identical everywhere), stable under re-runs and resharding. The
    * training-data downsampling primitive (optionally stratified by any
    * column simply by choosing per-stratum rates). */
  def deterministicSample(df: DataFrame, idCol: String, keepOutOf256: Int): DataFrame =
    df.where(substring(md5(col(idCol).cast("string")), 1, 2) < rateBound(keepOutOf256))

  // lexicographic compare on the fixed-width lowercase hex prefix ==
  // numeric compare ('0'-'9' < 'a'-'f'), portable across engines; 256 needs
  // a sentinel above every hex pair ("100" would sort BELOW "1f")
  private def rateBound(outOf256: Int): String = {
    require(outOf256 >= 0 && outOf256 <= 256, s"rate must be in [0,256]: $outOf256")
    if (outOf256 == 256) "g" else f"$outOf256%02x"
  }

  /** Stratified deterministic sampling: per-stratum keep rates (out of
    * 256) over the same seed-free md5 gate as [[deterministicSample]] —
    * the training-data MIXING primitive (e.g. upsample rare languages,
    * downsample boilerplate-heavy domains) with reshard-stable, exactly
    * reproducible membership. Strata absent from `rates` fall back to
    * `defaultOutOf256`. Pure map-side predicate. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Int], defaultOutOf256: Int): DataFrame = {
    val gate = substring(md5(col(idCol).cast("string")), 1, 2)
    val bound = rates.foldLeft(lit(rateBound(defaultOutOf256))) { case (acc, (stratum, r)) =>
      when(col(stratumCol) === stratum, lit(rateBound(r))).otherwise(acc)
    }
    df.where(gate < bound)
  }

  /**
   * Curriculum difficulty binning (q77): assign every document an exact
   * per-group quantile bucket of its difficulty score (0..nBuckets-1) —
   * the staged-training primitive (easy-first curricula, hard-example
   * mining, per-source difficulty mixes). Ties share the bucket of
   * their first rank, so equal scores NEVER straddle a stage boundary
   * and membership is deterministic under resharding.
   *
   * Same scale shape as [[lengthProfile]]: the corpus collapses via one
   * combinable (group, value)-count groupBy; the cumulative window runs
   * only over the group x distinct-value dimension table; bucket
   * arithmetic is integer-exact (`div`, no float rank math); the
   * join-back to per-doc rows is an equi-join on (group, value).
   * `valCol` must be exact-equality-safe (integer/decimal, not float).
   */
  def curriculumBuckets(df: DataFrame, idCol: String, groupCol: String,
                        valCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val vc = df.groupBy(col(groupCol).as("__grp"), col(valCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val wTot = Window.partitionBy("__grp")
    val wCum = Window.partitionBy("__grp").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dim = vc.withColumn("__total", sum("__cnt").over(wTot))
      .withColumn("__before", sum("__cnt").over(wCum) - col("__cnt"))
      .select(col("__grp"), col("__v"), col("__total").as("n_group"),
        expr(s"(__before * $nBuckets) div __total").cast("long").as("bucket"))
    df.join(dim, col(groupCol) === col("__grp") && col(valCol) === col("__v"))
      .select(col(idCol), col(groupCol), col(valCol), col("bucket"), col("n_group"))
  }

  /**
   * Square-root temperature sampling (q75): the multilingual/multi-source
   * rebalancing rule (alpha = 0.5, the mBERT/XLM-R exponent) — each
   * source keeps rate (n_min / n_source)^(1/2), so the smallest source
   * keeps everything and larger sources are downweighted toward the
   * sqrt of their size ratio. Membership is the same seed-free md5 gate
   * as [[deterministicSample]], made ENGINE-EXACT despite the real-valued
   * rate: the gate compares a 40-bit integer hash prefix against
   * floor(rate * 2^40), and every step — double division, sqrt, scaling
   * by a power of two, floor — is IEEE-correctly-rounded in both Spark
   * and DuckDB, so the kept set is bit-reproducible (general-alpha `pow`
   * is NOT cross-engine exact, which is why alpha is pinned to 1/2).
   *
   * Scale: per-source counts are one combinable groupBy on the
   * dimension key; n_min broadcasts back from that source-sized table
   * (the q55 total pattern); the gate itself is a map-side predicate.
   */
  def sqrtTemperatureSample(df: DataFrame, idCol: String, srcCol: String): DataFrame = {
    val counts = df.groupBy(col(srcCol).as("__src")).agg(count(lit(1)).as("n_source"))
    val nMin = counts.agg(min(col("n_source")).as("n_min"))
    val withRate = counts.crossJoin(broadcast(nMin))
      .withColumn("gate_bound",
        floor(sqrt(col("n_min").cast("double") / col("n_source").cast("double"))
          * lit(1099511627776L)).cast("long")) // 2^40
    df.join(broadcast(withRate), col(srcCol) === col("__src"))
      .withColumn("gate",
        conv(substring(md5(concat(lit("mix:"), col(idCol).cast("string"))), 1, 10),
          16, 10).cast("long"))
      .withColumn("keep", col("gate") < col("gate_bound"))
      .drop("__src", "n_min", "gate")
  }

  /** GPT-style sequence packing: concatenate documents in stable id order
    * and chunk the token stream into fixed `packTokens` windows, letting a
    * document span pack boundaries (the concat-then-chunk pretraining
    * contract). Packing is per shard (`id mod nShards`): the cumulative
    * token offset needs only a shard-local ordered window — ONE shuffle,
    * shards pack in parallel — where a single global order would serialize
    * the whole corpus through one partition. Emits one row per (doc, pack)
    * segment: which token range of the doc lands in which pack.
    * Integer-exact throughout (`div`, no float division). */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    packTokens: Int, nShards: Int): DataFrame = {
    require(packTokens > 0, s"packTokens must be positive: $packTokens")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val nTokens = size(split(trim(col(textCol)), "\\s+")).cast("long")
    val w = Window.partitionBy("shard").orderBy(idCol)
    val cap = lit(packTokens.toLong)
    df.select(col(idCol), pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        nTokens.as("n_tokens"))
      .withColumn("tok_start", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("pack_id", explode(sequence(
        expr(s"tok_start div ${packTokens}L"),
        expr(s"(tok_start + n_tokens - 1) div ${packTokens}L"))))
      .withColumn("seg_start", greatest(col("tok_start"), col("pack_id") * cap))
      .withColumn("seg_len",
        least(col("tok_start") + col("n_tokens"), (col("pack_id") + lit(1L)) * cap)
          - col("seg_start"))
      .select(col("shard"), col("pack_id"), col(idCol),
        (col("seg_start") - col("tok_start")).as("seg_start_in_doc"),
        col("seg_len"))
  }

  /**
   * Exact per-group length-quantile profile (nearest-rank p50/p90/p99 of
   * per-doc token counts) — the audit-grade companion to sketch-based
   * approximate quantiles: corpus curation decisions (truncation limits,
   * pack sizes, length filters) get pinned to exact integers.
   *
   * Scale shape: the ONLY corpus-sized stage is a combinable
   * (group, value)-count groupBy — the corpus collapses to a dimension
   * table of at most |groups| x |distinct lengths| rows before any
   * window; the cumulative-count window then runs over that tiny table
   * (a source with a billion docs still contributes at most ~1e5
   * distinct lengths). Percentile selection is integer-exact
   * (`cum*100 >= p*total` — no float rank arithmetic): the nearest-rank
   * definition, min value whose cumulative count reaches ceil(p%*n).
   */
  def lengthProfile(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val n = size(split(trim(col(textCol)), "\\s+")).cast("long")
    val vc = df.select(col(groupCol).as("__grp"), n.as("n_tokens"))
      .groupBy("__grp", "n_tokens").agg(count(lit(1)).as("__cnt"))
    val wTot = Window.partitionBy("__grp")
    val wCum = Window.partitionBy("__grp").orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pick(p: Int) =
      min(when(col("__cum") * 100 >= col("__total") * p, col("n_tokens")))
    vc.withColumn("__total", sum("__cnt").over(wTot))
      .withColumn("__cum", sum("__cnt").over(wCum))
      .groupBy(col("__grp").as(groupCol))
      .agg(max("__total").as("n_docs"),
        pick(50).as("p50_tokens"), pick(90).as("p90_tokens"),
        pick(99).as("p99_tokens"))
  }

  /**
   * Whole-document context packing — the SFT/instruction-tuning variant
   * of [[packSequences]]: a document (or assembled conversation) is
   * NEVER split across packs. Documents are taken in stable id order per
   * shard and greedily assigned: if the current pack can't fit the next
   * doc, a new pack opens; a doc larger than `packTokens` gets a pack of
   * its own with `oversize = true` (the caller decides truncation —
   * packing never silently cuts an example the way concat-then-chunk
   * deliberately does for pretraining).
   *
   * Scale shape: ONE shuffle (repartition on the shard key) and a
   * per-partition streaming fold with O(1) state — no collect, no
   * corpus-wide window, shards pack in parallel exactly as in
   * [[packSequences]]. The greedy open-new-pack-on-overflow reset is
   * inherently sequential per shard (a prefix-sum window cannot express
   * the reset), which is why this is one of the few sanctioned
   * mapPartitions sites; multiple shards hashing into one partition are
   * handled by resetting the fold state on every shard change.
   */
  def packWholeDocs(df: DataFrame, idCol: String, textCol: String,
                    packTokens: Int, nShards: Int): DataFrame = {
    require(packTokens > 0, s"packTokens must be positive: $packTokens")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val spark = df.sparkSession
    import spark.implicits._
    val nTokens = size(split(trim(col(textCol)), "\\s+")).cast("long")
    val cap = packTokens.toLong
    df.select(col(idCol).cast("long").as("doc_id"),
        pmod(col(idCol), lit(nShards.toLong)).cast("long").as("shard"),
        nTokens.as("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var pack = 0L
        var fill = 0L
        it.map { case (id, shard, n) =>
          if (shard != curShard) { curShard = shard; pack = 0L; fill = 0L }
          if (fill > 0 && fill + n > cap) { pack += 1; fill = 0L }
          val off = fill
          fill += n
          (id, shard, n, pack, off, n > cap)
        }
      }
      .toDF("doc_id", "shard", "n_tokens", "pack_id", "pack_offset", "oversize")
  }

  /** Fingerprinting: md5 of the normalized text + an 8-hex-char bucket. */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = Dedup.normText(col(textCol))
    df.withColumn("fp", md5(norm))
      .withColumn("fp_bucket", substring(md5(norm), 1, 8))
      .withColumn("norm_len", length(norm).cast("long"))
  }

  /**
   * Gopher-style repetition filters per document: the most-frequent-word
   * fraction and the duplicate-2-gram fraction — the standard signals for
   * machine-generated / boilerplate text in training-data curation
   * (counts are exact integers; each fraction is ONE division, so the SQL
   * oracle matches bit-for-bit). The top-word count folds over the SORTED
   * token array (longest equal-run), map-side, no shuffle.
   */
  /** (tokens, top-word run count, n_2grams, n_dup_2grams) — shared by
    * [[repetitionStats]] and [[corpusFilter]]; native one-pass
    * expressions (graft.expr.TextCore.topRunCount / twoGramCounts — the former
    * interpreted struct-accumulator fold allocated one struct per token;
    * graft.HofRefs.repetitionPiecesHof is the differential reference). */
  private[graft] def repetitionPieces(t: Column): (Column, Column, Column, Column) = {
    val toks = tokens_of(t)
    val tg = graft.expr.textops.two_gram_counts(toks)
    (toks, graft.expr.textops.top_run_count(toks),
      tg.getField("n2"), tg.getField("ndup"))
  }

  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      maxTopWordFrac: Double = 0.2,
                      maxDup2gramFrac: Double = 0.2): DataFrame = {
    val (toks, topCount, n2, ndup) = repetitionPieces(col(textCol))
    df.select(col(idCol),
        size(toks).cast("long").as("n_words"),
        topCount.as("top_word_count"),
        n2.as("n_2grams"),
        ndup.as("n_dup_2grams"))
      .withColumn("top_word_frac",
        when(col("n_words") > 0,
          col("top_word_count").cast("double") / col("n_words").cast("double")).otherwise(0.0))
      .withColumn("dup_2gram_frac",
        when(col("n_2grams") > 0,
          col("n_dup_2grams").cast("double") / col("n_2grams").cast("double")).otherwise(0.0))
      .withColumn("is_repetitive",
        col("top_word_frac") > maxTopWordFrac || col("dup_2gram_frac") > maxDup2gramFrac)
  }

  /**
   * Composite corpus-cleaning decision (the C4/Gopher-style keep/drop
   * pipeline): quality gate + language gate + repetition gate + exact-dup
   * gate (only the lowest doc id per normalized-text hash survives), each
   * reported as its own flag so downstream can audit why a document was
   * dropped.
   *
   * The exact-dup gate is a COMBINABLE min-per-fingerprint groupBy joined
   * back — not a fingerprint window: a window gets no partial
   * aggregation, so a billion-copy boilerplate family (one hot
   * fingerprint — the canonical exact-dup skew case) would serialize
   * every copy through one task. The groupBy partial-combines the family
   * to one row per map partition before its exchange. The planner then
   * picks the join-back shape by SIZE (PLANS.md §q44): at bench scale
   * the min table broadcasts and the stream side crosses NO exchange at
   * all (the min branch is pruned to a 2-column scan); at corpus scale
   * it degrades to a sort-merge join-back on the fingerprint —
   * many-rows-to-one, AQE-skew-splittable — never a window. Identical
   * decision: row_number==1 under orderBy(id) == id==min(id), ids unique.
   */
  def corpusFilter(df: DataFrame, idCol: String, textCol: String,
                   lang: String = "en",
                   maxTopWordFrac: Double = 0.2,
                   maxDup2gramFrac: Double = 0.2): DataFrame = {
    val t = col(textCol)
    val (toks, topCount, n2, ndup) = repetitionPieces(t)
    val topFrac = when(size(toks) > 0,
      topCount.cast("double") / size(toks).cast("double")).otherwise(0.0)
    val dupFrac = when(n2 > 0,
      ndup.cast("double") / n2.cast("double")).otherwise(0.0)
    val norm = Dedup.normText(t)
    val flagged = qualityScore(langId(df, textCol), textCol)
      .withColumn("pass_quality", col("is_quality"))
      .withColumn("pass_lang", col("pred_lang") === lang)
      .withColumn("pass_repetition",
        !(topFrac > maxTopWordFrac || dupFrac > maxDup2gramFrac))
      .withColumn("__fp", md5(norm))
    val minFp = flagged.groupBy("__fp").agg(min(col(idCol)).as("__fp_min"))
    flagged.join(minFp, Seq("__fp"))
      .withColumn("pass_dedup", col(idCol) === col("__fp_min"))
      .withColumn("keep",
        col("pass_quality") && col("pass_lang") && col("pass_repetition") && col("pass_dedup"))
      .select(col(idCol), col("pass_quality"), col("pass_lang"),
        col("pass_repetition"), col("pass_dedup"), col("keep"))
  }

  /**
   * Deterministic global training-order shuffle (q67): the epoch-order
   * primitive — every row gets a seed-keyed md5 sort key, a balanced
   * shard (key mod nShards), and a dense position within its shard. The
   * (shard, pos) pair IS the training order: readers stream shards in
   * shard order, rows in pos order. Seed-keyed and data-independent, so
   * the permutation is exactly reproducible and reshard-stable (survives
   * any input repartitioning), and a different seed is a fresh epoch
   * permutation — no stored state.
   *
   * ONE hash exchange on the shard id; the per-shard row_number sorts
   * only shard-local rows (corpus/nShards each — size nShards so a shard
   * fits an executor, the same per-shard contract as [[packSequences]]).
   * A single global row_number would serialize the corpus through one
   * partition; hashed shards are balanced by construction (md5 is
   * uniform), so no skew handling is needed.
   */
  def globalShuffle(df: DataFrame, idCol: String, seed: Long, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val key = md5(concat(lit(s"shuffle:$seed:"), col(idCol).cast("string")))
    val shard = pmod(conv(substring(key, 1, 15), 16, 10).cast("long"), lit(nShards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    df.withColumn("__key", key)
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__key")
  }

  /**
   * Hashed linear text classifier (q68): the fastText / DSIR-shaped
   * quality scorer — each token hashes into one of `nBuckets` feature
   * buckets; the document score is the sum of per-bucket integer weights
   * (a deterministic splitmix-style weight table stand-in for trained
   * weights — the PIPELINE is the deliverable: hashing-trick featurize +
   * linear scoring at corpus scale, integer-exact so engines agree
   * bit-for-bit). Pure map-side codegen'd HOF fold: zero shuffles, the
   * classic "score 100 TB with a linear model" pass.
   */
  def hashClassifierScore(df: DataFrame, idCol: String, textCol: String,
                          nBuckets: Int): DataFrame = {
    // native one-digest-per-token fold (graft.expr.TextCore.classifierScore) —
    // the former `aggregate` HOF ran every lambda interpreted and built
    // the "w:" concat, the md5 HEX string and a conv() parse per token;
    // graft.HofRefs.hashClassifierScoreHof is the differential reference
    // the struct is projected once and expanded after: selecting both
    // fields off the call itself evaluated the classifier twice per row
    val cs = graft.expr.textops.classifier_score(tokens_of(col(textCol)), nBuckets.toLong)
    df.select(col(idCol), cs.as("cs"))
      .select(col(idCol), col("cs.n_tokens").as("n_tokens"), col("cs.score_int").as("score_int"))
      .withColumn("keep", col("score_int") > 0L)
  }

  /**
   * Overlapping-window chunking (q70): the RAG / embedding-prep splitter —
   * each document's token stream becomes windows of `windowTokens`
   * advancing by `strideTokens` (overlap = window - stride), the last
   * window pulled back so every token is covered and no start runs past
   * the end. Emits one row per (doc, chunk) with the chunk's token span
   * and content digest. Pure map-side sequence+explode+slice — chunking
   * is embarrassingly parallel and must stay that way at 100 TB.
   */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                windowTokens: Int, strideTokens: Int): DataFrame = {
    require(windowTokens > 0 && strideTokens > 0 && strideTokens <= windowTokens,
      s"need 0 < stride <= window: window=$windowTokens stride=$strideTokens")
    val toks = split(trim(col(textCol)), "\\s+")
    val n = size(toks).cast("long")
    // chunks needed to cover n tokens: 1 + ceil(max(n-window,0)/stride).
    // floor over double division is exact here (token counts << 2^52);
    // Column./ is always Divide-as-double in Spark, so floor+cast pins it.
    val nChunks = lit(1L) +
      floor((greatest(n - windowTokens, lit(0L)) + (strideTokens - 1)) /
        lit(strideTokens.toLong)).cast("long")
    df.select(col(idCol), toks.as("__toks"), n.as("__n"), nChunks.as("__nc"))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(sequence(lit(0L), (col("__nc") - 1L) * strideTokens,
          lit(strideTokens.toLong))).as(Seq("chunk_idx", "tok_start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("tok_start"),
        (least(col("tok_start") + windowTokens, col("__n")) - col("tok_start"))
          .as("n_chunk_tokens"),
        md5(array_join(slice(col("__toks"), (col("tok_start") + 1L).cast("int"),
          (least(col("tok_start") + windowTokens, col("__n")) - col("tok_start")).cast("int")),
          " ")).as("chunk_md5"))
  }

  /**
   * Deterministic global bottom-k sample (q81): carve an EXACT-size
   * sample (eval/holdout set, human-review batch, corpus preview) by
   * taking the k rows with the smallest seed-keyed md5 priority —
   * the fixed-size counterpart of the rate-based [[deterministicSample]]
   * (uniform because the priority is uniform, reproducible because it is
   * content-keyed: no RNG state, any engine re-derives the same set).
   *
   * Scale shape: the k smallest of 10^12 rows must NOT be a global sort.
   * A bare `orderBy(key).limit(k)` plans as TakeOrderedAndProject — each
   * task keeps a k-row heap, partials merge on the driver (k rows per
   * partition at most cross the wire, never the corpus). The final dense
   * 1..k rank is a window over the k surviving rows only (single task,
   * k-bounded by construction — the same bounded-collect argument as the
   * union-find edge cap). Plan shape SparkSpec-asserted.
   */
  def bottomKSample(df: DataFrame, idCol: String, seed: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val key = md5(concat(lit(s"bksample:$seed:"), col(idCol).cast("string")))
    val picked = df.select(col(idCol), key.as("sample_key"))
      .orderBy(col("sample_key"), col(idCol))
      .limit(k)
    picked.withColumn("sample_rank",
      row_number().over(Window.orderBy(col("sample_key"), col(idCol))).cast("long"))
  }

  /**
   * Per-group exact bottom-k sample (q84): a fixed-size carve PER STRATUM
   * (e.g. "25 docs per source for human review") — the per-group analog
   * of [[bottomKSample]] and the fixed-size counterpart of the rate-based
   * [[stratifiedSample]]. Groups smaller than k are kept whole; the
   * priority is the same content-keyed md5, so membership is
   * engine-independent and reshard-stable.
   *
   * Scale shape: a bare per-group rank window would sort EVERY row of a
   * group in one task — a 10^11-doc source is a straggler. Instead the
   * salted two-level reduction (graft.skew.Salt.topK, as q24): top-k within
   * (group, salt) buckets — parallel across saltBuckets tasks — then
   * top-k of the survivors (group x saltBuckets x k rows). Identical
   * output to the single window (the k smallest of a union of bucket
   * k-smallest is the global k smallest); the second window touches only
   * the k*saltBuckets survivors per group.
   */
  def bottomKPerGroup(df: DataFrame, idCol: String, grpCol: String, seed: Long,
                      k: Int, saltBuckets: Int = 64): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val key = md5(concat(lit(s"bkgroup:$seed:"), col(idCol).cast("string")))
    graft.skew.Salt.topK(df.select(col(grpCol), col(idCol), key.as("sample_key")),
      grpCol, idCol, Seq(col("sample_key").asc, col(idCol).asc), k, "sample_rank", saltBuckets)
  }

  /**
   * Temperature-mixture epoch execution (q83): the UPSAMPLING
   * counterpart of [[sqrtTemperatureSample]] — the mBERT/XLM-R sqrt rule
   * gives source s a repeat rate r_s = sqrt(n_max / n_s) >= 1 (the
   * largest source runs one epoch; a 100x smaller source repeats ~10x),
   * and this operator EXECUTES the mixture: each doc is emitted
   * floor(r_s) times plus one more when its 40-bit content-keyed gate
   * falls under the fractional part, so per-source expected multiplicity
   * is exactly r_s with zero RNG state. Every emitted copy carries a
   * dense repeat_idx and a content-keyed epoch shard, ready for
   * [[globalShuffle]]-style placement.
   *
   * Membership and multiplicity are bit-reproducible across engines: the
   * rate enters only through floor(r_s) and floor(frac * 2^40), both
   * built from correctly-rounded IEEE ops (divide, sqrt, multiply,
   * floor) on integer-valued doubles — no decimal formatting anywhere.
   *
   * Scale shape: per-source counts are ONE combinable dimension groupBy;
   * the rate table (|sources| rows) broadcasts back; emission is a
   * map-side sequence-explode. No corpus-keyed exchange at all — the
   * corpus is read once and written ~sum(r_s * n_s) times, which is the
   * output's own size.
   */
  def temperatureEpochRepeats(df: DataFrame, idCol: String, srcCol: String,
                              nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val counts = df.groupBy(col(srcCol).as("__src")).agg(count(lit(1)).as("n_source"))
    val nMax = counts.agg(max(col("n_source")).as("n_max"))
    val rates = counts.crossJoin(broadcast(nMax))
      .withColumn("__rate", sqrt(col("n_max").cast("double") / col("n_source").cast("double")))
      .withColumn("base_repeats", floor(col("__rate")).cast("long"))
      .withColumn("gate_bound",
        floor((col("__rate") - floor(col("__rate"))) * lit(1099511627776L)).cast("long"))
      .drop("__rate", "n_max")
    val gate = conv(substring(md5(concat(lit("epoch:"), col(idCol).cast("string"))), 1, 10),
      16, 10).cast("long")
    // join only (idCol, srcCol): the output carries nothing else from the
    // caller, and a caller df that happens to already have one of the
    // internal column names (__src, n_source, base_repeats, gate_bound,
    // n_repeats, repeat_idx, shard) must not hit an ambiguous-reference
    // error or silent shadowing (ADVICE r05)
    df.select(col(idCol), col(srcCol))
      .join(broadcast(rates), col(srcCol) === col("__src"))
      .withColumn("n_repeats",
        col("base_repeats") + when(gate < col("gate_bound"), 1L).otherwise(0L))
      .where(col("n_repeats") > 0L)
      .select(col(idCol), col(srcCol), col("n_source"), col("n_repeats"),
        explode(sequence(lit(0L), col("n_repeats") - 1L)).as("repeat_idx"))
      .withColumn("shard",
        pmod(conv(substring(md5(concat(lit("shard:"), col(idCol).cast("string"),
          lit(":"), col("repeat_idx").cast("string"))), 1, 10), 16, 10).cast("long"),
          lit(nShards.toLong)))
  }
}
