package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DataType
import graft.expr.textops.{shingles_of, tokens_of}

/**
 * Corpus-level deduplication operators for training-data pipelines:
 * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup,
 * and the end-to-end scale path MinHash candidates -> exact Jaccard verify
 * -> connected-component clusters.
 *
 * Scale design (100 TB): every variant is shuffle-minimal —
 *  - exact: one hash-keyed groupBy (map-side combine);
 *  - MinHash/SimHash: the whole signature is ONE codegen'd expression per
 *    row (a single fold over the shingle/token hashes) — no cached
 *    intermediates, no multi-pass recompute, nothing persisted;
 *  - candidate pairs: group ids by (band, bucket) — ONE shuffle keyed on
 *    the bucket — and emit in-bucket pairs; only colliding docs move,
 *    never the corpus square. An explicit `maxBucket` cap bounds the
 *    worst-case degenerate bucket (the cap is part of the operator's
 *    semantics, mirrored by the SQL oracle, not a silent drop);
 *  - verify: exact n-gram Jaccard joined to ONLY the candidate pairs;
 *  - clusters: driver union-find under a bounded edge cap, alternating
 *    star contraction above it, with per-round localCheckpoint (lineage
 *    truncation; blocks are GC-released by the ContextCleaner once a
 *    round's labels are dereferenced);
 *  - the only materialized state anywhere is PAIR-sized: the end-to-end
 *    chain localCheckpoints its candidate and verified pair tables once
 *    (each feeds several consumers; without truncation every reuse
 *    re-runs the corpus-wide signature pass). Corpus-sized data is never
 *    cached or persisted.
 *
 * Hashing is PORTABLE by construction: every hash is derived from md5 of
 * the shingle/token text plus affine mixing mod a Mersenne prime, so the
 * DuckDB oracle replicates candidates bit-for-bit (see SparkEntry).
 */
object Dedup {

  /** Modulus for the affine MinHash family: the Mersenne prime 2^31-1.
    * Keeping hashes < 2^31 means a*h + c stays < 2^62 — no 64-bit overflow
    * on either engine (Spark ANSI mode would throw on overflow). */
  val P: Long = 2147483647L

  /** Affine family parameters (a_i in [1,P-1], c_i in [0,P-1]), derived
    * from splitmix64 so Spark and the SQL oracle inline identical
    * literals. Deterministic — no Random. */
  def hashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = java.lang.Long.remainderUnsigned(
        graft.io.Transcripts.mix(0x9E3779B97F4A7C15L + i), P - 1) + 1
      val c = java.lang.Long.remainderUnsigned(
        graft.io.Transcripts.mix(0xC2B2AE3D27D4EB4FL - i), P)
      (a, c)
    }

  /** The exact-duplicate key: text with whitespace runs collapsed to one
    * space, trimmed and lowercased. Every exact-dedup, fingerprint and
    * boilerplate operator hashes this one normalization. */
  def normText(text: Column): Column = lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Exact dedup on normalized text: keep the smallest doc id per hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = normText(col(textCol))
    df.withColumn("norm_hash", md5(norm))
      .groupBy("norm_hash")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))
  }

  /**
   * Cross-source duplicate-flow matrix (q76): the data-governance view
   * of dedup — for every pair of sources, how many duplicate-document
   * pairs and how many duplicate families they share (which crawls copy
   * from which, where contamination between registries flows). Input is
   * any (family, source) assignment — [[exact]]'s norm_hash, an LSH
   * cluster id, a SemDeDup group — so the matrix composes with every
   * dedup operator in this package.
   *
   * Scale shape: cross-pair counts are computed ARITHMETICALLY, never
   * enumerated — the corpus collapses to per-(family, source) counts in
   * one combinable groupBy; the family-keyed self-join then joins
   * tables bounded by families x sources, and n_a * n_b counts each
   * family's cross-source pairs without materializing them. A
   * billion-copy family costs one row per source it appears in.
   */
  def dupFlowMatrix(assigned: DataFrame, famCol: String, srcCol: String): DataFrame = {
    val fam = assigned.groupBy(col(famCol).as("fp"), col(srcCol).as("source"))
      .agg(count(lit(1)).as("n"))
    val a = fam.select(col("fp"), col("source").as("source_a"), col("n").as("n_a"))
    val b = fam.select(col("fp"), col("source").as("source_b"), col("n").as("n_b"))
    a.join(b, "fp").where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("n_a") * col("n_b")).as("n_cross_pairs"),
        count(lit(1)).as("n_shared_families"))
  }

  /**
   * Span-level duplicated-text coverage — the substring-dedup shape of
   * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
   * Better", arXiv:2107.06499), approximated at word k-gram granularity:
   * a token position is duplicated when its k-gram occurs at least
   * `minCount` times across the corpus (including intra-document
   * repeats); per document, the duplicated k-gram spans [pos, pos+k) are
   * merged (touching spans coalesce) and reported as span count + covered
   * token count. Documents with no duplicated span are absent.
   *
   * Scale shape: gram frequencies from a map-side-combinable groupBy
   * count applied as a semi-join (graft.skew.KeyCaps — both the
   * duplicated and unique gram-key sets are unbounded, so neither side
   * broadcasts, but AQE can skew-split the semi-join where a window count
   * would serialize a boilerplate gram's positions through one task),
   * then doc-keyed interval-merge windows over only the duplicated
   * positions; everything integer-exact, never a pair join.
   */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               k: Int = 8, minCount: Int = 2): DataFrame =
    dupSpanIslands(df, idCol, textCol, k, minCount, site = "dup_span_grams")
      .groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("__e") - col("__s")).as("dup_tokens"))

  /** Merged duplicated-token islands per doc: (doc_id, n_tokens, __s, __e)
    * with [__s, __e) half-open in token-index space. Shared by
    * [[dupSpans]] (coverage stats) and [[removeDupSpans]] (text surgery). */
  private def dupSpanIslands(df: DataFrame, idCol: String, textCol: String,
                             k: Int, minCount: Int, site: String): DataFrame = {
    // positional gram HASHES in one native pass (graft.expr.TextCore.gramHashes):
    // the gram strings are never materialized as rows — each row explodes
    // straight to (pos, 60-bit md5), the only columns the count/semi-join
    // pipeline reads. TextOpsSpec's positional-gram HofRefs.md5Hash60 fold
    // is the differential reference formulation.
    val base = df.select(col(idCol).as("doc_id"), tokens_of(col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        posexplode(graft.expr.textops.gram_hashes(col("tk"), k)).as(Seq("pos", "h")))
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("long").as("pos"), col("h"))
    val dup = graft.skew.KeyCaps.keepKeysWithCountAtLeast(base, Seq("h"), minCount, site = site)
      .select("doc_id", "n_tokens", "pos")
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    dup
      .withColumn("__max_end", max(col("pos") + k).over(wPrev))
      .withColumn("__new",
        when(col("__max_end").isNull || col("pos") > col("__max_end"), 1L).otherwise(0L))
      .withColumn("__island", sum("__new").over(wOrd))
      .groupBy(col("doc_id"), col("n_tokens"), col("__island"))
      .agg(min("pos").as("__s"), max(col("pos") + k).as("__e"))
  }

  /**
   * Duplicated-span REMOVAL — the actual output of substring dedup
   * (Lee et al. 2022 §4: cut the duplicated substring, keep the rest),
   * at the same word k-gram granularity as [[dupSpans]]: every token
   * whose index falls inside a merged duplicated island is dropped and
   * the survivors are re-joined with single spaces over the NORMALIZED
   * token stream (the stream the duplication statistic is defined on —
   * exact byte-level surgery on raw text would need char offsets the
   * token normalizer erases). Emits one row per input document,
   * including documents with nothing to remove (clean_text = full token
   * stream) and empty documents (clean_text = "").
   *
   * Invariant vs [[dupSpans]]: removed_tokens here == dup_tokens there,
   * per doc (spec-asserted).
   *
   * Scale shape: the islands side is [[dupSpans]]'s (combinable gram
   * count + KeyCaps semi-join + doc-keyed merge); islands then collapse
   * to ONE doc-bounded spans array per doc (combinable collect — a doc's
   * island count is bounded by its own length, never corpus-sized) and
   * join back to the corpus on the doc key — AQE-splittable equi-join,
   * the corpus side crosses exactly one exchange. Token filtering is a
   * codegen'd higher-order filter/exists over the row-local spans array;
   * no window over the corpus, no pair join, nothing collected.
   */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minCount: Int = 2): DataFrame = {
    val spans = dupSpanIslands(df, idCol, textCol, k, minCount,
      site = "dup_span_rm_grams")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("__s").as("s"), col("__e").as("e"))))
        .as("__spans"))
    val docs = df.select(col(idCol).as("doc_id"), tokens_of(col(textCol)).as("tk"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("__kept",
        when(col("__spans").isNull, col("tk")).otherwise(
          filter(col("tk"), (_, i) =>
            !exists(col("__spans"), sp =>
              i.cast("long") >= sp("s") && i.cast("long") < sp("e")))))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("kept_tokens"),
        (size(col("tk")) - size(col("__kept"))).cast("long").as("removed_tokens"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  /**
   * MinHash signatures: sig_i = min over shingles of (a_i*h + c_i) mod P,
   * h = md5-based 60-bit shingle hash mod P.
   *
   * The entire signature is ONE expression: a single fold over the shingle
   * hashes whose accumulator is the running array of numHashes minima.
   * Each shingle is md5-hashed exactly once (it enters the fold as the
   * lambda-bound element — lambda VARIABLES are bound values, unlike
   * non-lambda subexpressions which HOFs re-evaluate per element). The
   * per-family (a,c) literals constant-fold to a single array literal.
   * No persist/cache barrier needed, unlike a formulation that projects
   * base hashes into a column consumed by numHashes separate expressions
   * (CollapseProject would inline it numHashes times).
   *
   * Output: idCol, sig: array<long> of length numHashes.
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 32): DataFrame =
    df.where(size(tokens_of(col(textCol))) >= k) // == "has at least one shingle"
      .select(col(idCol),
        graft.expr.signatures.minhash_sig(shingles_of(col(textCol), k), numHashes).as("sig"))

  /** Per-band bucket keys: md5 of the band's comma-joined signature rows. */
  def minhashBuckets(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws(",", transform(
        slice(sigCol, b * rowsPerBand + 1, rowsPerBand), x => x.cast("string"))))
    }: _*)

  /** In-bucket pairs, the one pairing core of every MinHash/SimHash
    * candidate generator: ONE shuffle (groupBy the bucket `keys`), the
    * bucket's `member`s collected into a sorted list named `list`, and a
    * native nested-loop `emit` (a graft.expr.pairops function) exploded to
    * one `p` struct per pair — callers pick the struct fields and dedupe
    * across buckets. Buckets larger than `maxBucket` are excluded — the
    * explicit skew guard; at LSH-sensible parameters a bucket that large
    * is a degenerate collision class, not a near-dup set.
    *
    * The guard is graft.skew.KeyCaps' broadcast hot set: bucket sizes
    * from a map-side-combinable groupBy count, over-cap buckets dropped by
    * a broadcast anti-join BEFORE their rows enter the bucket exchange or
    * collect_list materializes them. A degenerate bucket's rows are
    * filtered map-side and never serialize through any single task —
    * unlike a window count, which has no partial aggregation and scans
    * the whole hot bucket in one task before dropping it. The count pass
    * recomputes the input's expressions once more (pure map-side,
    * embarrassingly parallel — the right trade at corpus scale).
    * Singleton buckets emit no pairs and are dropped after the
    * aggregation (1-element lists — no extra shuffle). Emission is one
    * native nested loop per bucket (graft.expr.PairCore), not a HOF that
    * runs its lambdas interpreted and copies a sub-array per member. */
  private def bucketPairs(banded: DataFrame, keys: Seq[String], member: Column, list: String,
                          maxBucket: Int, site: String)
                         (emit: (Column, DataType) => Column): DataFrame = {
    val grouped = graft.skew.KeyCaps
      .dropOverCapKeys(banded, keys, maxBucket, site = site)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(member)).as(list))
      .where(size(col(list)) >= 2)
    grouped.select(explode(emit(col(list), grouped.schema(list).dataType)).as("p"))
  }

  /**
   * MinHash-LSH candidate pairs: band the signature (`bands` x
   * `rowsPerBand`), group on (band, bucket), emit distinct (a < b) pairs.
   */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                        maxBucket: Int = 10000): DataFrame =
    candidatesFromSigs(minhashSignatures(df, idCol, textCol, k, bands * rowsPerBand),
      idCol, bands, rowsPerBand, maxBucket, site = "minhash_buckets")

  /** Candidate pairs from a signature table (idCol, sig) — split out so
    * [[lshDedupClusters]] can feed a MATERIALIZED signature table: the
    * bucket-cap guard reads its input twice (count + filter), and off a
    * checkpointed sig table both passes are a cheap band-slice/md5 instead
    * of a second corpus-wide shingle+signature pass. */
  private[dedup] def candidatesFromSigs(sigs: DataFrame, idCol: String,
                                        bands: Int, rowsPerBand: Int,
                                        maxBucket: Int, site: String): DataFrame = {
    val banded = sigs.select(col(idCol).as("id"),
      posexplode(minhashBuckets(col("sig"), bands, rowsPerBand)).as(Seq("band", "bucket")))
    bucketPairs(banded, Seq("band", "bucket"), col("id"), "ids", maxBucket, site)(
        graft.expr.pairops.pair_emit)
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard verify over given candidate pairs (the scale
    * path's second stage: candidates come from [[minhashCandidates]]).
    * Pairs must have columns (id_a, id_b). The corpus is first semi-joined
    * down to the ids that actually appear in a pair — shingle sets are
    * computed ONLY for candidate documents (<= 2|pairs| rows), never for
    * the whole corpus — then joined to the pair table. Two id-keyed
    * shuffles of small tables; no all-pairs product, no corpus-wide
    * shingle pass. */
  def jaccardVerify(df: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, threshold: Double = 0.2): DataFrame = {
    val candIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol)))
      .distinct()
    val cands = df.join(candIds, Seq(idCol), "left_semi")
    val sh = cands.select(col(idCol).as("vid"), shingles_of(col(textCol), k).as("vsh"))
    pairs.select("id_a", "id_b")
      .join(sh.select(col("vid").as("id_a"), col("vsh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("vid").as("id_b"), col("vsh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b")) - size(array_intersect(col("sh_a"), col("sh_b")))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .where(col("jaccard") > threshold)
      .select("id_a", "id_b", "inter", "uni", "jaccard")
  }

  /** Exact n-gram Jaccard over a bounded id range (the all-pairs oracle
    * shape) — [[jaccardVerify]] fed with the bounded cross-product. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
                   maxId: Long = 100L, threshold: Double = 0.2): DataFrame = {
    val bounded = df.where(col(idCol) < maxId)
    val ids = bounded.select(col(idCol).as("id"))
    val pairs = ids.select(col("id").as("id_a"))
      .crossJoin(ids.select(col("id").as("id_b")))
      .where(col("id_a") < col("id_b"))
    jaccardVerify(bounded, pairs, idCol, textCol, k, threshold)
  }

  /** End-to-end scale dedup: exact-dup pre-collapse -> MinHash-LSH
    * candidates -> exact Jaccard verify -> connected-component clusters
    * -> family re-expansion. At LSH parameters sized for the threshold
    * (e.g. 16 bands x 2 rows for j >= 0.5: per-pair miss probability
    * (1-j^2)^bands ~ 1e-12 at j=0.9) this recovers the same clusters as
    * exhaustive all-pairs comparison — which is exactly what its oracle
    * asserts.
    *
    * The pre-collapse: documents identical after whitespace/case
    * normalization (the [[exact]] key — tokenization is invariant to it,
    * so family members have IDENTICAL shingle sets) collapse to their
    * min-id keeper BEFORE the signature pass. A billion-copy boilerplate
    * family is ONE node in the LSH chain instead of a billion identical
    * signatures landing in the same buckets; members rejoin their
    * keeper's cluster at the end. Exact equivalence: any member's
    * jaccard to any third doc equals its keeper's, and an n>=2 family
    * with a non-empty shingle set (>= k tokens) is pairwise jaccard 1 >
    * threshold — a clique in the exhaustive graph — so it clusters even
    * when its keeper matches nothing else; a family BELOW k tokens has
    * an empty shingle set (null jaccard) and never clusters, matching
    * the all-pairs oracle. Labels stay the component minimum: every
    * member id >= its keeper id, so min over keepers == min over members.
    *
    * The family-expansion join keys on the text hash — a hot family is
    * many left rows against ONE right row, a sort-merge join AQE
    * skew-splits (unlike the per-cluster windows this replaces). */
  def lshDedupClusters(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, bands: Int = 16, rowsPerBand: Int = 2,
                       threshold: Double = 0.5): DataFrame = {
    // materializeVerified = false: in this one-shot shape the verified
    // pair set has exactly ONE consumer (the clustering uv table, itself
    // checkpointed), so the index-artifact checkpoint would be a wasted
    // driver round-trip — epoch pipelines that keep the index
    // (buildDedupIndex's default) still materialize it
    val index = buildDedupIndex(df, idCol, textCol, k, bands, rowsPerBand, threshold,
      materializeVerified = false)
    clustersFromIndex(index, fam(df, idCol, textCol))
  }

  /**
   * The materialized artifacts of one [[lshDedupClusters]] epoch, all
   * keyed by the FAMILY HASH `__fh` (md5 of whitespace/case-normalized
   * text) rather than by the keeper doc id — the key that stays stable
   * when a later batch contributes a smaller-id member to an existing
   * family (the keeper changes; the family hash, the family's token
   * stream, and therefore its signature and every verified pair do not).
   * This is what makes [[mergeDedupIndex]] exact: stored pairs never
   * name a keeper that a merge could invalidate.
   *
   * All three tables are localCheckpoint'ed, bounded, and are precisely
   * what a production incremental-dedup pipeline persists between
   * epochs: the exact-dedup family table (one row per distinct text),
   * the per-family MinHash signatures (32 longs per distinct text), and
   * the verified near-dup pair set (threshold-bounded).
   */
  final case class DedupIndex(famAgg: DataFrame, sigs: DataFrame, verified: DataFrame,
                              k: Int, bands: Int, rowsPerBand: Int, threshold: Double)

  /** (doc_id, __text, __fh) projection — the family-membership map. */
  private def fam(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("__fh", md5(normText(col("__text"))))

  /** One keeper row per family `__fh` via a combinable min-struct
    * aggregate: `member` (a field named doc_id) leads the struct, so min
    * == the min-id member's row, and a billion-copy family collapses to
    * ONE row per map partition before its exchange — no window, no join
    * against the raw rows. `n` aggregates the family size. */
  private def collapseFamilies(rows: DataFrame, member: Column, n: Column): DataFrame =
    rows.groupBy("__fh").agg(min(struct(member, col("__text"))).as("__rep"), n.as("__n"))
      .select(col("__fh"), col("__rep.doc_id").as("__keeper"),
        col("__rep.__text").as("__text"), col("__n"))

  /** Build a fresh [[DedupIndex]] from a corpus (one full epoch).
    * `materializeVerified = false` skips the verified-pair checkpoint for
    * callers that consume the index exactly once immediately (the
    * one-shot cluster path) — pass the default when the index is the
    * persisted artifact. */
  def buildDedupIndex(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, bands: Int = 16, rowsPerBand: Int = 2,
                      threshold: Double = 0.5,
                      materializeVerified: Boolean = true): DedupIndex = {
    // localCheckpoint: this IS the exact-dedup output (one row per
    // DISTINCT text — the deduped corpus a production chain materializes
    // to storage before near-dup anyway); it feeds the signature chain ~3x
    // (candidate semi-join + two verify joins) and the expansion once, so
    // without truncation each consumer would re-run the corpus scan and
    // the collapse shuffle.
    // family table and family signatures in ONE checkpoint: the sig
    // column (32 longs — marginal next to the family's full text) is
    // computed in the same pass as the collapse and materialized
    // alongside it; famAgg/sigs are projections of the shared blocks.
    // Signing the REP's raw text is family-invariant: members differ
    // only in case/whitespace, which tokens_of() normalizes away. The
    // bucket-cap guard reads its input twice (count + filter); off this
    // checkpoint both passes are a band-slice/md5, not a second
    // shingle+signature fold over every rep. The sig-null filter below
    // is exactly [[minhashSignatures]]' has-at-least-one-shingle gate
    // (< k tokens -> when() null).
    val famSig = collapseFamilies(fam(df, idCol, textCol), col("doc_id"), count(lit(1)))
      .withColumn("sig", when(size(tokens_of(col("__text"))) >= k,
        graft.expr.signatures.minhash_sig(shingles_of(col("__text"), k), bands * rowsPerBand)))
      .localCheckpoint()
    val famAgg = famSig.drop("sig")
    val sigs = famSig.where(col("sig").isNotNull).select(col("__fh"), col("sig"))
    // The pair tables are the chain's SMALL invariants (bounded by the
    // banding caps / verification threshold, orders below corpus size).
    // Materialize each once with localCheckpoint: cands feeds THREE joins
    // inside jaccardVerify and verified feeds nodes+edges in dedupClusters
    // — without truncation every reuse re-executes the corpus-wide
    // signature pass (measured 6s -> ~3s at sf0.1 from this alone).
    val cands = candidatesFromSigs(sigs, "__fh", bands, rowsPerBand, 10000,
        site = "lsh_chain_buckets")
      .localCheckpoint()
    val verified0 = jaccardVerify(famAgg.select(col("__fh"), col("__text")),
        cands, "__fh", "__text", k, threshold)
      .select("id_a", "id_b")
    val verified = if (materializeVerified) verified0.localCheckpoint() else verified0
    DedupIndex(famAgg, sigs, verified, k, bands, rowsPerBand, threshold)
  }

  /** Clusters from an index + the family-membership map of the SAME
    * corpus: map verified fh-pairs to their current keepers, run
    * connected components over keeper ids, re-expand families. */
  private def clustersFromIndex(index: DedupIndex, famMap: DataFrame): DataFrame = {
    val keeperOf = index.famAgg.select(col("__fh"), col("__keeper"))
    val verifiedIds = index.verified
      .join(keeperOf.select(col("__fh").as("id_a"), col("__keeper").as("__ka")), Seq("id_a"))
      .join(keeperOf.select(col("__fh").as("id_b"), col("__keeper").as("__kb")), Seq("id_b"))
      .select(col("__ka").as("id_a"), col("__kb").as("id_b"))
    val repClusters = dedupClusters(verifiedIds)
      .withColumnRenamed("doc_id", "__keeper").withColumnRenamed("cluster_id", "__clu")
    // families in the output: keeper clustered at rep level, OR a
    // multi-member family whose pairwise jaccard (1.0, when >= k tokens)
    // clears the threshold — its own cluster labeled by the keeper
    val famOut = index.famAgg.join(repClusters, Seq("__keeper"), "left")
      .withColumn("__cluster", coalesce(col("__clu"),
        when(col("__n") >= 2 && lit(1.0) > index.threshold &&
          size(tokens_of(col("__text"))) >= index.k, col("__keeper"))))
      .where(col("__cluster").isNotNull)
      .select("__fh", "__cluster")
    famMap.select("doc_id", "__fh").join(famOut, Seq("__fh"))
      .select(col("doc_id"), col("__cluster").as("cluster_id"))
  }

  /**
   * Incremental dedup: fold a NEW batch into an existing [[DedupIndex]]
   * WITHOUT re-signing the indexed corpus — the production shape for a
   * growing corpus, where each epoch's signatures and verified pairs are
   * persisted and only the delta is computed:
   *
   *  - the family tables merge by re-aggregating the (associative)
   *    min-struct/count — an old family gaining a smaller-id member gets
   *    its keeper updated, its signature untouched (family-invariant);
   *  - only families NEVER SEEN BEFORE are signed (anti-join on __fh);
   *  - candidate generation bands old + new signatures together but
   *    emits only pairs with >= 1 new-family member — old/old pairs are
   *    already in the index, and the two sets are disjoint, so their
   *    union is exactly a full run's candidate set;
   *  - only the new candidate pairs are Jaccard-verified.
   *
   * With that, clusters over the merged index EQUAL a from-scratch
   * [[lshDedupClusters]] over the union (SparkSpec differential), with
   * ONE documented divergence: the bucket cap is evaluated per epoch, so
   * a bucket that crosses `maxBucket` only across epochs keeps the pairs
   * the earlier epoch already emitted (a from-scratch run would drop the
   * whole bucket). Per-epoch cap semantics are the production behavior —
   * emitted pairs are not retracted.
   */
  def mergeDedupIndex(index: DedupIndex, newDocs: DataFrame,
                      idCol: String, textCol: String): DedupIndex = {
    val k = index.k; val bands = index.bands; val rowsPerBand = index.rowsPerBand
    // Per-epoch MATERIALIZATION is O(delta), not O(index): every new
    // checkpoint below is batch-bounded, and the merged tables are lazy
    // unions/anti-joins over the PREVIOUS epoch's already-materialized
    // checkpoints (replaying a union of materialized RDDs costs nothing)
    // — the sandbox stand-in for what a table format does with appends +
    // MERGE INTO, without rewriting the index every epoch.
    // families the batch touches are re-aggregated (associative min/sum ==
    // full-run famAgg); `touched` is the ONE delta-sized checkpoint — its
    // key set EQUALS the batch's family-key set (the semi-join keeps only
    // old families the batch names, the union adds the batch's own), so
    // every downstream consumer that used to read a separate batch
    // aggregate (the merged-table anti-join, the fresh-family anti-join)
    // reads `touched` instead. The batch aggregate appears twice inside
    // this one plan (semi-join probe + union arm) — identical subtrees,
    // planned as a ReusedExchange, not a second scan.
    val newFam = collapseFamilies(fam(newDocs, idCol, textCol), col("doc_id"), count(lit(1)))
    val touched = collapseFamilies(
        index.famAgg.join(newFam.select("__fh"), Seq("__fh"), "left_semi").unionByName(newFam),
        col("__keeper").as("doc_id"), sum(col("__n")))
      .localCheckpoint() // delta-sized
    val mergedFamAgg = index.famAgg
      .join(touched.select("__fh"), Seq("__fh"), "left_anti")
      .unionByName(touched)
    // sign ONLY never-before-seen families — the old corpus is not
    // re-read. For a never-seen family, `touched`'s row IS the batch's
    // (nothing old to merge), and for an old-but-unsigned family (below
    // the k-token shingle floor) the merged rep text is family-invariant
    // modulo case/whitespace, which the signature normalizes away — so
    // signing from `touched` equals signing from the batch aggregate.
    val freshFams = touched.join(index.sigs.select("__fh"), Seq("__fh"), "left_anti")
    val freshSigs = minhashSignatures(
        freshFams.select(col("__fh"), col("__text")), "__fh", "__text", k, bands * rowsPerBand)
      .localCheckpoint() // delta-sized; feeds the banding flag join + the union
    val sigsAll = index.sigs.unionByName(freshSigs)
    val bandedAll = sigsAll
      .join(freshSigs.select(col("__fh"), lit(true).as("__new")), Seq("__fh"), "left")
      .select(col("__fh").as("id"), coalesce(col("__new"), lit(false)).as("is_new"),
        posexplode(minhashBuckets(col("sig"), bands, rowsPerBand)).as(Seq("band", "bucket")))
    // in-bucket pairs where AT LEAST ONE side is a new-epoch family: the
    // is_new flag rides through the sorted member list and old/old pairs
    // are skipped at emission (they are already in the index)
    val newCands = bucketPairs(bandedAll, Seq("band", "bucket"),
        struct(col("id"), col("is_new")), "ms", 10000, "incr_lsh_buckets")(
        graft.expr.pairops.pair_emit_new_only)
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
      .localCheckpoint()
    val newVerified = jaccardVerify(mergedFamAgg.select(col("__fh"), col("__text")),
        newCands, "__fh", "__text", k, index.threshold)
      .select("id_a", "id_b").localCheckpoint() // pair-bounded
    val verifiedAll = index.verified.unionByName(newVerified)
    DedupIndex(mergedFamAgg, sigsAll, verifiedAll, k, bands, rowsPerBand, index.threshold)
  }

  /** Re-materialize an index's three tables. [[mergeDedupIndex]] keeps
    * merged tables as LAZY unions over the previous epoch's checkpoints
    * (per-epoch cost O(delta)), so after E epochs the lineage is a chain
    * of E union/anti-join nodes — harmless for tens of epochs, but a
    * long-running pipeline compacts every so often (exactly when a
    * table-format-backed pipeline would rewrite/cluster its files). */
  def compactDedupIndex(index: DedupIndex): DedupIndex = {
    // rebuild from the RDD before checkpointing: a checkpointed plan
    // carries origin CONSTRAINTS that can reference attributes outside
    // its own output (e.g. join-derived equalities over dropped columns),
    // and a Union over such children fails constraint rewriting
    // ("key not found: id_a#..." in UnionBase.rewriteConstraints) when
    // the chain is checkpointed again. The RDD round-trip drops all
    // origin metadata — it is also the honest analog of what compaction
    // IS in a table-format pipeline: rewriting the files
    def rebarrier(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema).localCheckpoint()
    index.copy(famAgg = rebarrier(index.famAgg),
      sigs = rebarrier(index.sigs),
      verified = rebarrier(index.verified))
  }

  /** [[lshDedupClusters]] over (indexed corpus + new batch) via
    * [[mergeDedupIndex]] — returns the merged index alongside the
    * cluster labels so the next epoch can fold onto it. */
  def incrementalDedupClusters(index: DedupIndex, allDocs: DataFrame, newDocs: DataFrame,
                               idCol: String, textCol: String): (DataFrame, DedupIndex) = {
    val merged = mergeDedupIndex(index, newDocs, idCol, textCol)
    (clustersFromIndex(merged, fam(allDocs, idCol, textCol)), merged)
  }

  /**
   * Representative selection for near-dup clusters: a real dedup keeps the
   * BEST copy of each duplicate family (here: highest `scoreCol`, tie ->
   * smallest id), not an arbitrary member. Composes [[lshDedupClusters]]
   * (which pre-collapses exact-dup families, so a billion identical
   * copies are one chain node) with a per-cluster argmax computed as a
   * COMBINABLE min-struct aggregate, not a window: the giant family
   * re-expands into its cluster here, and a window over cluster_id would
   * serialize all its members through one task — the
   * min(struct(-score, id, score)) aggregate partial-combines them
   * map-side instead (min of the negated score = argmax of the score,
   * ties -> smallest id; the third field carries the untouched score out,
   * so keeper_id keeps the input id TYPE and keeper_score the input's
   * exact bits — no 0-id negation, no Long.MinValue overflow, non-numeric
   * orderable ids fine). Docs in no cluster are their own keeper by
   * definition — the output surfaces duplicate families only.
   */
  def clusterRepresentatives(df: DataFrame, idCol: String, textCol: String,
                             scoreCol: String,
                             k: Int = 3, bands: Int = 16, rowsPerBand: Int = 2,
                             threshold: Double = 0.5): DataFrame = {
    val clusters = lshDedupClusters(df, idCol, textCol, k, bands, rowsPerBand, threshold)
    val scored = clusters.join(
      df.select(col(idCol).as("doc_id"), col(scoreCol).as("__score")), Seq("doc_id"))
    keepBest(scored, (lit(0.0) - col("__score").cast("double")).as("negs"),
        carry = Seq(col("__score").as("s")))
      .select(col("cluster_id"), col("n_members"),
        col("__b.doc_id").as("keeper_id"), col("__b.s").as("keeper_score"))
  }

  /** Keep-best per cluster (q52, q57, q59): per `cluster_id`, `__b` =
    * min(struct(order, doc_id, carry...)), the member with the smallest
    * `order` (ties: smallest doc_id) with `carry` riding along, plus
    * `n_members` (pruned by the optimizer where no caller reads it).
    * Combinable, so a giant cluster partial-combines map-side instead of
    * sorting in one window task. */
  def keepBest(members: DataFrame, order: Column, carry: Seq[Column] = Nil): DataFrame =
    members.groupBy("cluster_id").agg(count(lit(1)).as("n_members"),
      min(struct((order +: col("doc_id") +: carry): _*)).as("__b"))

  /**
   * SimHash signature as 4 x 16-bit blocks (array<long>, values in
   * [0, 0xFFFF]): bit g of the 64-bit signature is set when the sign-sum
   * over tokens of bit g of the token hash is positive. Token hashes are
   * the two 32-bit halves of md5 (portable). Blocks rather than one i64
   * because the SQL oracle cannot shift into the sign bit (DuckDB raises
   * on << overflow); the block split is also exactly what the candidate
   * join keys on.
   *
   * Single-expression design: one fold over the token-hash array carrying
   * all 64 bit-sums, thresholded in the aggregate's finish lambda — no
   * cached intermediate, no 64x recompute (see [[minhashSignatures]]).
   */
  def simhashBlocks(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.expr.signatures.simhash_blocks(tokens_of(col(textCol))).as("blocks"))

  /** Hamming-near pairs via the 4x16-bit block pigeonhole (any pair within
    * hamming distance 3 shares at least one exact block). Same
    * group-by-bucket single-shuffle pairing as MinHash. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val sigs = simhashBlocks(df, idCol, textCol)
    val banded = sigs.select(col(idCol).as("id"), col("blocks"),
      posexplode(col("blocks")).as(Seq("block", "block_val")))
    bucketPairs(banded, Seq("block", "block_val"), struct(col("id"), col("blocks")), "ms",
        maxBucket, site = "simhash_buckets")(graft.expr.pairops.pair_emit_hamming)
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding cosine near-duplicates over a bounded id range (brute-force
    * verify shape; the scale path buckets by hyperplane LSH first —
    * see graft.ann.Similarity). */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       maxId: Long = 200L, threshold: Double = 0.93): DataFrame = {
    val v = emb.where(col(idCol) < maxId)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cosine", graft.ann.Similarity.cosine(col("v_a"), col("v_b")))
      .where(col("cosine") > threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Large-star step (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): every node u links each STRICTLY LARGER
    * neighbor to the minimum of its closed neighborhood. Edges are kept
    * oriented child > parent; output is again child > parent. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
    // no distinct here: duplicate edges are harmless to the min aggregates
    // and smallStar's final distinct dedups the round's output
    nbrs.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
  }

  /** Small-star step: every node links itself and all its smaller
    * neighbors (its parents, under child > parent orientation) to the
    * smallest of them. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
    val rewired = edges.join(mins, Seq("u"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    rewired.union(mins.select(col("u"), col("m").as("v"))).distinct()
  }

  /**
   * Near-duplicate clusters: connected components over candidate pairs,
   * labeled by the component's minimum id. Alternating large-star /
   * small-star contraction — O(log n) rounds regardless of component
   * DIAMETER (round-2's min-label propagation was O(diameter): a
   * 10^6-hop path component could exceed any fixed round cap; star
   * contraction halves the structure each round, so maxRounds=50 covers
   * any component that fits in a cluster). Every round's edge set is
   * localCheckpoint'ed: lineage is truncated so the plan does not grow
   * with rounds, and superseded rounds' blocks are released by the
   * ContextCleaner once dereferenced. Convergence = the oriented edge set
   * reaches its fixed point (stars rooted at component minima).
   */
  def dedupClusters(pairs: DataFrame, maxRounds: Int = 50,
                    driverCap: Long = 2000000L): DataFrame =
    dedupClustersWithRounds(pairs, maxRounds, driverCap)._1

  /**
   * [[dedupClusters]] exposing the converged round count (for tests).
   *
   * Two regimes, both exact:
   *  - edge sets up to `driverCap` (with integral ids) are solved by
   *    union-find on the driver — the verified-duplicate EDGE set is
   *    orders of magnitude smaller than the corpus, and one bounded
   *    collect (<= ~32 MB at the default cap) replaces O(log n) rounds of
   *    tiny-data shuffles whose per-job scheduling would dominate. The
   *    same working-set argument as the IVF coarse quantizer: the collect
   *    is capped and independent of corpus size.
   *  - beyond the cap (or for non-integral ids), alternating large-star /
   *    small-star contraction runs fully distributed. SparkSpec asserts
   *    the two paths agree.
   */
  private[graft] def dedupClustersWithRounds(pairs: DataFrame, maxRounds: Int = 50,
                                             driverCap: Long = 2000000L): (DataFrame, Int) = {
    // ONE oriented distinct pass carries BOTH graph views: self-loops are
    // kept so the table's endpoints are exactly the node set (a doc paired
    // only with itself still gets a label), and u != v filters it down to
    // the proper edge set. One checkpoint + one count + (driver path) one
    // collect, where separate node/edge materializations cost five driver
    // round-trips — per-job overhead was the dominant cost of every
    // clustering caller at bench scale (31 jobs for one q34 run).
    val uv = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct().localCheckpoint()
    var converged = false
    var rounds = 0
    // includes self-loop rows; only a self-paired input can make this
    // differ from the proper edge count, costing at most one extra
    // convergence round in the star path
    var prevCount = uv.count()
    val integralIds = uv.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integralIds && prevCount <= driverCap)
      return (unionFindLabels(uv), 0)
    val nodes = uv.select(col("u").as("id")).union(uv.select(col("v").as("id"))).distinct()
    var edges = uv.where(col("u") =!= col("v"))
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // both sets are distinct, so equality == same count + empty anti-join;
      // the anti-join only runs when the counts already match (usually the
      // one final round), so the steady-state check is a single cheap count
      // over checkpointed blocks
      val nextCount = next.count()
      converged = nextCount == prevCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      prevCount = nextCount
      edges = next
      rounds += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"dedupClusters hit the $maxRounds-round cap before the star fixed " +
          "point; labels may be incomplete — raise maxRounds")
    // at the fixed point every non-root points straight at its component
    // min and roots never appear as a child; min(v) also degrades sanely
    // if the cap was hit
    val labels = nodes.join(
        edges.groupBy("u").agg(min(col("v")).as("mn")).withColumnRenamed("u", "id"),
        Seq("id"), "left")
      .select(col("id").as("doc_id"), coalesce(col("mn"), col("id")).as("cluster_id"))
    (labels, rounds)
  }

  /** Exact min-label connected components on the driver: union-find with
    * path compression, roots kept at the component minimum (union always
    * attaches the larger root under the smaller), so find(x) IS the
    * component's min id. Only reached under `driverCap` with integral ids.
    *
    * Driver footprint: the oriented distinct (u, v) table (self-loops
    * included — its endpoints ARE the node set) arrives as ONE packed
    * Array[Long] (u,v interleaved — 32 MB at the 2M-edge cap, never
    * millions of boxed Row objects); the union-find map itself is the
    * larger resident cost (~50 B/node boxed), still bounded by 2x the
    * edge cap and independent of corpus size. */
  private def unionFindLabels(uv: DataFrame): DataFrame = {
    val edgeArr: Array[Long] = uv
      .select(col("u").cast("long"), col("v").cast("long"))
      .rdd.mapPartitions(it => it.flatMap(r => Iterator(r.getLong(0), r.getLong(1))))
      .collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var r = x0
      while (parent.get(r) != r) r = parent.get(r)
      var x = x0
      while (parent.get(x) != r) { val nxt = parent.get(x); parent.put(x, r); x = nxt }
      r
    }
    def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    var i = 0
    while (i < edgeArr.length) {
      val u = edgeArr(i); val v = edgeArr(i + 1)
      add(u); add(v)
      val ru = find(u); val rv = find(v)
      if (ru < rv) parent.put(rv, ru) else if (rv < ru) parent.put(ru, rv)
      i += 2
    }
    val spark = uv.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toSeq.map(x => (x, find(x))).toDF("doc_id", "cluster_id")
  }
}
