package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over an embedding column (Array[Float]).
 *
 * Baseline: brute-force cosine top-k (exact; query side broadcast, corpus
 * side streams, per-query top-k reduced in two salted levels so no single
 * task ever sorts a corpus-sized candidate list).
 *
 * Scale paths:
 *  - sign-LSH bucketing (hyperplanes precomputed deterministically from
 *    splitmix64 and inlined as literals — resumable, no Random, and
 *    bit-replicable by the SQL oracle);
 *  - IVF (inverted-file) with a faiss-style coarse quantizer: centroids
 *    trained distributed on a deterministic hash sample, kept as a k-row
 *    DataFrame (never collected), and applied MAP-SIDE as a fold argmax
 *    over a one-row BROADCAST centroid array — k rides in the broadcast
 *    relation, not the plan, so SemDeDup-scale k (tens of thousands)
 *    costs nothing in plan size. Assignment shuffles nothing; only the
 *    probe join moves rows, keyed by centroid.
 */
object Similarity {

  /** Cosine between two array<double> columns — a native codegen
    * expression ([[graft.expr.VecCore.cosineBoxed]]) computing the exact ordered
    * fold the SQL oracle replicates (products summed left-to-right from
    * 0.0, sqrt of the ordered square sums, dot/(na*nb)). The previous
    * HOF formulation (graft.HofRefs.cosineHof, the differential reference)
    * computed the same values but interpreted, with one lambda dispatch
    * per element and 4 array passes per pair. */
  def cosine(a: Column, b: Column): Column = graft.expr.vecops.cosine_sim(a, b)

  /**
   * Brute-force top-k: for each query vector (id in [0, nQueries)), the k
   * nearest corpus vectors by cosine (excluding self), deterministic
   * tie-break on neighbor id. Query side is tiny -> broadcast; corpus side
   * streams; the per-query reduction is salted two-level.
   */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     nQueries: Int, k: Int): DataFrame = {
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).cast("array<double>").as("nbr_v"))
    val queries = emb.where(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q_v"))
    val scored = corpus.crossJoin(broadcast(queries))
      .where(col("query_id") =!= col("nbr_id"))
      .withColumn("cosine", cosine(col("q_v"), col("nbr_v")))
    graft.skew.Salt.topK(scored, "query_id", "nbr_id", Seq(desc("cosine"), asc("nbr_id")), k, "rank")
      .select("query_id", "rank", "nbr_id", "cosine")
  }

  /** Deterministic hyperplane weights in [-1, 1): splitmix64 over the
    * (plane, dim) index, computed ONCE in Scala and inlined as literals on
    * both the Spark and the oracle side. */
  def planeWeights(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      graft.io.Transcripts.mix(0x517CC1B727220A95L + p.toLong * dim + d).toDouble /
        Long.MaxValue.toDouble
    }

  /** Sign-LSH bucket id (bit per plane) — a native codegen expression
    * ([[graft.expr.SignLshBucket]]); the hyperplanes ride in the
    * expression's references array instead of nPlanes x dim array
    * literals in the plan. Same per-plane ordered-fold dot and `>= 0`
    * sign as the HOF formulation (graft.HofRefs.lshBucketHof, the differential
    * reference). */
  def lshBucket(vecCol: Column, weights: Array[Array[Double]]): Column =
    graft.expr.vecops.sign_bucket(vecCol, weights)

  /** LSH-bucketed near-neighbor pairs: cosine computed only within buckets.
    * `maxBucket` is the explicit skew guard its MinHash/SimHash siblings
    * carry (graft.dedup.Dedup): a degenerate hot bucket (few planes, or a
    * dense direction in embedding space) would otherwise be an unbounded
    * in-bucket quadratic self-join. The cap is part of the operator's
    * semantics and mirrored by the SQL oracle, not a silent drop; the
    * pre-count also keeps singleton buckets out of the join entirely. */
  def lshNearPairs(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                   nPlanes: Int = 12, threshold: Double = 0.9,
                   maxBucket: Int = 10000): DataFrame = {
    // localCheckpoint FIRST: the bucketed working set feeds the bucket
    // count, then BOTH sides of the self-join — without lineage truncation
    // each consumer re-runs the scan and the nPlanes x dim hyperplane dot
    // products. Off the materialized set, the over-cap bucket guard
    // (graft.skew.KeyCaps) costs nothing extra: a map-side-combinable
    // groupBy count plus a broadcast anti-join, so a degenerate hot
    // bucket's rows are dropped map-side and never serialize through one
    // count task (the former window count had no partial aggregation).
    // Singleton buckets stay in the join input — a 1-row bucket joins only
    // itself and dies at id_a < id_b, costing nothing.
    val bucketed = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), planeWeights(nPlanes, dim)))
      .localCheckpoint()
    cappedPairs(bucketed, "bucket", threshold, maxBucket, site = "lsh_embedding_buckets")
      .select("id_a", "id_b", "cosine").distinct()
  }

  // ---- IVF -----------------------------------------------------------------

  /** 1-row DataFrame holding the full centroid table as one cid-ascending
    * array<struct<cid,c>> column, for BROADCAST into the assignment
    * folds: the k x dim doubles travel in the broadcast relation, never
    * in the expression tree. The round-4 design inlined centroids as plan
    * LITERALS, which (a) capped k at the ~4k the plan could carry — at
    * 10^12 docs SemDeDup needs k in the tens of thousands (Abbas et al.
    * 2023 run k ∝ n) so every cluster blew the bucket cap and the output
    * silently emptied — and (b) made a multi-MB expression evaluated per
    * row. A broadcast decouples k from plan size entirely; SparkSpec
    * asserts no data-sized literal remains at k=256. */
  private def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("__cl"))

  /** Fold argmax over a centroid-array COLUMN: best (max cosine, ties ->
    * first in cid-ascending order) — a native codegen expression
    * ([[graft.expr.VecCore.nearestCid]]) computing the exact fold the SQL
    * oracle replicates with list_reduce (init cos=-2.0/cid=-1, strict
    * SQL-ordering `>`), with the stream vector's norm computed once
    * instead of once per centroid. graft.HofRefs.nearestCidHof is the differential
    * reference. */
  private def nearestCid(vecCol: Column, clCol: Column): Column =
    graft.expr.vecops.nearest_cid(vecCol, clCol)

  /** Map-side centroid assignment: cross-join the ONE-row broadcast
    * centroid array onto the stream side and fold — a
    * BroadcastNestedLoopJoin against a single row, so assignment still
    * shuffles NOTHING and k never touches the plan. */
  def assignNearest(df: DataFrame, vecCol: String, cents: DataFrame,
                    outCol: String = "cid"): DataFrame =
    df.crossJoin(broadcast(centroidArray(cents)))
      .withColumn(outCol, nearestCid(col(vecCol), col("__cl")))
      .drop("__cl")

  /** The (id: long, v: array<double>) projection of an embedding table. */
  private def idVec(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))

  /** [[assignNearest]] over the (id, v) projection of an embedding table. */
  private[graft] def assignEmb(emb: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
                        outCol: String = "cid"): DataFrame =
    assignNearest(idVec(emb, idCol, vecCol), "v", cents, outCol)

  /**
   * Deterministic coarse quantizer, faiss-style, fully distributed: train
   * on a HASH-SAMPLED bounded subset (the `trainN` lowest rows by
   * md5('ivf:'||id) — an unbiased deterministic sample, unlike an
   * id-prefix which inherits whatever the low ids correlate with), seed
   * centroids = every stride-th sample vector in hash-rank order, one
   * Lloyd refinement = per-centroid mean of assigned sample vectors
   * SUMMED IN ID ORDER (sorted collect_list fold) so the result is
   * bit-deterministic and exactly replicable by the SQL oracle.
   *
   * Returns the k-row (cid, c) centroid DataFrame, localCheckpoint'ed:
   * it is the quantizer table every consumer (assignment, probes) reads
   * — the artifact faiss would persist — and materializing it once keeps
   * the training chain out of every downstream plan. Nothing is ever
   * collected to the driver, so k is bounded by what a broadcast carries
   * (tens of MB = k in the hundreds of thousands), not by plan size or
   * driver memory. Scale shape of the sample itself: TakeOrderedAndProject
   * (top-trainN by hash — a per-partition top-N + driver merge, never a
   * global sort), then a single-task window over <= trainN rows for ranks.
   *
   * A seed centroid that attracts no sample vectors in the Lloyd step is
   * dropped (its group never forms), so the effective k can shrink — the
   * standard coarse-quantizer behavior; probes adapt to what remains.
   * An empty corpus fails fast: there is nothing to train on.
   */
  def trainIvfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                        k: Int, trainN: Int = 4096): DataFrame = {
    val hashed = idVec(emb, idCol, vecCol)
      .withColumn("__h", md5(concat(lit("ivf:"), col("id").cast("string"))))
    // the sample count (for the seed stride) rides in the SAME
    // single-partition window pass that ranks the sample — no count()
    // over the corpus: stride = max(1, n div k), identical integer math
    // to the former driver-side max(1L, n / k). The one extra action is
    // the emptiness probe below, on the checkpointed <= trainN-row sample.
    val w = Window.orderBy(col("__h"), col("id"))
    val tr = hashed.orderBy(col("__h"), col("id")).limit(trainN)
      .withColumn("__rk", row_number().over(w) - 1)
      .withColumn("__n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .localCheckpoint() // bounded (<= trainN rows); feeds seeds + Lloyd
    require(!tr.isEmpty, "trainIvfCentroids: empty corpus — nothing to train on")
    val stride = greatest(lit(1L), expr(s"__n div ${k}L")) // integer div, exact
    val seeds = tr.where(pmod(col("__rk"), stride) === 0)
      .orderBy("__rk").limit(k)
      .select(col("id").as("cid"), col("v").as("c"))
    // one Lloyd step over the sample: mean of assigned vectors, id-ordered fold
    val assigned = assignNearest(tr, "v", seeds)
    assigned.groupBy("cid")
      .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("lst"))
      .select(col("cid"), transform(
        aggregate(col("lst"),
          array_repeat(lit(0.0), size(element_at(col("lst"), 1).getField("v"))),
          (acc, s) => zip_with(acc, s.getField("v"), _ + _)),
        x => x / size(col("lst")).cast("double")).as("c"))
      .localCheckpoint()
  }

  /**
   * SemDeDup-shaped semantic near-duplicate pairs (Abbas et al. 2023,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication", arXiv:2303.09540): embeddings are partitioned by
   * their nearest coarse-quantizer centroid (the paper's k-means step,
   * reusing [[trainIvfCentroids]]' deterministic training) and cosine
   * near-duplicates are detected WITHIN each cluster only — the
   * corpus-scale move that turns O(n^2) semantic dedup into k
   * independent in-cluster comparisons. Cross-cluster near-dups are
   * missed by construction (the paper's accepted approximation).
   *
   * Scale shape: assignment is a map-side broadcast-centroid argmax
   * (zero shuffle, k decoupled from plan size — see [[centroidArray]];
   * at the paper's k ∝ n, tens of thousands of clusters ride in one
   * broadcast); the assigned working set is localCheckpoint'ed once (it
   * feeds the cap count and both self-join sides — same justification as
   * [[lshNearPairs]]); a degenerate dense cluster is excluded by the
   * KeyCaps broadcast anti-join (<= k over-cap keys — trivially bounded)
   * instead of exploding quadratically, and the drop is OBSERVABLE
   * (CapMetrics site "semdedup_clusters" — with k sized to n, mean
   * cluster size is n/k and a blanket cap-empty output cannot happen
   * silently). A pair lands in exactly one cluster, so no cross-band
   * distinct is needed. Composable with graft.dedup.Dedup.dedupClusters /
   * clusterRepresentatives for keeper selection.
   */
  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int = 16, trainN: Int = 4096,
                    threshold: Double = 0.3, maxBucket: Int = 10000): DataFrame =
    semDedupPairsWithCentroids(emb, idCol, vecCol,
      trainIvfCentroids(emb, idCol, vecCol, k, trainN), threshold, maxBucket)

  /** [[semDedupPairs]] against a SUPPLIED quantizer — the production
    * split: a coarse quantizer is trained once and reused across epochs
    * (faiss practice, and what makes [[semDedupPairsIncremental]] exact). */
  def semDedupPairsWithCentroids(emb: DataFrame, idCol: String, vecCol: String,
                                 cents: DataFrame, threshold: Double = 0.3,
                                 maxBucket: Int = 10000): DataFrame =
    semDedupPairsFromAssigned(assignEmb(emb, idCol, vecCol, cents).localCheckpoint(),
      threshold, maxBucket)

  /**
   * Incremental SemDeDup: fold a NEW embedding batch into an existing
   * assigned corpus WITHOUT re-assigning or re-comparing it — the
   * semantic mirror of graft.dedup.Dedup.mergeDedupIndex. Centroids are
   * the FIXED epoch-0 quantizer (the paper trains k-means once); only
   * the new batch is assigned, and in-cluster cosine runs only for pairs
   * with >= 1 new member — old/old pairs are already in the previous
   * epoch's output, and the two sets are disjoint, so their union equals
   * [[semDedupPairsWithCentroids]] over the union (SparkSpec
   * differential; the cluster cap is per-epoch, as in the MinHash
   * incremental path).
   *
   * @param oldAssigned the previous epoch's materialized (id, v, cid)
   *                    working set (what `assignNearest` produced — the
   *                    artifact a production pipeline persists)
   * @return (new-member pairs, merged assigned working set for the next
   *         epoch)
   */
  def semDedupPairsIncremental(cents: DataFrame, oldAssigned: DataFrame,
                               newEmb: DataFrame, idCol: String, vecCol: String,
                               threshold: Double = 0.3,
                               maxBucket: Int = 10000): (DataFrame, DataFrame) = {
    // only the DELTA materializes (batch-bounded checkpoint); the merged
    // working set is a lazy union over the previous epoch's
    // already-materialized checkpoint — per-epoch cost is O(batch),
    // not O(corpus)
    val newAssigned = assignEmb(newEmb, idCol, vecCol, cents).localCheckpoint()
    val allAssigned = oldAssigned.select("id", "v", "cid")
      .withColumn("__n", lit(false))
      .unionByName(newAssigned.select("id", "v", "cid").withColumn("__n", lit(true)))
    val pairs = cappedPairs(allAssigned, "cid", threshold, maxBucket,
        site = "semdedup_incr_clusters", pairPred = col("__na") || col("__nb"))
      .select("id_a", "id_b", "cid", "cosine")
    (pairs, allAssigned.drop("__n"))
  }

  /** [[semDedupPairsWithCentroids]] over an ALREADY-ASSIGNED (id, v,
    * cid) working set — for callers that persisted the assignment
    * (epoch pipelines: the assignment is the artifact, don't redo it). */
  def semDedupPairsFromAssigned(assigned: DataFrame, threshold: Double = 0.3,
                                maxBucket: Int = 10000): DataFrame =
    cappedPairs(assigned, "cid", threshold, maxBucket, site = "semdedup_clusters")
      .select("id_a", "id_b", "cid", "cosine")

  /** Capped in-key above-threshold cosine pairs from an (id, v, `key`)
    * working set — the one pairing core of [[lshNearPairs]] (key: bucket)
    * and the SemDeDup operators (key: cid); over-cap keys are dropped first
    * (KeyCaps, reported under `site`). Each self-join side carries id/v as
    * id_a/v_a (id_b/v_b) and any other column `c` as `c`+"a" (`c`+"b");
    * `pairPred` filters over those with id_a < id_b, before any cosine. */
  private def cappedPairs(keyed: DataFrame, key: String, threshold: Double,
                          maxBucket: Int, site: String,
                          pairPred: Column = lit(true)): DataFrame = {
    val capped = graft.skew.KeyCaps.dropOverCapKeys(keyed, Seq(key), maxBucket, site = site)
    val extra = capped.columns.filterNot(Set("id", "v", key))
    def side(s: String) = capped.select(Seq(col(key), col("id").as(s"id_$s"),
      col("v").as(s"v_$s")) ++ extra.map(c => col(c).as(c + s)): _*)
    side("a").join(side("b"), Seq(key)).where(col("id_a") < col("id_b") && pairPred)
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .where(col("cosine") > threshold)
  }

  /**
   * Full SemDeDup keeper selection (Abbas et al. 2023 §3): semantic-dup
   * GROUPS are connected components over the in-cluster near-dup pairs,
   * and each group keeps the member with the LOWEST cosine to its
   * cluster centroid — the paper keeps the example farthest from the
   * centroid (it carries the most marginal information), dropping the
   * rest. Ties break to the smallest id; documents in no group keep
   * themselves by definition (the output surfaces duplicate groups only,
   * like clusterRepresentatives).
   *
   * Scale shape: pairs as in [[semDedupPairs]]; components via
   * graft.dedup.Dedup.dedupClusters (bounded driver union-find /
   * star-contraction); the keeper argmax is a COMBINABLE
   * min(struct(centroid_cos, id)) aggregate — a giant group
   * partial-combines map-side, no group window; the centroid-cosine join
   * is a k-row broadcast.
   */
  def semDedupKeep(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int = 16, trainN: Int = 4096,
                   threshold: Double = 0.3, maxBucket: Int = 10000): DataFrame = {
    val cents = trainIvfCentroids(emb, idCol, vecCol, k, trainN)
    val assigned = assignEmb(emb, idCol, vecCol, cents).localCheckpoint()
    // no pair checkpoint: the pair set has exactly ONE consumer (the
    // clustering uv table, itself checkpointed off the materialized
    // `assigned` working set) — a driver round-trip bought nothing
    val pairs = cappedPairs(assigned, "cid", threshold, maxBucket, site = "semdedup_keep_clusters")
      .select("id_a", "id_b")
    val groups = graft.dedup.Dedup.dedupClusters(pairs)
    val withCos = groups
      .join(assigned.select(col("id").as("doc_id"), col("v"), col("cid")), Seq("doc_id"))
      .join(broadcast(cents), Seq("cid"))
      .withColumn("cen_cos", cosine(col("v"), col("c")))
    graft.dedup.Dedup.keepBest(withCos, col("cen_cos"))
      .select(col("cluster_id"), col("n_members"),
        col("__b.doc_id").as("keeper_id"), col("__b.cen_cos").as("keeper_cos"))
  }

  /** IVF search: assign corpus map-side (broadcast-centroid argmax),
    * probe the nProbe nearest centroids per query (picked map-side by
    * sorting the per-row centroid scores — no window), join candidates on
    * the centroid key, salted two-level per-query top-k. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              nQueries: Int, topK: Int, k: Int = 16, nProbe: Int = 4,
              trainN: Int = 4096): DataFrame = {
    val cents = trainIvfCentroids(emb, idCol, vecCol, k, trainN)
    val assignments = assignEmb(emb, idCol, vecCol, cents, outCol = "centroid_id")
    // per-query probe list: sort struct(-cos, cid) ascending = cos desc,
    // ties -> lowest cid; slice the first nProbe — all map-side over the
    // broadcast centroid array
    val probeScores = transform(col("__cl"),
      ct => struct((lit(0.0) - cosine(col("q_v"), ct.getField("c"))).as("negcos"),
        ct.getField("cid").as("cid")))
    val probes = emb.where(col(idCol) < nQueries)
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).cast("array<double>").as("q_v"))
      .crossJoin(broadcast(centroidArray(cents)))
      .select(col("query_id"), col("q_v"),
        explode(transform(slice(array_sort(probeScores), 1, nProbe),
          s => s.getField("cid"))).as("centroid_id"))
    val scored = probes.join(assignments, Seq("centroid_id"))
      .where(col("query_id") =!= col("id"))
      .withColumn("cosine", cosine(col("q_v"), col("v")))
    graft.skew.Salt.topK(scored, "query_id", "id", Seq(desc("cosine"), asc("id")), topK, "rank")
      .select(col("query_id"), col("rank"), col("id").as("nbr_id"), col("cosine"))
  }

  /**
   * Per-group centroid similarity matrix (q82): the domain-similarity
   * view mixture tuning needs (DSIR-flavored: how close is each source /
   * label cluster to every other in embedding space) — one exact
   * centroid per group, then the full group x group cosine matrix.
   *
   * Bit-reproducibility: floats quantize map-side to integer-valued
   * longs (floor(x * 2^20) — floor is exact, no rounding-mode
   * ambiguity), so the per-(group, dim) sums are EXACT integers and
   * commutative-safe under any partial-aggregation order. Cosine is
   * scale-invariant, so the SUM vector stands in for the mean — no
   * division by n ever happens in float. Only the final k^2-row fold
   * touches doubles, in fixed dim order (the q23 ordered-fold contract),
   * so the oracle replays it bit-exactly.
   *
   * Scale shape: the only corpus-sized stage is the combinable
   * (group, dim)-keyed sum — |groups| x dim keys, each partial-
   * aggregating map-side (a group with 10^11 members never funnels raw
   * rows through one task; its dim rows arrive pre-summed per
   * partition). Centroid reassembly collect_list is dim-bounded per
   * group, and the pairwise stage is a |groups|-row broadcast self-join.
   */
  def centroidSimMatrix(emb: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val qvec = transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1048576.0)).cast("long"))
    val sums = emb.select(col(groupCol).as("grp"), posexplode(qvec).as(Seq("dim", "qv")))
      .groupBy(col("grp"), col("dim"))
      .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
    val cents = sums.groupBy(col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("s")))),
        t => t.getField("s").cast("double")).as("cv"),
        max(col("n")).as("n_members"))
    val a = cents.select(col("grp").as("grp_a"), col("cv").as("__va"),
      col("n_members").as("n_a"))
    val b = cents.select(col("grp").as("grp_b"), col("cv").as("__vb"),
      col("n_members").as("n_b"))
    a.join(broadcast(b), col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        cosine(col("__va"), col("__vb")).as("centroid_cos"))
  }
}
