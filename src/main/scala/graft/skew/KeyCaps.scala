package graft.skew

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Skew-proof per-key cardinality guards for the candidate-generation and
 * frequency-cap operators (MinHash/SimHash/sign-LSH buckets, contamination
 * df caps, duplicated-span gram counts).
 *
 * Why not `count().over(Window.partitionBy(key))`: a window count gets NO
 * partial aggregation and no AQE skew splitting — every row of a hot key
 * is serialized through ONE count task before the filter can drop it
 * (spill bounds memory, not wall-clock). A `groupBy(key).count` has a
 * map-side partial_count, so a key holding 30% of a 100 TB corpus
 * collapses to one row per map partition before its Exchange; the
 * resulting key-count table is then applied either as a broadcast
 * anti-join (bounded over-cap key sets — a degenerate key's rows are
 * dropped MAP-SIDE and never enter any keyed exchange) or as a semi-join
 * (unbounded kept sets — AQE can skew-split a sort-merge semi-join,
 * unlike a window).
 *
 * The trade: the guarded input is computed twice (once to count keys,
 * once to filter) — pure map-side work that parallelizes perfectly,
 * bought back many times over by never serializing a degenerate key
 * through a single task. Callers whose input is already materialized
 * (localCheckpoint) pay nothing.
 *
 * Null keys behave exactly like the window counts these guards replaced:
 * the joins use NULL-SAFE equality (<=>), so a null key is one more key
 * value — grouped together by the count (as groupBy already does) and
 * capped like any other. Current call sites key on md5/hash/concat
 * columns that are never null, but a future nullable-key call site gets
 * window semantics, not silently inverted join semantics.
 */
object KeyCaps {

  private def nullSafeCond(left: DataFrame, keyCols: Seq[String], rightPrefix: String) =
    keyCols.map(k => left(k) <=> col(s"$rightPrefix$k")).reduce(_ && _)

  private def renamedKeys(keyCols: Seq[String], prefix: String) =
    keyCols.map(k => col(k).as(s"$prefix$k"))

  /**
   * Drop every row whose key occurs more than `maxCount` times. The
   * over-cap key set is BOUNDED by construction — at most
   * |rows| / maxCount keys can exceed the cap — so it broadcasts, and the
   * anti-join filters map-side: a billion-row degenerate key never
   * crosses an exchange at all.
   *
   * `site`: the name of a named observation on the key-count branch
   * counting capped keys and the rows they drop — surfaced through
   * [[CapMetrics]] after any action on the final query. Names must be
   * unique within one query.
   */
  def dropOverCapKeys(df: DataFrame, keyCols: Seq[String], maxCount: Long,
                      site: String): DataFrame = {
    val keys = keyCols.map(col)
    val counts = df.groupBy(keys: _*).agg(count(lit(1)).as("__keycap_n"))
    val observed = CapMetrics.observeDrops(counts, col("__keycap_n") > maxCount, site)
    val hot = observed.where(col("__keycap_n") > maxCount)
      .select(renamedKeys(keyCols, "__cap_"): _*)
    df.join(broadcast(hot), nullSafeCond(df, keyCols, "__cap_"), "left_anti")
  }

  /**
   * Keep only rows whose key occurs at least `minCount` times. Both the
   * kept and dropped key sets are unbounded here (e.g. duplicated vs
   * unique k-grams), so neither side broadcasts — a plain semi-join
   * against the combinable key counts, which AQE skew-splits if one kept
   * key dominates (asserted by SparkSpec's executed-plan check).
   *
   * `site`: as in [[dropOverCapKeys]] — here the observation counts the
   * below-min keys/rows the semi-join filters out.
   */
  def keepKeysWithCountAtLeast(df: DataFrame, keyCols: Seq[String], minCount: Long,
                               site: String): DataFrame = {
    val keys = keyCols.map(col)
    val counts = df.groupBy(keys: _*).agg(count(lit(1)).as("__keycap_n"))
    val observed = CapMetrics.observeDrops(counts, col("__keycap_n") < minCount, site)
    val ok = observed.where(col("__keycap_n") >= minCount)
      .select(renamedKeys(keyCols, "__cap_"): _*)
    df.join(ok, nullSafeCond(df, keyCols, "__cap_"), "left_semi")
  }
}
