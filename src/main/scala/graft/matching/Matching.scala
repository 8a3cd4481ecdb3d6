package graft.matching

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.rules.Rules

/**
 * J1/J2 — fuzzy SKU matching as a broadcast similarity join
 * (reference app/pipeline/matcher.py:40-158).
 *
 * Physical shape for 100 TB: the products dimension is tiny (the reference
 * loads it fully into memory, matcher.py:24-38) -> `broadcast()` +
 * BroadcastNestedLoopJoin; the fact side streams through map tasks, no
 * shuffle except the final per-item top-k window, which is partitioned by
 * the item key and therefore skew-free.
 */
object Matching {

  val wratioUdf = udf((a: String, b: String) => Fuzzy.wratio(a, b))

  /**
   * Top-k fuzzy matches per item (matcher.py find_matches: limit=3,
   * keep score >= suggest threshold, flag auto at >= auto threshold).
   *
   * @param items    fact side with an `itemKey` id column and `name`
   * @param products dimension (product_id, sku, name)
   */
  def topMatches(items: DataFrame, products: DataFrame,
                 itemKeyCols: Seq[String], nameCol: String = "name",
                 limit: Int = 3,
                 suggest: Double = Rules.suggestThreshold,
                 auto: Double = Rules.autoMatchThreshold): DataFrame = {
    val prods = products.select(
      col("product_id"), col("sku").as("match_sku"), col("name").as("match_name"))
    val scored = items
      .crossJoin(broadcast(prods))
      .withColumn("score", wratioUdf(col(nameCol), col("match_name")))
    rankTop(scored, itemKeyCols, "product_id", limit, suggest, auto, "is_auto_match")
  }

  /** The matcher's selection step (matcher.py find_matches; also q11/q41):
    * per item, `rank` by score desc then `candId` asc, keep rank <= limit
    * and score >= suggest, flag `autoCol` at score >= auto. */
  def rankTop(scored: DataFrame, itemKeyCols: Seq[String], candId: String,
              limit: Int, suggest: Double, auto: Double, autoCol: String): DataFrame = {
    val w = Window.partitionBy(itemKeyCols.map(col): _*)
      .orderBy(desc("score"), asc(candId))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= limit && col("score") >= suggest)
      .withColumn(autoCol, col("score") >= auto)
  }

  /** The co-blocking step ([[topMatchesBlocked]], q41): the distinct
    * (item row, `catalogId`) pairs sharing a blocking key, the exploded
    * catalog keys broadcast. `items` columns must be orderable. */
  def coBlocked(items: DataFrame, nameCol: String, catalog: DataFrame, catalogId: String,
                catalogName: String, keys: Column => Column): DataFrame = {
    val catKeys = catalog.select(col(catalogId), explode(keys(col(catalogName))).as("__tok"))
    items.withColumn("__tok", explode(keys(col(nameCol))))
      .join(broadcast(catKeys), Seq("__tok"))
      .select((items.columns.map(col) :+ col(catalogId)): _*)
      .distinct()
  }

  /** Blocking keys: the processed tokens UNION every token's character
    * 3-grams (tokens shorter than 3 chars stand in for their own grams).
    * Tokens recall word-overlap pairs exactly; 3-grams recall pairs whose
    * similarity is character-level INSIDE differing tokens — in-token
    * typos, transliterations — which share no whole token but, at any
    * WRatio >= 70, must share long common character runs and therefore
    * 3-grams. */
  private val blockKeysUdf = udf { (s: String) =>
    val toks = Fuzzy.process(s).split(" ").filter(_.nonEmpty).distinct
    (toks ++ toks.flatMap(t => if (t.length < 3) Seq(t) else t.sliding(3))).distinct
  }

  /**
   * Blocked variant of [[topMatches]] for a LARGE product catalog:
   * instead of scoring every item x product pair (the reference's
   * semantics — fine for its in-memory dim, quadratic at a real catalog),
   * items and products are equi-joined on shared blocking keys first and
   * only co-blocked pairs are WRatio-scored. Keys use the SAME
   * preprocessing as the scorer (Fuzzy.process) — see [[blockKeysUdf]].
   *
   * Contract: a pair sharing NO blocking key is never scored. With the
   * token + 3-gram union, a missed >=`suggest` pair would need similarity
   * with no shared word AND no shared 3-character run after identical
   * preprocessing — SparkSpec's adversarial catalog (in-token typos,
   * transliterations scoring >= 70 purely through WRatio's character
   * components) shows zero misses, and when every >= suggest pair shares
   * a key the output is IDENTICAL to [[topMatches]] (ranks included:
   * candidates below a surviving pair's score always rank below it, so
   * absent sub-threshold pairs cannot shift ranks).
   *
   * PRECONDITION (violated = silently wrong output, not an error): items
   * must be UNIQUE by `itemKeyCols` — the candidate dedup and the final
   * payload join-back key on them, so duplicate item keys would both
   * merge distinct items' candidate sets in the per-key window AND
   * multiply ranked rows through the join-back. [[topMatches]] has no
   * such precondition (it carries payload columns through); payload
   * columns here may be of unorderable types — maps — and never enter a
   * distinct, which is why the join-back exists. SparkSpec asserts the
   * q41 input satisfies it and that a deliberately-duplicated key
   * demonstrates the documented failure shape.
   */
  def topMatchesBlocked(items: DataFrame, products: DataFrame,
                        itemKeyCols: Seq[String], nameCol: String = "name",
                        limit: Int = 3,
                        suggest: Double = Rules.suggestThreshold,
                        auto: Double = Rules.autoMatchThreshold): DataFrame = {
    val prods = products.select(
      col("product_id"), col("sku").as("match_sku"), col("name").as("match_name"))
    val cands = coBlocked(items.select((itemKeyCols :+ nameCol).map(col): _*), nameCol,
      prods, "product_id", "match_name", blockKeysUdf(_))
    val scored = cands
      .join(broadcast(prods), Seq("product_id"))
      .withColumn("score", wratioUdf(col(nameCol), col("match_name")))
    val ranked = rankTop(scored, itemKeyCols, "product_id", limit, suggest, auto,
      "is_auto_match")
    // restore the full item row (unique-by-key precondition above)
    items.join(ranked.drop(nameCol), itemKeyCols)
  }
}
