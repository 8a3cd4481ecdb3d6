package graft.skew

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap

/**
 * Runtime observability for every capped operator (the KeyCaps /
 * maxBucket guards in MinHash/SimHash/sign-LSH candidates, contamination
 * df caps, duplicated-span gram counts, SemDeDup cluster caps).
 *
 * The caps are part of each operator's documented semantics and are
 * mirrored by the SQL oracles — but at 100 TB an operator that quietly
 * dropped 40% of its buckets would read as "ran clean". Each guard
 * therefore attaches a named `observe()` on its key-count branch (a
 * CollectMetrics node over the combinable groupBy counts — zero extra
 * passes, zero extra shuffles; the counts stream through it on their way
 * to the broadcast/semi join) reporting how many keys the cap dropped and
 * how many input rows those keys carried. A registered
 * QueryExecutionListener collects the metrics after every action;
 * Verify dumps them per query (`cap_metrics.json`) and Bench aggregates
 * them into its JSON line — so a silent-truncation regression is visible
 * in the round artifacts, not just in scaladoc.
 *
 * Reporting contract: ABSENCE OF A SITE MEANS ZERO DROPS. When no key
 * crosses a cap, the over-cap side is an empty relation and AQE's
 * empty-relation propagation eliminates the anti-join — and the
 * CollectMetrics node with it (verified empirically: a capped site with
 * any real drops always reports, a clean site reports nothing). That is
 * exactly the right default: the artifact lists every cap that actually
 * truncated, with how much, and stays silent about caps that didn't.
 */
object CapMetrics {

  /** Observation-name prefix for all cap metrics. */
  val Prefix = "keycap_"

  /** Attach a named observation to a key-count DataFrame: number of keys
    * matching `dropCond` (the capped-away keys) and the total input rows
    * those keys carried (`__keycap_n` summed). Every cap call site names
    * itself, so every cap is reported. */
  private[skew] def observeDrops(counts: DataFrame, dropCond: Column, site: String): DataFrame =
    counts.observe(Prefix + site,
      sum(when(dropCond, 1L).otherwise(0L)).as("dropped_keys"),
      sum(when(dropCond, col("__keycap_n")).otherwise(0L)).as("dropped_rows"))

  /** Collected metrics: site -> (dropped_keys, dropped_rows), latest value
    * per site. TrieMap: listener callbacks arrive on listener-bus threads. */
  final class Listener extends QueryExecutionListener {
    val drops: TrieMap[String, (Long, Long)] = TrieMap.empty
    private def collect(qe: QueryExecution): Unit =
      // a failed query's QueryExecution re-throws its analysis error on
      // any plan access — metrics are best-effort, never a second failure
      try qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(Prefix)) {
          val keys = if (row.isNullAt(0)) 0L else row.getLong(0)
          val rows = if (row.isNullAt(1)) 0L else row.getLong(1)
          drops.put(name.stripPrefix(Prefix), (keys, rows))
        }
      } catch { case _: Throwable => () }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      collect(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      collect(qe)
    def clear(): Unit = drops.clear()
    def snapshot(): Map[String, (Long, Long)] = drops.toMap
  }

  /** Register a fresh listener on the session; caller keeps the handle. */
  def register(spark: SparkSession): Listener = {
    val l = new Listener
    spark.listenerManager.register(l)
    l
  }

  /** Render a snapshot as a stable JSON object (sites sorted). */
  def toJson(snap: Map[String, (Long, Long)]): String =
    snap.toSeq.sortBy(_._1).map { case (site, (k, r)) =>
      s""""$site":{"dropped_keys":$k,"dropped_rows":$r}"""
    }.mkString("{", ",", "}")
}
