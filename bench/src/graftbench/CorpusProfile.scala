package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextAnalysis

/**
 * The traffic profile of a document table, measured with the program's own
 * operators: row count, language mix, word counts, the shares that pass
 * each gate of the q57 corpus filter, and the near-duplicate families the
 * chain's LSH clustering finds. Run on a reference table and on the
 * benchmark's generated corpus, it shows whether `Inputs.CorpusShape`
 * matches the reference.
 *
 * Usage: CorpusProfile <cores> <work dir> <seed> [documents.parquet]
 * prints `profile <source> <json>` for the table (when given) and for the
 * corpus `CorpusDedup` generates at `seed`.
 */
object CorpusProfile {

  def profile(docs: DataFrame): Map[String, Any] = {
    val d = docs.select("doc_id", "text", "lang").cache()
    val n = d.count().toDouble
    def shares(df: DataFrame, c: String): Map[String, Double] =
      df.groupBy(c).count().collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1) / n).toMap

    val w = d.select(size(split(trim(col("text")), "\\s+")).as("w"))
      .agg(avg("w"), min("w"), max("w"), expr("percentile(w, 0.5)")).head()
    val vocab = d.select(explode(split(lower(trim(col("text"))), "\\s+"))).distinct().count()
    val flags = TextAnalysis.corpusFilter(d, "doc_id", "text", "en").cache()
    val gates = Seq("pass_quality", "pass_lang", "pass_repetition", "pass_dedup", "keep")
    val g = flags.agg(avg(col(gates.head).cast("double")), gates.tail.map(c => avg(col(c).cast("double"))): _*).head()
    val survivors = d.join(flags.where(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi").cache()

    /** Near-duplicate families (LSH clusters of two or more documents):
      * the share of documents that are a non-first member of one, and the
      * number of families per size. */
    def families(df: DataFrame, of: Double): (Double, Map[String, Long]) = {
      val sizes = Dedup.lshDedupClusters(df, "doc_id", "text").groupBy("cluster_id").count()
        .groupBy("count").count().collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      (sizes.map { case (s, c) => (s - 1) * c }.sum / of, sizes.map { case (s, c) => s.toString -> c }.toMap)
    }
    val (dupAll, famAll) = families(d, n)
    val nSurv = survivors.count().toDouble
    val (dupSurv, _) = families(survivors, math.max(nSurv, 1.0))
    val out = Map[String, Any](
      "docs" -> n.toLong,
      "lang_share" -> shares(d, "lang"),
      "pred_lang_share" -> shares(TextAnalysis.langId(d, "text"), "pred_lang"),
      "words" -> Map("mean" -> w.getDouble(0), "min" -> w.getInt(1), "max" -> w.getInt(2),
        "p50" -> w.getDouble(3)),
      "vocabulary" -> vocab,
      "gate_share" -> gates.zipWithIndex.map { case (c, i) => c -> g.getDouble(i) }.toMap,
      "keep_by_lang" -> survivors.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      "near_duplicate_share" -> dupAll,
      "families_by_size" -> famAll,
      "near_duplicate_share_of_survivors" -> dupSurv)
    Seq(survivors, flags, d).foreach(_.unpersist())
    out
  }

  def main(args: Array[String]): Unit = {
    val (cores, work, seed) = (args(0).toInt, Paths.get(args(1)), args(2).toLong)
    val spark = BenchMain.session(cores, work)
    args.lift(3).foreach { path =>
      println(s"profile $path " + Json.render(profile(spark.read.parquet(path))))
    }
    val gen = new CorpusDedup(spark, seed, cores, work)
    println(s"profile generated(seed=$seed,docs=${gen.nDocs}) " +
      Json.render(profile(Inputs.corpus(spark, gen.nDocs, seed, 4 * cores, gen.shape))))
    spark.stop()
  }
}
