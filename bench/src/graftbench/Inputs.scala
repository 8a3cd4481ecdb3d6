package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generators. Every input is a pure function of the workload
 * seed and the row id, generated on the executors and materialized in
 * memory before any pass, so a pass never pays for generation.
 */
object Inputs {

  /** splitmix64 finalizer; the corpus generator's own PRNG, so a change to
    * the program's generators never changes the corpus. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a4b449bb9d4bL
    z ^ (z >>> 31)
  }
  def rand(seed: Long, id: Long, slot: Long): Long = mix(mix(mix(seed) ^ id) ^ slot)
  def randInt(seed: Long, id: Long, slot: Long, bound: Int): Int =
    Math.floorMod(rand(seed, id, slot), bound.toLong).toInt
  def unit(seed: Long, id: Long, slot: Long): Double = (rand(seed, id, slot) >>> 11) * (1.0 / (1L << 53))

  /** Materialize in memory and return the row count. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  // ---- transcripts and items -------------------------------------------

  val HotShare = 0.05

  /** Seeded transcripts (the program's own generator: 10 payload shapes,
    * one hot conversation holding `HotShare` of the turns). */
  def transcripts(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame =
    graft.io.Transcripts.generate(spark, n, seed, HotShare, 8, parts).toDF()

  /** Items extracted from seeded transcripts, keyed by
    * (conv_id, turn_idx, item_idx): the fact side of SKU matching. */
  def items(spark: SparkSession, nTurns: Long, seed: Long, parts: Int): DataFrame =
    graft.Pipeline.extractItems(transcripts(spark, nTurns, seed, parts))
      .where(col("name").isNotNull && length(col("name")) > 0)
      .select("conv_id", "turn_idx", "item_idx", "name")
      .repartition(parts)

  // ---- document corpus -------------------------------------------------

  /** Corpus shape. Its defaults are the measured profile of the sf0.1
    * `documents` table (5,000 rows; `python3 bench/run.py --profile-corpus`,
    * see README.md): texts of `minWords` to `maxWords` words drawn
    * uniformly from a 30-word vocabulary that holds "the" and "a" and no
    * other language marker, a `lang` label drawn from `langs` independently
    * of the text, and `dupShare` of the documents a copy of a uniformly
    * chosen earlier document with one marker word appended. */
  final case class CorpusShape(
      dupShare: Double = 0.05,
      minWords: Int = 10,
      maxWords: Int = 100,
      langs: Seq[(String, Double)] = Seq("en" -> 0.41, "de" -> 0.14, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15)) {
    require(dupShare >= 0 && dupShare < 1 && minWords >= 1 && maxWords >= minWords &&
      math.abs(langs.map(_._2).sum - 1.0) < 1e-9, s"bad corpus shape: $this")
  }

  /** The vocabulary: storage-engine words, "the" (the English marker the
    * corpus filter's language gate looks for) and "a"; 4.5 letters a word,
    * as in the reference. */
  val vocab: Array[String] = Array("index", "page", "cache", "node", "plan", "task", "stage",
    "shard", "lock", "journal", "file", "block", "bytes", "heap", "btree", "list", "mapper", "bucket", "queue",
    "push", "pull", "read", "write", "load", "store", "fetch", "seek", "flush", "the", "a")
  /** The word a near-duplicate copy appends to its original. */
  val CopyMark = "copy"

  /** Whether `id` is a near-duplicate copy, and the original it copies:
    * a uniformly chosen earlier id, followed to the first non-copy, so a
    * family is one original and its copies. */
  def originOf(seed: Long, id: Long, shape: CorpusShape): (Long, Boolean) = {
    def isCopy(i: Long) = i > 0 && unit(seed, i, 1) < shape.dupShare
    if (!isCopy(id)) (id, false)
    else {
      var o = Math.floorMod(rand(seed, id, 6), id)
      while (isCopy(o)) o = Math.floorMod(rand(seed, o, 6), o)
      (o, true)
    }
  }

  private def originalText(seed: Long, id: Long, shape: CorpusShape): String = {
    val n = shape.minWords + randInt(seed, id, 3, shape.maxWords - shape.minWords + 1)
    Array.tabulate(n)(i => vocab(randInt(seed, id, 100 + i, vocab.length))).mkString(" ")
  }

  private def langOf(seed: Long, id: Long, shape: CorpusShape): String = {
    val u = unit(seed, id, 2)
    val cum = shape.langs.scanLeft(0.0)(_ + _._2).tail
    shape.langs.zip(cum).collectFirst { case ((l, _), c) if u < c => l }.getOrElse(shape.langs.last._1)
  }

  /** (doc_id, text, lang) of one document. */
  def document(seed: Long, id: Long, shape: CorpusShape): (Long, String, String) = {
    val (origin, copy) = originOf(seed, id, shape)
    val text = originalText(seed, origin, shape)
    (id, if (copy) s"$text $CopyMark" else text, langOf(seed, id, shape))
  }

  /** The corpus table (doc_id, text, lang, n_chars). */
  def corpus(spark: SparkSession, n: Long, seed: Long, parts: Int,
             shape: CorpusShape = CorpusShape()): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long]
      .map(id => document(seed, id, shape))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
