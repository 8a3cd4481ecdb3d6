package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Engine
import graft.matching.Fuzzy

/**
 * One benchmark workload: a seeded input built in set-up, a pass that calls
 * the program on it, and a check of the pass's output. Each workload exists
 * for one module, which does most of the work of its pass.
 */
abstract class Workload(val spark: SparkSession, val seed: Long, val cores: Int, val work: Path) {
  val name: String
  /** The span name of the pass's call into the program. */
  val call: String
  /** Passes run in set-up before timing starts. */
  val warmupPasses: Int
  /** Warm-up work run before the warm-up passes, where a pass over the
    * full input costs more than the warming it adds. */
  def preWarm(): Unit = ()
  /** Input rows one pass completes. */
  def rows: Long
  /** Stage width for inputs and output partitioning. */
  def parts: Int = 4 * cores

  /** Generate and materialize the seeded input (run three times in set-up). */
  def build(): Unit
  def release(): Unit
  /** Reference data for the output check, made once from the last build. */
  def prepare(): Unit
  def props: Map[String, Any]
  def pass(i: Int): AnyRef
  /** Throws or returns false when the output is wrong. */
  def check(out: AnyRef): Boolean
  def cleanup(out: AnyRef): Unit = ()
  /** Layer calls run in a traced run after the timed window: name -> value. */
  def probes(): Map[String, Double]

  protected def sc = spark.sparkContext
  protected def timed[A](name: String)(f: => A): (A, Double) = Trace.span(sc, name) {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  /** A seeded sample of `k` distinct indices below `n`. */
  protected def sample(n: Long, k: Int, slot: Long): Seq[Long] =
    Iterator.from(0).map(i => Math.floorMod(Inputs.rand(seed, i, slot), n)).distinct.take(math.min(k.toLong, n).toInt).toSeq
}

object Workloads {
  val names: Seq[String] = Seq("extract", "sku_match", "corpus_dedup")

  def apply(name: String, spark: SparkSession, seed: Long, cores: Int, work: Path): Workload = name match {
    case "extract" => new Extract(spark, seed, cores, work)
    case "sku_match" => new SkuMatch(spark, seed, cores, work)
    case "corpus_dedup" => new CorpusDedup(spark, seed, cores, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (${names.mkString(", ")})")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** `graft.core` through `Manifests.resumableExtract`: one chunk per pass,
  * so the pass is one job of engine map, salted repartition and parquet
  * sink, then the manifest commit. */
final class Extract(spark: SparkSession, seed: Long, cores: Int, work: Path)
    extends Workload(spark, seed, cores, work) {
  val name = "extract"
  val call = "io.resumable_extract"
  val warmupPasses = 5
  val nTurns = 8000L
  def rows: Long = nTurns

  private var turns: DataFrame = _
  private var expected: Map[(String, Int), Row] = Map.empty
  private var sampleTexts: Seq[(String, Int, String)] = Nil
  var sinkBytes: Long = 0L

  def build(): Unit =
    turns = Inputs.materialize(Inputs.transcripts(spark, nTurns, seed, parts).repartition(parts))._1

  def prepare(): Unit = {
    val keys = sample(nTurns, 400, 7).map(id => graft.io.Transcripts.convOf(id, nTurns, Inputs.HotShare, 8))
    import spark.implicits._
    val texts = turns.join(broadcast(keys.toDF("conv_id", "turn_idx")), Seq("conv_id", "turn_idx"))
      .select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    // in the seeded sample's order
    sampleTexts = keys.map { case (c, i) => (c, i, texts((c, i))) }
    expected = Extract.direct(spark, Extract.checkTurns(sampleTexts))
  }

  def release(): Unit = turns.unpersist(blocking = true)

  def props: Map[String, Any] = Map(
    "rows" -> nTurns, "partitions" -> turns.rdd.getNumPartitions,
    "hot_conversation_share" -> turns.where(col("conv_id") === Extract.HotConv).count().toDouble / nTurns,
    "chunks" -> 1, "salt" -> 4, "check_sample" -> expected.size,
    "check_sample_hot" -> expected.keys.count(_._1 == Extract.HotConv))

  def pass(i: Int): AnyRef = {
    val dir = work.resolve(s"extract-$i")
    Trace.span(sc, call) {
      graft.io.Manifests.resumableExtract(spark, turns, dir.toString, nChunks = 1,
        numPartitions = parts, salt = 4)
    }
    dir
  }

  def check(out: AnyRef): Boolean = Extract.check(spark, out.asInstanceOf[Path].toString, nTurns, expected)

  override def cleanup(out: AnyRef): Unit = {
    sinkBytes = Workloads.treeBytes(out.asInstanceOf[Path].resolve("chunk=0"))
    Workloads.deleteTree(out.asInstanceOf[Path])
  }

  def probes(): Map[String, Double] = {
    val texts = sampleTexts
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val (stats, _) = timed("core.parse_turn") {
      val a0 = mx.getCurrentThreadAllocatedBytes
      val t0 = System.nanoTime()
      val items = texts.map { case (c, i, t) => Engine.parseTurn(c, i, t).best_count.toLong }.sum
      val dt = System.nanoTime() - t0
      (dt / 1e3 / texts.size, (mx.getCurrentThreadAllocatedBytes - a0).toDouble / texts.size,
        items.toDouble / texts.size)
    }
    val (_, extractS) = timed("pipeline.extract_turns")(noop(graft.Pipeline.extractTurns(turns).toDF()))
    // the next step of the per-document pipeline, SKU matching of the
    // extracted items, measured here too
    val t0 = System.nanoTime()
    matching.pass(0)
    val topS = (System.nanoTime() - t0) / 1e9
    Map("core.parse_us_per_turn" -> stats._1, "core.alloc_b_per_turn" -> stats._2,
      "core.items_per_turn" -> stats._3, "pipeline.extract_s" -> extractS,
      "io.sink_bytes" -> sinkBytes.toDouble, "matching.top_matches_s" -> topS) ++ matching.probes()
  }

  private lazy val matching = {
    val m = new SkuMatch(spark, seed, cores, work)
    m.build(); m.prepare(); m
  }
}

object Extract {
  val HotConv = "conv-hot-00000000"

  /** The turns a pass's output is checked on: from a seeded sample, in its
    * order, the first 4 turns of the hot conversation and the first 28 of
    * the others, so both sides of the salted repartition are checked. */
  def checkTurns(sampled: Seq[(String, Int, String)]): Seq[(String, Int, String)] = {
    val (hot, rest) = sampled.partition(_._1 == HotConv)
    hot.take(4) ++ rest.take(28)
  }

  /** Direct `Engine.parseTurn` results as rows, keyed by (conv_id, turn_idx). */
  def direct(spark: SparkSession, turns: Seq[(String, Int, String)]): Map[(String, Int), Row] = {
    import spark.implicits._
    spark.createDataset(turns.map { case (c, i, t) => Engine.parseTurn(c, i, t) }).toDF().collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r).toMap
  }

  /** The manifest audit passes, every turn is committed, and each sampled
    * turn equals a direct `Engine.parseTurn` of the same input. */
  def check(spark: SparkSession, dir: String, nTurns: Long, expected: Map[(String, Int), Row]): Boolean = {
    val out = graft.io.Manifests.readCommitted(spark, dir, verify = true)
    val committed = graft.io.Manifests.readManifests(dir).map(_.rows).sum
    val keys = expected.keys.toSeq
    val cols = expected.values.head.schema.fieldNames.map(col).toSeq
    val got = out.where(keys.map { case (c, i) => col("conv_id") === c && col("turn_idx") === i }
        .reduce(_ || _))
      .select(cols: _*).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r).toMap
    committed == nTurns && got == expected
  }
}

/** `graft.matching` through `Matching.topMatches`: every item scored
  * against the 16-row catalog by the WRatio UDF in a broadcast cross join,
  * then the top-3 window. */
final class SkuMatch(spark: SparkSession, seed: Long, cores: Int, work: Path)
    extends Workload(spark, seed, cores, work) {
  val name = "sku_match"
  val call = "matching.top_matches"
  val warmupPasses = 3
  val nTurns = 3000L

  private var items: DataFrame = _
  private var nItems = 0L
  private var products: Seq[(Int, String)] = Nil
  private var productsDf: DataFrame = _
  private var sampleItems: Seq[(String, Int, Int, String)] = Nil
  def rows: Long = nItems

  def build(): Unit = {
    val (df, n) = Inputs.materialize(Inputs.items(spark, nTurns, seed, parts))
    items = df; nItems = n
  }

  def prepare(): Unit = {
    productsDf = Inputs.materialize(graft.io.Transcripts.productsDim(spark))._1
    products = productsDf.collect().map(r => (r.getInt(0), r.getString(2))).sortBy(_._1).toSeq
    val all = items.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3))
    sampleItems = sample(all.length, 300, 11).map(i => all(i.toInt))
  }

  def release(): Unit = items.unpersist(blocking = true)

  def props: Map[String, Any] = Map(
    "rows" -> nItems, "partitions" -> items.rdd.getNumPartitions, "from_turns" -> nTurns,
    "hot_conversation_share" -> items.where(col("conv_id") === Extract.HotConv).count().toDouble / nItems,
    "products" -> products.size, "distinct_names" -> items.select("name").distinct().count(),
    "check_sample" -> 48)

  def pass(i: Int): AnyRef = Trace.span(sc, call) {
    graft.matching.Matching.topMatches(items, productsDf, Seq("conv_id", "turn_idx", "item_idx"))
      .select("conv_id", "turn_idx", "item_idx", "product_id", "score", "rank", "is_auto_match")
      .collect()
  }

  def check(out: AnyRef): Boolean = SkuMatch.check(out.asInstanceOf[Array[Row]], sampleItems.take(48), products)

  def probes(): Map[String, Double] = {
    val (r, _) = timed("matching.wratio") {
      val t0 = System.nanoTime()
      val useful = sampleItems.iterator.map { case (_, _, _, n) =>
        products.count { case (_, p) => Fuzzy.wratio(n, p) >= graft.rules.Rules.suggestThreshold }
      }.sum
      val pairs = sampleItems.size * products.size
      ((System.nanoTime() - t0) / 1e3 / pairs, useful.toDouble / pairs)
    }
    Map("matching.wratio_us_per_pair" -> r._1, "matching.useful_pair_ratio" -> r._2,
      "matching.pairs_scored" -> (nItems * products.size).toDouble)
  }
}

object SkuMatch {
  /** Driver-side brute force: every catalog row scored by `Fuzzy.wratio`,
    * best 3 by (score desc, product_id asc), kept at or above the suggest
    * threshold. */
  def bruteTop3(name: String, products: Seq[(Int, String)]): Seq[(Int, Double, Int, Boolean)] =
    products.map { case (id, p) => (id, Fuzzy.wratio(name, p)) }
      .sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
      .collect { case ((id, s), k) if s >= graft.rules.Rules.suggestThreshold =>
        (id, s, k + 1, s >= graft.rules.Rules.autoMatchThreshold) }

  def check(out: Array[Row], sample: Seq[(String, Int, Int, String)], products: Seq[(Int, String)]): Boolean = {
    val byItem = out.groupBy(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    sample.forall { case (c, t, i, name) =>
      val got = byItem.getOrElse((c, t, i), Array.empty[Row])
        .map(r => (r.getInt(3), r.getDouble(4), r.getInt(5), r.getBoolean(6))).sortBy(_._3).toSeq
      got == bruteTop3(name, products)
    }
  }
}

/** The q57 corpus chain (`CorpusChain.corpusChain`): corpus filter, LSH
  * near-duplicate clusters, keep-best, stratified sample and packing, as a
  * chain of some thirty small driver actions. */
final class CorpusDedup(spark: SparkSession, seed: Long, cores: Int, work: Path)
    extends Workload(spark, seed, cores, work) {
  val name = "corpus_dedup"
  val call = "text.corpus_chain"
  val warmupPasses = 2
  /** The size of the sf0.1 documents table the shape was measured on. */
  val nDocs = 5000L
  /** Pre-warm: chain passes over the first `preWarmDocs` documents of the
    * same corpus, which run the same ~33 actions over a tenth of the rows. */
  val preWarmPasses = 2
  val preWarmDocs = 500L
  val shape = Inputs.CorpusShape()
  def rows: Long = nDocs

  private var docs: DataFrame = _
  private lazy val survivorsDf = Inputs.materialize(docs.join(keepIds, Seq("doc_id"), "left_semi").repartition(parts))._1
  private var keepIds: DataFrame = _
  private var survivors: Set[Long] = Set.empty
  private var expectedHash: Option[String] = None

  def build(): Unit =
    docs = Inputs.materialize(Inputs.corpus(spark, nDocs, seed, parts, shape))._1

  def prepare(): Unit = {
    keepIds = graft.text.TextAnalysis.corpusFilter(docs, "doc_id", "text", "en")
      .where(col("keep")).select("doc_id")
    survivors = keepIds.collect().map(_.getLong(0)).toSet
  }

  def release(): Unit = docs.unpersist(blocking = true)

  override def preWarm(): Unit = {
    val small = Inputs.materialize(Inputs.corpus(spark, preWarmDocs, seed, parts, shape))._1
    (0 until preWarmPasses).foreach(_ => chain(small))
    small.unpersist(blocking = true)
  }

  private def chain(df: DataFrame): Array[Row] =
    graft.text.CorpusChain.corpusChain(df, "doc_id", "text", "lang", "n_chars",
      lang = "en", rates = Map("en" -> 32, "de" -> 192), defaultOutOf256 = 64,
      packTokens = 512, nShards = 8).collect()

  def props: Map[String, Any] = {
    val copies = (0L until nDocs).count(id => Inputs.originOf(seed, id, shape)._2)
    Map("rows" -> nDocs, "partitions" -> docs.rdd.getNumPartitions,
      "near_duplicate_share" -> copies.toDouble / nDocs,
      "lang_share" -> docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1).toDouble / nDocs).toMap,
      "under_20_words_share" -> docs.where(size(split(col("text"), " ")) < 20).count().toDouble / nDocs,
      "filter_survivors" -> survivors.size)
  }

  def pass(i: Int): AnyRef = Trace.span(sc, call)(chain(docs))

  def check(out: AnyRef): Boolean = {
    val (ok, h) = CorpusDedup.check(out.asInstanceOf[Array[Row]], survivors, expectedHash)
    if (expectedHash.isEmpty) expectedHash = Some(h)
    ok
  }

  def probes(): Map[String, Double] = {
    survivorsDf // materialized before the timed calls
    val ((kept, total), filterS) = timed("text.corpus_filter") {
      val r = graft.text.TextAnalysis.corpusFilter(docs, "doc_id", "text", "en")
        .agg(sum(when(col("keep"), 1L).otherwise(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (_, clustersS) = timed("dedup.lsh_clusters") {
      graft.dedup.Dedup.lshDedupClusters(survivorsDf, "doc_id", "text").collect()
    }
    val (counts, _) = timed("dedup.pairs") {
      val cands = graft.dedup.Dedup.minhashCandidates(survivorsDf, "doc_id", "text", 3, 16, 2)
        .localCheckpoint()
      val verified = graft.dedup.Dedup.jaccardVerify(survivorsDf, cands, "doc_id", "text", 3, 0.5).count()
      (cands.count(), verified)
    }
    // column functions over 4 copies of the corpus, less a scan of the
    // same rows, per row
    val rep = docs.select(col("text"), explode(sequence(lit(1), lit(4))).as("copy"))
    val n = nDocs * 4
    val (_, base) = timed("expr.scan")(noop(rep.select(length(col("text")))))
    def perRow(name: String, c: org.apache.spark.sql.Column): Double =
      math.max(0.0, timed(name)(noop(rep.select(c)))._2 - base) * 1e9 / n
    val tok = perRow("expr.tokens", size(graft.expr.textops.tokens_of(col("text"))))
    val sh = perRow("expr.shingles", size(graft.expr.textops.shingles_of(col("text"), 3)))
    val mh = perRow("expr.minhash_sig",
      graft.expr.signatures.minhash_sig(graft.expr.textops.shingles_of(col("text"), 3), 32))
    Map("text.filter_s" -> filterS, "text.keep_ratio" -> kept.toDouble / total,
      "dedup.clusters_s" -> clustersS, "dedup.candidate_pairs" -> counts._1.toDouble,
      "dedup.verified_pairs" -> counts._2.toDouble,
      "dedup.verify_yield" -> (if (counts._1 == 0) 0.0 else counts._2.toDouble / counts._1),
      "expr.tokens_ns_per_row" -> tok, "expr.shingles_ns_per_row" -> sh,
      "expr.minhash_sig_ns_per_row" -> mh)
  }
}

object CorpusDedup {
  /** Order-independent hash of the packed output. */
  def hash(out: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    out.map(_.toSeq.mkString("\u0001")).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The output is non-empty, hashes as every earlier pass did, and packs
    * only filter survivors. Returns the verdict and the hash. */
  def check(out: Array[Row], survivors: Set[Long], expected: Option[String]): (Boolean, String) = {
    val h = hash(out)
    val idIdx = out.headOption.map(_.fieldIndex("doc_id")).getOrElse(0)
    (out.nonEmpty && expected.forall(_ == h) && out.forall(r => survivors(r.getLong(idIdx))), h)
  }
}
