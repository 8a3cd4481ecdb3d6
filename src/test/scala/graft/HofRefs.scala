package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup.{P, hashParams}
import graft.expr.textops.{shingles_of, tokens_of}

/** The declarative (pure higher-order-function) formulations of the native
  * expressions in graft.expr — the same math written with Spark's built-in
  * array functions. The specs run each native expression against its
  * reference here, row by row (TextOpsSpec, VecOpsSpec, PairOpsSpec,
  * SparkSpec). Nothing in the program calls them. */
object HofRefs {

  // ---- text: tokens, shingles, signatures (graft.dedup.Dedup) ----------

  /** Portable 60-bit hash of a string: first 15 hex chars of md5, parsed as
    * an integer — the Spark formulation of the native 60-bit hashes
    * (graft.expr.SigCore.hash60) and of the DuckDB oracles'
    * ('0x'||substr(md5(s),1,15))::BIGINT. */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** The declarative (pure-HOF) tokenizer — differential reference. */
  def tokensHof(textCol: Column): Column =
    filter(split(lower(textCol), "[^a-z0-9]+"), x => x =!= "")

  /** The declarative (pure-HOF) shingler — differential reference.
    *
    * Built with arrays_zip over k shifted slices, NOT transform over an
    * index sequence: a lambda body re-evaluates every non-lambda
    * subexpression per element, which would make shingling O(tokens^2);
    * zip arguments are evaluated once. */
  def shinglesHof(textCol: Column, k: Int): Column = {
    val toks = tokensHof(textCol)
    val n = size(toks)
    val zipped = arrays_zip((0 until k).map(j => slice(toks, lit(j + 1), n - (k - 1))): _*)
    val joined = transform(zipped,
      s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*))
    array_distinct(when(n >= k, joined).otherwise(array().cast("array<string>")))
  }

  /** The declarative (pure-HOF) formulation of the signature — identical
    * math to the native expression; kept as the differential reference for
    * SparkSpec's expression-equivalence test. */
  def minhashSigHof(textCol: Column, k: Int, numHashes: Int): Column = {
    val paramsLit = array(hashParams(numHashes).map { case (a, c) =>
      struct(lit(a).as("a"), lit(c).as("c")) }: _*)
    val base = transform(shingles_of(textCol, k), s => pmod(md5Hash60(s), lit(P)))
    aggregate(base, array_repeat(lit(P), numHashes),
      (acc, h) => zip_with(acc, paramsLit,
        (m, pr) => least(m, pmod(pr.getField("a") * h + pr.getField("c"), lit(P)))))
  }

  /** Declarative (pure-HOF) blocks formulation — identical math to the
    * native expression; kept for SparkSpec's equivalence test. One fold
    * carrying all 64 bit-sums, thresholded in the finish lambda. */
  def simhashBlocksHof(textCol: Column): Column = {
    val th = transform(tokens_of(textCol), t => struct(
      conv(substring(md5(t), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(t), 9, 8), 16, 10).cast("long").as("lo")))
    // per-bit descriptor: which half holds global bit g, and its mask
    val bitsLit = array((0 until 64).map { g =>
      struct(lit(g < 32).as("lo"), lit(1L << (g % 32)).as("mask"))
    }: _*)
    val masks16 = array((0 until 16).map(j => lit(1L << j)): _*)
    aggregate(th, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitsLit, (a, pr) =>
        a + when(when(pr.getField("lo"), h.getField("lo")).otherwise(h.getField("hi"))
          .bitwiseAND(pr.getField("mask")) =!= 0L, 1L).otherwise(-1L)),
      acc => transform(sequence(lit(0), lit(3)), b =>
        aggregate(zip_with(slice(acc, b * 16 + lit(1), lit(16)), masks16,
          (s, m) => when(s > 0, m).otherwise(lit(0L))), lit(0L), _ + _)))
  }

  // ---- pair emission (graft.expr.PairCore) ------------------------------

  /** Declarative (pure-HOF) pair emission — differential reference for
    * PairOpsSpec. */
  def pairsHof(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids) - i - 1),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Declarative (pure-HOF) new-only pair emission — differential
    * reference for PairOpsSpec. */
  def pairsNewOnlyHof(ms: Column): Column =
    flatten(transform(ms, (x, i) =>
      filter(
        transform(slice(ms, i + lit(2), size(ms) - i - 1),
          y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            (x.getField("is_new") || y.getField("is_new")).as("any_new"))),
        p => p.getField("any_new"))))

  /** Declarative (pure-HOF) hamming pair emission — differential
    * reference for PairOpsSpec. */
  def hammingPairsHof(ms: Column): Column =
    flatten(transform(ms, (x, i) =>
      transform(slice(ms, i + lit(2), size(ms) - i - 1),
        y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          aggregate(zip_with(x.getField("blocks"), y.getField("blocks"),
            (p, q) => bit_count(p.bitwiseXOR(q)).cast("long")), lit(0L), _ + _)
            .as("hamming")))))

  // ---- vectors (graft.ann.Similarity) -----------------------------------

  /** The declarative (pure-HOF) cosine — identical math to graft.ann.Similarity.cosine;
    * kept as the differential reference for SparkSpec's
    * expression-equivalence test. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), _ + _))
    dot / (na * nb)
  }

  /** The declarative (pure-HOF) bucket id — differential reference. */
  def lshBucketHof(vecCol: Column, weights: Array[Array[Double]]): Column =
    weights.zipWithIndex.map { case (w, p) =>
      val wLit = array(w.map(lit(_)): _*)
      val dot = aggregate(zip_with(vecCol, wLit, (x, y) => x * y), lit(0.0), _ + _)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** The declarative (pure-HOF) argmax — differential reference. */
  def nearestCidHof(vecCol: Column, clCol: Column): Column = {
    val scored = transform(clCol,
      ct => struct(cosineHof(vecCol, ct.getField("c")).as("cos"), ct.getField("cid").as("cid")))
    aggregate(scored, struct(lit(-2.0).as("cos"), lit(-1L).as("cid")),
      (acc, s) => when(s.getField("cos") > acc.getField("cos"), s).otherwise(acc))
      .getField("cid")
  }

  // ---- text filters (graft.text.TextAnalysis) ---------------------------

  /** Non-distinct word 2-grams ("a b"): the repetition unit. */
  def word2grams(toks: Column): Column = {
    val n = size(toks)
    val zipped = arrays_zip(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1))
    when(n >= 2, transform(zipped, s => concat_ws(" ", s.getField("0"), s.getField("1"))))
      .otherwise(array().cast("array<string>"))
  }

  /** The declarative (pure-HOF) formulation over a token array —
    * differential reference. */
  def repetitionPiecesHof(toks: Column): (Column, Column, Column, Column) = {
    val sorted = sort_array(toks)
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    val topCount = aggregate(sorted, zero, (acc, tok) => {
      val newRun = when(tok === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
      struct(tok.as("prev"), newRun.as("run"),
        greatest(acc.getField("best"), newRun).as("best"))
    }).getField("best")
    val grams = word2grams(toks)
    (toks, topCount, size(grams).cast("long"),
      (size(grams) - size(array_distinct(grams))).cast("long"))
  }

  /** The declarative (pure-HOF) formulation — differential reference for
    * TextOpsSpec. */
  def hashClassifierScoreHof(df: DataFrame, idCol: String, textCol: String,
                                            nBuckets: Int): DataFrame = {
    val toks = tokens_of(col(textCol))
    df.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        classifierFoldHof(toks, nBuckets).as("score_int"))
      .withColumn("keep", col("score_int") > 0L)
  }

  /** The declarative score_int fold over a token array. */
  def classifierFoldHof(toks: Column, nBuckets: Long): Column = {
    val bucket = (t: Column) =>
      pmod(conv(substring(md5(concat(lit("w:"), t)), 1, 15), 16, 10).cast("long"),
        lit(nBuckets))
    // weight(b) in [-4095, 4095]: Knuth-multiplicative spread of the bucket id
    val weight = (t: Column) => pmod(bucket(t) * lit(2654435761L), lit(8191L)) - lit(4095L)
    aggregate(toks, lit(0L), (acc, t) => acc + weight(t))
  }
}
