package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Differential equivalence of the native text builders (graft.expr
  * .textops over TextCore.tokens / shingles / gramHashes / shingleHashes /
  * topRunCount / twoGramCounts / classifierScore) against the declarative
  * HOF formulations they replaced — exact, on real documents and
  * adversarial strings (unicode, empties, punctuation-only, nulls, case
  * edges, UTF-8 byte boundaries, invalid UTF-8), under codegen with
  * fallback off (see [[CodegenOnly]]) and in lambda (interpreted)
  * position. */
class TextOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def adversarial: Seq[String] = Seq(
    null, "", " ", "   ", "a", "A", "abc", "ABC def GHI", "a b c d e",
    "...", "a.b.c", ".a.", "a.", ".a", "1 2 3", "a1b2c3",
    "Hello, World! 42 times", "ёЖik МИКС", "ümlaut Ökonomie STRASSE ß",
    "tab\tsep\nnewline\r\nwin", "dup dup dup DUP dup", "x  y   z",
    "£$%^&*()", "Ｆｕｌｌｗｉｄｔｈ１２３", "İstanbul ı dotless",
    "a-b_c~d", "0", "00 00 00", "word " * 50, "a b a b a b a b",
    "ΣΊΣΥΦΟΣ σίσυφος", "ss ß SS",
    // byte boundaries: ASCII glued to multi-byte characters, a character
    // whose lowercase is ASCII (Kelvin sign -> k), a 4-byte character, and
    // a string of non-ASCII separators only
    "xéy", "naïve", "\u212A", "\u212Aelvin 5\u212A", "a\uD83D\uDE00b",
    "\u00a0—…\u3000\uD83D\uDE00é")

  /** Rows of invalid UTF-8 (stray continuation bytes, truncated sequences,
    * 0xff), reaching the kernels as a binary column cast to string. */
  private def invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0x61, 0xff, 0x42, 0xc3, 0x78, 0xe2, 0x82, 0x20, 0x6f, 0x4b, 0x80),
    Array(0x80, 0x80, 0x41, 0x20, 0x62, 0xf0, 0x9f, 0x98),
    Array(0xc3, 0xa9, 0xc3, 0x7a, 0x31, 0xed, 0xa0, 0x80, 0x32)).map(_.map(_.toByte))

  private def docsDf: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")

  private def advDf: DataFrame = {
    import org.apache.spark.sql.types._
    val rows = adversarial.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row(i.toLong, t)
    }
    val raw = invalidUtf8.zipWithIndex.map { case (b, i) =>
      org.apache.spark.sql.Row((adversarial.size + i).toLong, b)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
      .unionByName(spark.createDataFrame(spark.sparkContext.parallelize(raw, 1),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("raw", BinaryType, nullable = false))))
        .select(col("doc_id"), col("raw").cast("string").as("text")))
  }

  private def assertColsEqual(df: DataFrame, nat: org.apache.spark.sql.Column,
                              hof: org.apache.spark.sql.Column, what: String): Unit = {
    val rows = df.select(col("doc_id"), nat.as("nat"), hof.as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"$what mismatch at doc_id=${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("TokensExpr == HOF tokenizer on real docs + adversarial strings") { CodegenOnly(spark) {
    for (df <- Seq(docsDf, advDf)) {
      assertColsEqual(df,
        graft.expr.textops.tokens_of(col("text")),
        HofRefs.tokensHof(col("text")), "tokens")
    }
  }}

  test("ShinglesExpr == HOF shingles (k=3 and k=8)") { CodegenOnly(spark) {
    for (df <- Seq(docsDf, advDf); k <- Seq(3, 8)) {
      assertColsEqual(df,
        graft.expr.textops.shingles_of(col("text"), k),
        HofRefs.shinglesHof(col("text"), k), s"shingles k=$k")
    }
  }}

  /** HOF reference of gram_hashes: positional grams of a token array,
    * joined then hashed per gram. */
  private def hofHashes(toks: Column, k: Int): Column = {
    val n = size(toks)
    val zipped = arrays_zip((0 until k).map(j => slice(toks, lit(j + 1), n - (k - 1))): _*)
    val joined = transform(zipped,
      s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*))
    val grams = when(n >= k, joined).otherwise(array().cast("array<string>"))
    transform(grams, g => HofRefs.md5Hash60(g))
  }

  test("GramHashes == positionalGrams + md5Hash60 (k=8)") { CodegenOnly(spark) {
    for (df <- Seq(docsDf, advDf); k <- Seq(2, 8)) {
      assertColsEqual(df,
        graft.expr.textops.gram_hashes(graft.expr.textops.tokens_of(col("text")), k),
        hofHashes(HofRefs.tokensHof(col("text")), k), s"gram_hashes k=$k")
    }
  }}

  test("TopRunCount / TwoGramCounts == HOF repetition pieces") { CodegenOnly(spark) {
    val (_, natTop, natN2, natDup) = graft.text.TextAnalysis.repetitionPieces(col("text"))
    val (_, hofTop, hofN2, hofDup) =
      HofRefs.repetitionPiecesHof(HofRefs.tokensHof(col("text")))
    for (df <- Seq(docsDf, advDf)) {
      assertColsEqual(df, natTop, hofTop, "top_run_count")
      assertColsEqual(df, natN2, hofN2, "n_2grams")
      assertColsEqual(df, natDup, hofDup, "n_dup_2grams")
    }
  }}

  test("ShingleHashes == explode(shingles)+md5Hash60 multiset (k=2 and k=8)") { CodegenOnly(spark) {
    for (df <- Seq(docsDf, advDf); k <- Seq(2, 8)) {
      assertColsEqual(df,
        graft.expr.textops.shingle_hashes(col("text"), k),
        transform(HofRefs.shinglesHof(col("text"), k),
          g => HofRefs.md5Hash60(g)), s"shingle_hashes k=$k")
    }
  }}

  test("ClassifierScore == HOF hashClassifierScore (nBuckets 2^10 and 2^20)") { CodegenOnly(spark) {
    for (src <- Seq(docsDf, advDf); nb <- Seq(1 << 10, 1 << 20)) {
      val nat = graft.text.TextAnalysis.hashClassifierScore(src, "doc_id", "text", nb)
      val hof = HofRefs.hashClassifierScoreHof(src, "doc_id", "text", nb)
      val n = nat.collect().map(r => r.get(0) -> (r.get(1), r.get(2), r.get(3))).toMap
      val h = hof.collect().map(r => r.get(0) -> (r.get(1), r.get(2), r.get(3))).toMap
      assert(n.nonEmpty && n.keySet == h.keySet)
      n.foreach { case (k, v) =>
        assert(v == h(k), s"classifier mismatch at doc_id=$k nb=$nb: $v vs ${h(k)}") }
      assert(nat.schema.map(f => (f.name, f.dataType)) ==
        hof.schema.map(f => (f.name, f.dataType)))
    }
  }}

  test("classifier_score of a token array with a null element == HOF fold") { CodegenOnly(spark) {
    // the HOF's concat("w:", null) nulls its fold: score_int null, n_tokens
    // kept — as a folded literal (eval) and as a column (codegen)
    import org.apache.spark.sql.types._
    val rows = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(Seq("a", null))), 1)
    val oneRow = spark.createDataFrame(rows,
      StructType(Seq(StructField("t", ArrayType(StringType, containsNull = true)))))
    for (toks <- Seq(array(lit("a"), lit(null).cast("string")), col("t"))) {
      val r = oneRow.select(
        graft.expr.textops.classifier_score(toks, 1024L).as("cs"),
        HofRefs.classifierFoldHof(toks, 1024L).as("hof"))
        .collect()(0)
      assert(r.getStruct(0).getLong(0) == 2L)
      assert(r.getStruct(0).isNullAt(1) && r.isNullAt(1), r)
    }
  }}

  test("gram_hashes / top_run_count / two_gram_counts of token arrays with null elements == HOF") { CodegenOnly(spark) {
    // the HOFs' concat_ws leaves a null token out of its gram, and in the
    // top-run fold a null never equals the previous token — checked as
    // folded literals (interpreted eval) and as a column (codegen)
    import org.apache.spark.sql.types._
    val arrays: Seq[Seq[String]] = Seq(Seq("a", null), Seq(null), Seq(null, null, null),
      Seq("b", null, "b", "a", null, "b"), Seq("x", "y", null, "x", "y", null, "x", "y"))
    def check(df: DataFrame, toks: Column): Unit = {
      val (_, hofTop, hofN2, hofDup) = HofRefs.repetitionPiecesHof(toks)
      val tg = graft.expr.textops.two_gram_counts(toks)
      assertColsEqual(df, graft.expr.textops.top_run_count(toks), hofTop, "top_run_count")
      assertColsEqual(df, tg.getField("n2"), hofN2, "n_2grams")
      assertColsEqual(df, tg.getField("ndup"), hofDup, "n_dup_2grams")
      for (k <- Seq(2, 3))
        assertColsEqual(df, graft.expr.textops.gram_hashes(toks, k), hofHashes(toks, k),
          s"gram_hashes k=$k")
    }
    val rows = arrays.zipWithIndex.map { case (a, i) => org.apache.spark.sql.Row(i.toLong, a) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("t", ArrayType(StringType, containsNull = true)))))
    check(df, col("t"))
    val oneRow = spark.range(1).select(col("id").as("doc_id"))
    arrays.foreach(a => check(oneRow, array(a.map(x => lit(x).cast("string")): _*)))
  }}

  test("interpreted (lambda) path matches codegen for tokens/shingles") { CodegenOnly(spark) {
    // evaluate the native expressions INSIDE a transform lambda (eval path)
    val df = docsDf.limit(50).unionByName(advDf)
    val viaLambda = df
      .withColumn("one", array(col("text")))
      .withColumn("tk", transform(col("one"), t => graft.expr.textops.tokens_of(t)))
      .withColumn("sh", transform(col("one"), t => graft.expr.textops.shingles_of(t, 3)))
      .select(col("doc_id"), element_at(col("tk"), 1).as("tk1"),
        element_at(col("sh"), 1).as("sh1"))
    val direct = df.select(col("doc_id"),
      graft.expr.textops.tokens_of(col("text")).as("tk1"),
      graft.expr.textops.shingles_of(col("text"), 3).as("sh1"))
    val l = viaLambda.collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    val d = direct.collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(l.keySet == d.keySet)
    l.foreach { case (k, v) => assert(v == d(k), s"lambda-vs-codegen mismatch at doc_id=$k") }
  }}
}
