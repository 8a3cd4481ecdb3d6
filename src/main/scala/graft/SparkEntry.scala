package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expr.functions.parse_number

/**
 * Driver contract (see SURVEY.md §7): one [[SparkEntry.Query]] per
 * implemented operator family in [[SparkEntry.registry]], each with its
 * DuckDB oracle. Most oracles are SQL replicas of the Spark plan; the
 * engine-level queries (q18/q19 7-parser turn extraction, q20 WRatio
 * matching) read committed golden parquet (`goldenOracleSql`).
 */
object SparkEntry {

  /** One registry entry: the Spark builder over an sf dir, its DuckDB
    * oracle (statements split on `;\n`), and whether graft.Bench times it. */
  final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                         oracleSql: String, benched: Boolean)

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** sf scale factor parsed from the dir name (sf0.01 -> 0.01). */
  private[graft] def sfOf(dir: String): Double =
    "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.01)

  // ---- the text primitives as the oracles spell them in DuckDB SQL ---------
  /** `tokens_of`: the lowercase [a-z0-9] runs of `c`. */
  private def tokSql(c: String): String =
    s"list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), x -> x != '')"

  /** The whitespace split of the trimmed `c` (its length: the ws token count). */
  private def wsSql(c: String): String = raw"string_split_regex(trim($c), '\s+')"

  /** `Dedup.normText`: whitespace runs to one space, trimmed, lowercased. */
  private def normSql(c: String): String = raw"lower(trim(regexp_replace($c, '\s+', ' ', 'g')))"

  /** Flagship: full 7-parser extraction over deterministic synthetic
    * transcripts at sf=0.001 scale; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val turns = graft.io.Transcripts.generateDF(spark, 1000L)
    Pipeline.extractItems(turns)
  }

  // ---- P1: number parsing (custom Catalyst expression) --------------------
  private def qParseNumber(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val sRu = concat(col("l_orderkey").cast("string"), lit(","),
      lpad((col("l_suppkey") * 7 % 100).cast("string"), 2, "0"))
    val sGrouped = concat((col("l_orderkey") % 10).cast("string"), lit(" "),
      lpad((col("l_partkey") % 1000).cast("string"), 3, "0"), lit(",5"))
    val sUs = concat((col("l_orderkey") % 100).cast("string"), lit(","),
      lpad((col("l_partkey") % 1000).cast("string"), 3, "0"), lit(".25"))
    val sNoise = concat(lit("цена "), (col("l_suppkey") % 100).cast("string"), lit(" руб"))
    val sJunk = lit("абв")
    li.select(col("l_orderkey"), col("l_linenumber"),
        parse_number(sRu).as("p_ru"),
        parse_number(sGrouped).as("p_grouped"),
        parse_number(sUs).as("p_us"),
        parse_number(sNoise).as("p_noise"),
        parse_number(sJunk).as("p_junk"))
  }

  private val oParseNumber =
    """WITH raw AS (
      |  SELECT l_orderkey, l_linenumber,
      |    l_orderkey::VARCHAR || ',' || lpad(((l_suppkey*7) % 100)::VARCHAR, 2, '0') AS s_ru,
      |    (l_orderkey % 10)::VARCHAR || ' ' || lpad((l_partkey % 1000)::VARCHAR, 3, '0') || ',5' AS s_grouped,
      |    (l_orderkey % 100)::VARCHAR || ',' || lpad((l_partkey % 1000)::VARCHAR, 3, '0') || '.25' AS s_us,
      |    'цена ' || (l_suppkey % 100)::VARCHAR || ' руб' AS s_noise,
      |    'абв' AS s_junk
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber,
      |  pnum(s_ru) AS p_ru, pnum(s_grouped) AS p_grouped, pnum(s_us) AS p_us,
      |  pnum(s_noise) AS p_noise, pnum(s_junk) AS p_junk
      |FROM raw""".stripMargin

  /** The P1 algorithm spelled out in DuckDB SQL, used as a macro body. */
  private val pnumMacro =
    """CREATE OR REPLACE MACRO pnum(s) AS (
      |  WITH c1 AS (SELECT regexp_replace(trim(s), '[^0-9.,\s-]', '', 'g') AS c),
      |  c2 AS (SELECT CASE
      |      WHEN contains(c, ',') AND contains(c, '.') THEN replace(c, ',', '')
      |      WHEN contains(c, ',') AND len(string_split(c, ',')) = 2
      |           AND len(string_split(c, ',')[2]) <= 2 THEN replace(c, ',', '.')
      |      WHEN contains(c, ',') THEN replace(c, ',', '')
      |      ELSE c END AS d FROM c1)
      |  SELECT try_cast(replace(d, ' ', '') AS DOUBLE) FROM c2)""".stripMargin

  // ---- T1: line explode with stable line_idx ------------------------------
  /** Each document's " data "-separated segments with their 0-based index:
    * its lines (q03/q04), or the turns of a documents-derived transcript
    * (conv = doc, turn = segment — q64/q69). */
  private def docSegments(spark: SparkSession, dir: String, idCol: String, idxCol: String,
                          segCol: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id").as(idCol), posexplode(split(col("text"), " data ")).as(Seq(idxCol, segCol)))
      .select(col(idCol), col(idxCol).cast("long").as(idxCol), col(segCol))

  /** [[docSegments]] in DuckDB SQL. */
  private def docSegmentsSql(idCol: String, idxCol: String, segCol: String): String =
    s"""SELECT doc_id AS $idCol, i - 1 AS $idxCol, arr[i] AS $segCol
       |  FROM (SELECT doc_id, string_split(text, ' data ') AS arr FROM documents),
       |       unnest(generate_series(1, len(arr))) AS g(i)""".stripMargin

  private def qLineExplode(spark: SparkSession, dir: String): DataFrame =
    docSegments(spark, dir, "doc_id", "line_idx", "line")

  private val oLineExplode = docSegmentsSql("doc_id", "line_idx", "line")

  // ---- F6: line prefilters -------------------------------------------------
  private def qLineFilters(spark: SparkSession, dir: String): DataFrame =
    qLineExplode(spark, dir)
      .where(length(col("line")) >= 10 &&
        col("line").rlike("[a-z]") && !col("line").rlike("^[0-9\\s.,]+$"))
      .select(col("doc_id"), col("line_idx"), length(col("line")).cast("long").as("line_len"))

  private val oLineFilters =
    raw"""WITH e AS (${docSegmentsSql("doc_id", "line_idx", "line")})
         |SELECT doc_id, line_idx, len(line)::BIGINT AS line_len FROM e
         |WHERE len(line) >= 10 AND regexp_matches(line, '[a-z]')
         |  AND NOT regexp_matches(line, '^[0-9\s.,]+$$')""".stripMargin

  // ---- R1: regex item extraction over constructed invoice lines -----------
  private def qRegexExtract(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    val line = concat(col("p_name"), lit("  "), col("p_size").cast("string"),
      lit(" шт  "), col("p_retailprice").cast("string"), lit(" руб"))
    val pat = "^(.+?)\\s+([0-9]+) шт\\s+([0-9.]+) руб$"
    p.select(col("p_partkey"),
        regexp_extract(line, pat, 1).as("name"),
        regexp_extract(line, pat, 2).cast("long").as("qty"),
        regexp_extract(line, pat, 3).cast("double").as("price"))
      .withColumn("total", col("qty") * col("price"))
  }

  private val oRegexExtract =
    """WITH l AS (SELECT p_partkey,
      |  p_name || '  ' || p_size::VARCHAR || ' шт  ' || p_retailprice::VARCHAR || ' руб' AS line
      |  FROM part)
      |SELECT p_partkey,
      |  regexp_extract(line, '^(.+?)\s+([0-9]+) шт\s+([0-9.]+) руб$', 1) AS name,
      |  regexp_extract(line, '^(.+?)\s+([0-9]+) шт\s+([0-9.]+) руб$', 2)::BIGINT AS qty,
      |  regexp_extract(line, '^(.+?)\s+([0-9]+) шт\s+([0-9.]+) руб$', 3)::DOUBLE AS price,
      |  regexp_extract(line, '^(.+?)\s+([0-9]+) шт\s+([0-9.]+) руб$', 2)::BIGINT *
      |    regexp_extract(line, '^(.+?)\s+([0-9]+) шт\s+([0-9.]+) руб$', 3)::DOUBLE AS total
      |FROM l""".stripMargin

  // ---- A1: first-occurrence-wins dedup window -----------------------------
  private def qDedupFirstWins(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_partkey", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
    t(spark, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_partkey"), col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
  }

  private val oDedupFirstWins =
    """SELECT l_partkey, l_quantity, l_orderkey, l_linenumber FROM (
      |  SELECT l_partkey, l_quantity, l_orderkey, l_linenumber,
      |    row_number() OVER (PARTITION BY l_partkey, l_quantity
      |                       ORDER BY l_orderkey, l_linenumber) AS rn
      |  FROM lineitem) WHERE rn = 1""".stripMargin

  // ---- A2: per-group stats -------------------------------------------------
  private def qGroupStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum("l_quantity").as("sum_qty"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        countDistinct("l_partkey").as("n_parts"))

  private val oGroupStats =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty,
      |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
      |  count(DISTINCT l_partkey) AS n_parts
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---- A3: deterministic argmax (best-of selection shape) -----------------
  private def qBestArgmax(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(desc("l_quantity"), desc("l_suppkey"), desc("l_orderkey"), desc("l_linenumber"))
    t(spark, dir, "lineitem")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("l_returnflag", "l_quantity", "l_suppkey", "l_orderkey", "l_linenumber")
  }

  private val oBestArgmax =
    """SELECT l_returnflag, l_quantity, l_suppkey, l_orderkey, l_linenumber FROM (
      |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |    ORDER BY l_quantity DESC, l_suppkey DESC, l_orderkey DESC, l_linenumber DESC) AS rn
      |  FROM lineitem) WHERE rn = 1""".stripMargin

  // ---- A4: doc-type keyword scores ----------------------------------------
  private def qDoctypeScores(spark: SparkSession, dir: String): DataFrame = {
    def hit(word: String): Column = (instr(col("text"), word) > 0).cast("int")
    val c1 = hit("spark"); val c2 = hit("join"); val c3 = hit("stream"); val c4 = hit("vector")
    val total = (c1 + c2 + c3 + c4).cast("double")
    t(spark, dir, "documents").select(col("doc_id"),
      (c1 + c2 + c3 + c4).cast("long").as("hits"),
      when(total > 0, c1 / total).otherwise(0.0).as("score_spark"),
      when(total > 0, c2 / total).otherwise(0.0).as("score_join"),
      when(total > 0, c3 / total).otherwise(0.0).as("score_stream"),
      when(total > 0, c4 / total).otherwise(0.0).as("score_vector"))
  }

  private val oDoctypeScores =
    """WITH h AS (SELECT doc_id,
      |  contains(text,'spark')::INT AS c1, contains(text,'join')::INT AS c2,
      |  contains(text,'stream')::INT AS c3, contains(text,'vector')::INT AS c4
      |  FROM documents)
      |SELECT doc_id, (c1+c2+c3+c4)::BIGINT AS hits,
      |  CASE WHEN c1+c2+c3+c4 > 0 THEN c1 / (c1+c2+c3+c4)::DOUBLE ELSE 0.0 END AS score_spark,
      |  CASE WHEN c1+c2+c3+c4 > 0 THEN c2 / (c1+c2+c3+c4)::DOUBLE ELSE 0.0 END AS score_join,
      |  CASE WHEN c1+c2+c3+c4 > 0 THEN c3 / (c1+c2+c3+c4)::DOUBLE ELSE 0.0 END AS score_stream,
      |  CASE WHEN c1+c2+c3+c4 > 0 THEN c4 / (c1+c2+c3+c4)::DOUBLE ELSE 0.0 END AS score_vector
      |FROM h""".stripMargin

  // ---- O2: per-key top-k ---------------------------------------------------
  private def qTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey").orderBy(desc("l_extendedprice"), asc("l_linenumber"))
    t(spark, dir, "lineitem")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select("l_orderkey", "rank", "l_linenumber", "l_extendedprice")
  }

  private val oTopK =
    """SELECT l_orderkey, rank, l_linenumber, l_extendedprice FROM (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_extendedprice DESC, l_linenumber) AS rank
      |  FROM lineitem) WHERE rank <= 3""".stripMargin

  // ---- J1 (oracle variant): levenshtein-ratio top-3 similarity join -------
  private val candidateProducts: Seq[(Int, String)] = Seq(
    1 -> "small widget", 2 -> "large bolt", 3 -> "economy gadget",
    4 -> "standard fitting", 5 -> "promo anodized tube", 6 -> "cold rolled steel")

  /** q11/q41's scorer and selection: the SQL-expressible levenshtein
    * ratio of the lowercased names, then `Matching.rankTop` (top 3 per
    * part at score >= 40, auto at >= 90). */
  private def levTop3(pairs: DataFrame): DataFrame = {
    val la = lower(col("p_name")); val lb = lower(col("cand_name"))
    val score = lit(100.0) * (lit(1.0) - levenshtein(la, lb).cast("double") /
      greatest(length(la), length(lb)).cast("double"))
    graft.matching.Matching.rankTop(pairs.withColumn("score", score), Seq("p_partkey"),
        "cand_id", limit = 3, suggest = 40.0, auto = 90.0, autoCol = "is_auto")
      .withColumn("rank", col("rank").cast("long"))
  }

  private def qFuzzyTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cands = candidateProducts.toDF("cand_id", "cand_name")
    levTop3(t(spark, dir, "part").select("p_partkey", "p_name").crossJoin(broadcast(cands)))
      .select("p_partkey", "rank", "cand_id", "score", "is_auto")
  }

  /** [[candidateProducts]] as the `cands` CTE. */
  private def candsCte: String = candidateProducts.map { case (id, name) => s"($id,'$name')" }
    .mkString("cands(cand_id, cand_name) AS (VALUES ", ", ", ")")

  /** [[levTop3]] in DuckDB SQL over the (p_partkey, p_name, cand_id,
    * cand_name) rows of `src`: `top3` = (p_partkey, rank, cand_id, score). */
  private def levTop3Ctes(src: String): String =
    s"""scored AS (
       |  SELECT p_partkey, cand_id,
       |    100.0 * (1.0 - levenshtein(lower(p_name), lower(cand_name)) /
       |      greatest(len(lower(p_name)), len(lower(cand_name)))::DOUBLE) AS score
       |  FROM $src),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY p_partkey
       |    ORDER BY score DESC, cand_id) AS rank FROM scored),
       |top3 AS (SELECT p_partkey, rank, cand_id, score FROM ranked
       |  WHERE rank <= 3 AND score >= 40.0)""".stripMargin

  private val oFuzzyTopK =
    s"""WITH $candsCte, ${levTop3Ctes("part, cands")}
       |SELECT *, score >= 90.0 AS is_auto FROM top3""".stripMargin

  // ---- J1 (blocked variant): token + char-3-gram blocking before scoring --
  // The large-catalog matcher shape (graft.matching.Matching.topMatchesBlocked)
  // with the SQL-expressible levenshtein-ratio scorer so DuckDB can replicate
  // the whole chain: blocking keys = lowercase alnum tokens UNION each
  // token's character 3-grams (short tokens stand in for their own grams —
  // the dual-key scheme that recalls in-token typo/transliteration pairs
  // sharing no whole word), equi-join, score only co-blocked pairs,
  // per-item top-k — Matching's own co-blocking and rank steps.
  private def qBlockedMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cands = candidateProducts.toDF("cand_id", "cand_name")
    val parts = t(spark, dir, "part").select("p_partkey", "p_name")
    def blockKeys(c: Column): Column = {
      val toks = graft.expr.textops.tokens_of(c)
      val grams = flatten(transform(toks, tok =>
        transform(sequence(lit(1), greatest(length(tok) - 2, lit(1))),
          i => tok.substr(i, lit(3)))))
      array_distinct(concat(toks, grams))
    }
    val blocked = graft.matching.Matching.coBlocked(parts, "p_name", cands, "cand_id",
        "cand_name", blockKeys)
      .join(broadcast(cands), Seq("cand_id"))
    levTop3(blocked).select("p_partkey", "rank", "cand_id", "score")
  }

  private val oBlockedMatch = {
    // one row per (id, name, block key): the name's distinct tokens and
    // each token's char 3-grams (a short token stands in for its own)
    def keysSql(id: String, name: String, src: String): String =
      s"""SELECT $id, $name, unnest(list_distinct(tk ||
         |    flatten([[t[i:i+2] FOR i IN range(1, greatest(len(t)-2, 1)+1)] FOR t IN tk]))) AS tok
         |  FROM (SELECT $id, $name, ${tokSql(name)} AS tk FROM $src)""".stripMargin
    s"""WITH $candsCte,
       |pt AS (${keysSql("p_partkey", "p_name", "part")}),
       |ct AS (${keysSql("cand_id", "cand_name", "cands")}),
       |blocked AS (SELECT DISTINCT p_partkey, p_name, cand_id, cand_name
       |            FROM pt JOIN ct USING (tok)),
       |${levTop3Ctes("blocked")}
       |SELECT * FROM top3""".stripMargin
  }

  // ---- dedup: exact --------------------------------------------------------
  private def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.exact(t(spark, dir, "documents"), "doc_id", "text")

  private val oDedupExact =
    s"""SELECT md5(${normSql("text")}) AS norm_hash,
       |  min(doc_id) AS keeper, count(*) AS n_docs
       |FROM documents GROUP BY 1""".stripMargin

  // ---- dedup: exact n-gram jaccard (bounded pair range) -------------------
  private def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.ngramJaccard(t(spark, dir, "documents"), "doc_id", "text",
      k = 3, maxId = 120L, threshold = 0.02)

  // ---- dedup: near-dup clusters (connected components over pairs) ---------
  private def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dedupClusters(
      graft.dedup.Dedup.ngramJaccard(t(spark, dir, "documents"), "doc_id", "text",
        k = 3, maxId = 120L, threshold = 0.02).select("id_a", "id_b"))

  private val oDedupClusters =
    s"""WITH RECURSIVE ${clusterCtes("documents WHERE doc_id < 120", threshold = 0.02)}
       |SELECT doc_id, cluster_id FROM clusters""".stripMargin

  // ---- text analysis -------------------------------------------------------
  private def qLangId(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.langId(t(spark, dir, "documents"))
      .select("doc_id", "hits_en", "hits_de", "hits_fr", "hits_es", "pred_lang")

  /** q14's language ID: `lang` (doc_id, the four stopword hit counts,
    * pred_lang = the most-hit language, ties to the earlier, else 'und'). */
  private def langCtes: String =
    """lh AS (SELECT doc_id,
      |  (contains(' '||lower(text)||' ',' the ')::INT + contains(' '||lower(text)||' ',' of ')::INT
      |    + contains(' '||lower(text)||' ',' and ')::INT)::BIGINT AS hits_en,
      |  (contains(' '||lower(text)||' ',' der ')::INT + contains(' '||lower(text)||' ',' und ')::INT
      |    + contains(' '||lower(text)||' ',' die ')::INT)::BIGINT AS hits_de,
      |  (contains(' '||lower(text)||' ',' le ')::INT + contains(' '||lower(text)||' ',' la ')::INT
      |    + contains(' '||lower(text)||' ',' et ')::INT)::BIGINT AS hits_fr,
      |  (contains(' '||lower(text)||' ',' el ')::INT + contains(' '||lower(text)||' ',' los ')::INT
      |    + contains(' '||lower(text)||' ',' y ')::INT)::BIGINT AS hits_es
      | FROM documents),
      |lang AS (SELECT *,
      |  CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en > 0 THEN 'en'
      |       WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de > 0 THEN 'de'
      |       WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
      |       WHEN hits_es > 0 THEN 'es'
      |       ELSE 'und' END AS pred_lang
      |  FROM lh)""".stripMargin

  private val oLangId = s"WITH $langCtes\nSELECT * FROM lang"

  private def qQuality(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.qualityScore(t(spark, dir, "documents"))
      .select("doc_id", "n_chars", "n_words", "avg_word_len", "stopword_hits", "is_quality")

  /** q32's quality statistics: `q` (doc_id, n_chars, n_words, avg_word_len,
    * stopword_hits); [[isQualitySql]] is its gate. */
  private def qualityCte: String =
    s"""q AS (SELECT doc_id,
       |  len(text)::BIGINT AS n_chars,
       |  len(${wsSql("text")})::BIGINT AS n_words,
       |  len(replace(trim(text), ' ', ''))::DOUBLE / len(${wsSql("text")})::DOUBLE AS avg_word_len,
       |  (contains(' '||lower(text)||' ', ' the ')::INT +
       |   contains(' '||lower(text)||' ', ' a ')::INT +
       |   contains(' '||lower(text)||' ', ' of ')::INT)::BIGINT AS stopword_hits
       | FROM documents)""".stripMargin

  private def isQualitySql = "q.n_words >= 20 AND q.avg_word_len >= 2.0 AND q.avg_word_len <= 12.0"

  private val oQuality = s"WITH $qualityCte\nSELECT *, $isQualitySql AS is_quality FROM q"

  /** Stratified variant: per-language keep rates over the documents table
    * (upsample 'de', downsample 'en' — the corpus-mixing shape). */
  private def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.stratifiedSample(
      t(spark, dir, "documents").select("doc_id", "lang", "n_chars"),
      "doc_id", "lang", Map("en" -> 32, "de" -> 192), defaultOutOf256 = 64)

  /** q45's per-language md5 gate (keep 'de' at 192/256, 'en' at 32/256,
    * others at 64/256), a predicate over doc_id and lang. */
  private def stratGateSql =
    "substr(md5(doc_id::VARCHAR), 1, 2) <\n  " +
      "(CASE WHEN lang = 'de' THEN 'c0' WHEN lang = 'en' THEN '20' ELSE '40' END)"

  private val oStratifiedSample = s"SELECT doc_id, lang, n_chars FROM documents\nWHERE $stratGateSql"

  /** Sequence packing: concat-then-chunk into 512-token packs, 8 shards. */
  private def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.packSequences(
      t(spark, dir, "documents"), "doc_id", "text", packTokens = 512, nShards = 8)

  /** q46's packing of the (doc_id, text) rows of `src`: CTEs `pt`, `po`
    * and the final SELECT of the pack segments. */
  private def packSql(src: String): String =
    s"""pt AS (SELECT doc_id, doc_id % 8 AS shard, len(${wsSql("text")})::BIGINT AS n_tokens
       |  FROM $src),
       |po AS (SELECT doc_id, shard, n_tokens,
       |    (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens)::BIGINT AS tok_start
       |  FROM pt)
       |SELECT shard, pack_id, doc_id,
       |  greatest(tok_start, pack_id*512) - tok_start AS seg_start_in_doc,
       |  least(tok_start + n_tokens, (pack_id+1)*512) - greatest(tok_start, pack_id*512) AS seg_len
       |FROM po, unnest(generate_series(tok_start//512, (tok_start + n_tokens - 1)//512)) AS u(pack_id)""".stripMargin

  private val oPackSequences = s"WITH ${packSql("documents")}"

  /** Whole-doc greedy packing: docs never split across context windows. */
  private def qPackWhole(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.packWholeDocs(
      t(spark, dir, "documents"), "doc_id", "text", packTokens = 512, nShards = 8)

  /** The greedy whole-doc fold as a per-shard recursive CTE over doc rank,
    * over the (doc_id, shard, n = token count) rows of `src`: CTEs `d`, `r`
    * and the final SELECT of each doc's pack (q63, q78). */
  private def packWholeSql(src: String, packTokens: Int): String =
    s"""d AS (
       |  SELECT doc_id, shard, n,
       |         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rk
       |  FROM $src),
       |r AS (
       |  SELECT doc_id, shard, n, rk, 0::BIGINT AS pack_id, 0::BIGINT AS pack_offset,
       |         n AS fill
       |  FROM d WHERE rk = 1
       |  UNION ALL
       |  SELECT d.doc_id, d.shard, d.n, d.rk,
       |    CASE WHEN r.fill > 0 AND r.fill + d.n > $packTokens THEN r.pack_id + 1 ELSE r.pack_id END,
       |    CASE WHEN r.fill > 0 AND r.fill + d.n > $packTokens THEN 0::BIGINT ELSE r.fill END,
       |    CASE WHEN r.fill > 0 AND r.fill + d.n > $packTokens THEN d.n ELSE r.fill + d.n END
       |  FROM r JOIN d ON d.shard = r.shard AND d.rk = r.rk + 1)
       |SELECT doc_id, shard, n AS n_tokens, pack_id, pack_offset, n > $packTokens AS oversize
       |FROM r""".stripMargin

  private val oPackWhole =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, doc_id % 8 AS shard, len(${wsSql("text")})::BIGINT AS n FROM documents),
       |${packWholeSql("t", packTokens = 512)}""".stripMargin

  /** Transcript boilerplate-turn strip: turns repeated across >=2
    * conversations are cut from the assembled conversation. The transcript
    * shape is derived deterministically from `documents` (conv = doc, turn
    * = " data "-separated segment — the corpus' line structure, same as
    * q03/q38) so the oracle is pure SQL. */
  private def qStripBoilerTurns(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.stripBoilerplateTurns(
      docSegments(spark, dir, "conv_id", "turn_idx", "text"), "conv_id", "turn_idx", "text",
      minConvs = 2)

  private val oStripBoilerTurns =
    s"""WITH turns AS (${docSegmentsSql("conv_id", "turn_idx", "text")}),
       |n AS (SELECT conv_id, turn_idx, text, md5(${normSql("text")}) AS h FROM turns),
       |pc AS (SELECT h, conv_id FROM n GROUP BY h, conv_id),
       |cc AS (SELECT h, count(*)::BIGINT AS nconv FROM pc GROUP BY 1),
       |f AS (SELECT n.conv_id, n.turn_idx, n.text, cc.nconv >= 2 AS boiler
       |  FROM n JOIN cc USING (h))
       |SELECT conv_id, count(*)::BIGINT AS n_turns,
       |  sum(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT AS n_boiler_turns,
       |  coalesce(string_agg(CASE WHEN NOT boiler THEN text END, chr(10) ORDER BY turn_idx), '') AS clean_text
       |FROM f GROUP BY conv_id""".stripMargin

  /** Exact per-source length-quantile profile (nearest-rank p50/p90/p99). */
  private def qLengthProfile(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.lengthProfile(t(spark, dir, "documents"), "source", "text")

  private val oLengthProfile =
    s"""WITH d AS (SELECT source,
       |    len(${wsSql("text")})::BIGINT AS n FROM documents),
       |vc AS (SELECT source, n, count(*)::BIGINT AS cnt FROM d GROUP BY 1, 2),
       |c AS (SELECT source, n, cnt,
       |  sum(cnt) OVER (PARTITION BY source) AS total,
       |  sum(cnt) OVER (PARTITION BY source ORDER BY n
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM vc)
       |SELECT source, max(total)::BIGINT AS n_docs,
       |  min(CASE WHEN cum*100 >= total*50 THEN n END) AS p50_tokens,
       |  min(CASE WHEN cum*100 >= total*90 THEN n END) AS p90_tokens,
       |  min(CASE WHEN cum*100 >= total*99 THEN n END) AS p99_tokens
       |FROM c GROUP BY source""".stripMargin

  /** Int8 scalar quantization of the embedding corpus (digest compare). */
  private def qQuantize(spark: SparkSession, dir: String): DataFrame =
    graft.ann.Quantize.int8(t(spark, dir, "embeddings"))
      .select("vec_id", "scale", "n_sat", "code_sum", "code_md5")

  private val oQuantize =
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |    list_reduce([0.0::DOUBLE] || [abs(x::DOUBLE) FOR x IN embedding], (a,b) -> greatest(a,b)) AS amax
      |  FROM embeddings),
      |s AS (SELECT vec_id, embedding, CASE WHEN amax > 0 THEN amax/127.0 ELSE 1.0 END AS scale FROM q),
      |c AS (SELECT vec_id, scale, [floor(x::DOUBLE / scale + 0.5)::INT FOR x IN embedding] AS codes FROM s)
      |SELECT vec_id, scale,
      |  len(list_filter(codes, c -> abs(c) = 127))::BIGINT AS n_sat,
      |  list_reduce([0::BIGINT] || [c::BIGINT FOR c IN codes], (a,b) -> a+b) AS code_sum,
      |  md5(array_to_string(codes, ',')) AS code_md5
      |FROM c""".stripMargin

  /** Source blocklist filter + per-source survivor stats (C4 badlist). */
  private def qSourceFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val block = Seq("src3", "src7", "src11").toDF("blocked_source")
    graft.text.CorpusAnalysis
      .blocklistFilter(t(spark, dir, "documents"), "source", block, "blocked_source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        countDistinct("lang").as("n_langs"))
  }

  private val oSourceFilter =
    """SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
      |       count(DISTINCT lang) AS n_langs
      |FROM documents WHERE source NOT IN ('src3','src7','src11')
      |GROUP BY source""".stripMargin

  /** Gap sessionization via the NATIVE session_window operator (the
    * streaming-capable formulation of q17; merges at exactly-gap, splits
    * strictly at gap > 30 min — verified against batch session_window by
    * StreamingSpec's boundary fixture; window end = last event + gap). */
  private def qSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp")) // TIMESTAMP_NTZ; session tz is UTC
    ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))
  }

  private val oSessionWindow =
    """WITH m AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT user_id, ts,
      |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      |      FROM m)
      |SELECT user_id, min(epoch_us(ts)) AS session_start_us,
      |       max(epoch_us(ts)) + 1800000000 AS session_end_us,
      |       count(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Span-level duplicated-text coverage (substring-dedup shape). */
  private def qDupSpans(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dupSpans(t(spark, dir, "documents"), "doc_id", "text",
      k = 8, minCount = 2)

  private def qRemoveDupSpans(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.removeDupSpans(t(spark, dir, "documents"), "doc_id", "text",
      k = 8, minCount = 2)

  /** q51's duplicated-span islands: `t` (doc_id, tk), then `s` (doc_id,
    * n_tokens, island, st, en) — the merged [st, en) token ranges covered
    * by 8-grams that occur at least twice in the corpus. */
  private def dupSpanCtes: String =
    s"""t AS (SELECT doc_id, ${tokSql("text")} AS tk FROM documents),
       |g AS (
       |  SELECT doc_id, len(tk)::BIGINT AS n_tokens, u.pos,
       |    ('0x' || substr(md5(array_to_string(list_slice(tk, u.pos + 1, u.pos + 8), ' ')), 1, 15))::BIGINT AS h
       |  FROM t, unnest(range(0, len(tk) - 8 + 1)) AS u(pos)
       |  WHERE len(tk) >= 8),
       |f AS (
       |  SELECT doc_id, n_tokens, pos FROM (
       |    SELECT doc_id, n_tokens, pos, count(*) OVER (PARTITION BY h) AS cnt FROM g)
       |  WHERE cnt >= 2),
       |m AS (
       |  SELECT doc_id, n_tokens, pos,
       |    max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end
       |  FROM f),
       |i AS (
       |  SELECT doc_id, n_tokens, pos,
       |    sum(CASE WHEN max_end IS NULL OR pos > max_end THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM m),
       |s AS (
       |  SELECT doc_id, n_tokens, island, min(pos) AS st, max(pos + 8) AS en
       |  FROM i GROUP BY doc_id, n_tokens, island)""".stripMargin

  private val oDupSpans =
    s"""WITH $dupSpanCtes
       |SELECT doc_id, n_tokens, count(*) AS n_dup_spans, sum(en - st)::BIGINT AS dup_tokens
       |FROM s GROUP BY doc_id, n_tokens""".stripMargin

  /** q61: q51's island CTEs, then rebuild the kept token stream — a token
    * index survives iff no merged island [st,en) covers it. */
  private val oRemoveDupSpans =
    s"""WITH $dupSpanCtes,
       |tok AS (
       |  SELECT t.doc_id, u.i, tk[u.i + 1] AS tok
       |  FROM t, unnest(range(0, len(tk))) AS u(i)),
       |kept AS (
       |  SELECT tok.doc_id, string_agg(tok.tok, ' ' ORDER BY tok.i) AS clean_text,
       |    count(*)::BIGINT AS kept_tokens
       |  FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM s
       |    WHERE s.doc_id = tok.doc_id AND tok.i >= s.st AND tok.i < s.en)
       |  GROUP BY tok.doc_id)
       |SELECT t.doc_id, len(tk)::BIGINT AS n_tokens,
       |  coalesce(kept.kept_tokens, 0)::BIGINT AS kept_tokens,
       |  (len(tk) - coalesce(kept.kept_tokens, 0))::BIGINT AS removed_tokens,
       |  coalesce(kept.clean_text, '') AS clean_text
       |FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id""".stripMargin

  private def qSample(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.deterministicSample(
      t(spark, dir, "documents").select("doc_id", "lang", "n_chars"), "doc_id", 64)

  private val oSample =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE substr(md5(doc_id::VARCHAR), 1, 2) < '40'""".stripMargin

  private def qTokenCounts(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.tokenCounts(t(spark, dir, "documents"))
      .select("doc_id", "ws_tokens", "word_tokens")

  private val oTokenCounts =
    s"""SELECT doc_id, len(${wsSql("text")})::BIGINT AS ws_tokens,
       |  len(${tokSql("text")})::BIGINT AS word_tokens
       |FROM documents""".stripMargin

  private def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.fingerprint(t(spark, dir, "documents"))
      .select("doc_id", "fp", "fp_bucket", "norm_len")

  private val oFingerprint =
    s"""SELECT doc_id, md5(${normSql("text")}) AS fp,
       |  substr(md5(${normSql("text")}), 1, 8) AS fp_bucket,
       |  len(${normSql("text")})::BIGINT AS norm_len
       |FROM documents""".stripMargin

  // ---- Gopher-style repetition filters --------------------------------------
  private def qRepetition(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.repetitionStats(t(spark, dir, "documents"), "doc_id", "text")

  /** Integer-exact counts + single-division fractions, replicable in SQL:
    * the top-word count via unnest/group/max (same integer as the sorted-
    * run fold), duplicate 2-grams via len - len(distinct). CTE `rep`
    * (doc_id, the counts and the two fractions); [[isRepetitiveSql]] is
    * its gate. */
  private def repetitionCtes: String =
    s"""rtk AS (SELECT doc_id, ${tokSql("text")} AS tk FROM documents),
       |rtw AS (SELECT doc_id, max(c) AS top_word_count FROM (
       |    SELECT doc_id, count(*) AS c FROM (SELECT doc_id, unnest(tk) AS w FROM rtk)
       |    GROUP BY doc_id, w) GROUP BY doc_id),
       |rg AS (SELECT rtk.doc_id, len(tk)::BIGINT AS n_words,
       |    coalesce(top_word_count, 0)::BIGINT AS top_word_count,
       |    CASE WHEN len(tk) >= 2
       |         THEN [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       |         ELSE [] END AS grams
       |  FROM rtk LEFT JOIN rtw ON rtk.doc_id = rtw.doc_id),
       |rep AS (SELECT doc_id, n_words, top_word_count,
       |    len(grams)::BIGINT AS n_2grams,
       |    (len(grams) - len(list_distinct(grams)))::BIGINT AS n_dup_2grams,
       |    CASE WHEN n_words > 0 THEN top_word_count / n_words::DOUBLE ELSE 0.0 END AS top_word_frac,
       |    CASE WHEN len(grams) > 0 THEN (len(grams) - len(list_distinct(grams))) / len(grams)::DOUBLE
       |         ELSE 0.0 END AS dup_2gram_frac
       |  FROM rg)""".stripMargin

  private def isRepetitiveSql = "(top_word_frac > 0.2 OR dup_2gram_frac > 0.2)"

  private val oRepetition = s"WITH $repetitionCtes\nSELECT *, $isRepetitiveSql AS is_repetitive FROM rep"

  // ---- composite corpus filter (C4/Gopher keep/drop pipeline) ---------------
  private def qCorpusFilter(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.corpusFilter(t(spark, dir, "documents"), "doc_id", "text", lang = "en")

  /** q44's four gates per document: `cf` (doc_id, pass_quality, pass_lang,
    * pass_repetition, pass_dedup — the first-wins exact-duplicate keeper —
    * and keep, all four). */
  private def corpusFilterCtes: String =
    s"""$qualityCte,
       |$langCtes,
       |$repetitionCtes,
       |dd AS (SELECT doc_id,
       |    row_number() OVER (PARTITION BY md5(${normSql("text")}) ORDER BY doc_id) AS rn
       |  FROM documents),
       |cf AS (SELECT *, pass_quality AND pass_lang AND pass_repetition AND pass_dedup AS keep
       |  FROM (SELECT q.doc_id, $isQualitySql AS pass_quality, pred_lang = 'en' AS pass_lang,
       |      NOT $isRepetitiveSql AS pass_repetition, rn = 1 AS pass_dedup
       |    FROM q JOIN lang ON q.doc_id = lang.doc_id
       |      JOIN rep ON q.doc_id = rep.doc_id JOIN dd ON q.doc_id = dd.doc_id))""".stripMargin

  private val oCorpusFilter = s"WITH $corpusFilterCtes\nSELECT * FROM cf"

  // ---- S4/S5: text-layer metrics ------------------------------------------
  private def qTextMetrics(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      (length(trim(col("text"))) >= 20).as("has_text"),
      (length(col("text")) < 100).as("needs_fallback"))

  private val oTextMetrics =
    """SELECT doc_id, len(text)::BIGINT AS len_chars,
      |  len(trim(text)) >= 20 AS has_text, len(text) < 100 AS needs_fallback
      |FROM documents""".stripMargin

  // ---- events: sessionization (stateful shape, window-based) --------------
  private def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val us = unix_micros(col("ts").cast("timestamp")) // events.ts is TIMESTAMP_NTZ; session tz is UTC
    t(spark, dir, "events")
      .withColumn("prev_us", lag(us, 1).over(w))
      .withColumn("new_session",
        (col("prev_us").isNull || (us - col("prev_us")) > 1800L * 1000000L).cast("int"))
      .groupBy("user_id")
      .agg(sum("new_session").cast("long").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  private val oSessionize =
    """WITH s AS (SELECT user_id, ts, event_id,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events)
      |SELECT user_id,
      |  sum(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id""".stripMargin

  // ---- relational coverage beyond the reference ---------------------------
  // broadcast dim join + aggregation (the J3 cache shape on TPC-H tables)
  private def qJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val p = t(spark, dir, "part").select("p_partkey", "p_brand")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "l_returnflag")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
  }

  private val oJoinAgg =
    """SELECT p_brand, l_returnflag, count(*) AS cnt, sum(l_quantity) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand, l_returnflag""".stripMargin

  // grouping sets / rollup (integer-exact aggregates)
  private def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))

  private val oRollup =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // running window (per-key ordered cumulative sum over integer-valued qty)
  private def qRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "lineitem")
      .where(col("l_orderkey") < 500)
      .select(col("l_orderkey"), col("l_linenumber"),
        sum("l_quantity").over(w).as("running_qty"))
  }

  private val oRunningSum =
    """SELECT l_orderkey, l_linenumber,
      |  sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      |FROM lineitem WHERE l_orderkey < 500""".stripMargin

  // ---- engine-level entries, oracled by committed golden parquet ----------
  private[graft] def nTurns(dir: String): Long = math.max(500L, (sfOf(dir) * 100000).toLong)

  /**
   * Golden-parquet oracle for the engine-level queries (q18/q19/q20) that
   * no SQL engine can recompute (a 7-parser extraction engine / the WRatio
   * scorer). The committed parquet holds the expected output for each test
   * scale factor, tagged with that sf's turn count; the SQL selects the
   * slice matching the ACTUAL input scale via the lineitem row count
   * (nTurns = max(500, sf*100000) and |lineitem| = sf*6,000,000, so
   * nTurns = max(500, |lineitem|/60)). DuckDB reads the parquet natively —
   * the driver's compare becomes a hard three-boolean row/schema/hash
   * check against a committed, checksummed expectation.
   *
   * The goldens are regenerated only via `Test/runMain graft.GoldenParquetGen`
   * after a parity-verified semantic change (same policy as the byte-
   * equality golden in GoldenSpec); the independent evidence that the
   * engine itself is RIGHT stays the ~470k-check differential harness vs
   * the reference's own Python (tools/parity_check.py) and the WRatio
   * differential (tools/wratio_check.py).
   */
  private def goldenOracleSql(name: String): String = {
    // resolve the golden dir explicitly (-Dgraft.golden.dir / GRAFT_GOLDEN_DIR)
    // with the repo-root CWD layout as the fallback; fail LOUDLY here rather
    // than let DuckDB surface an opaque read_parquet error when Verify runs
    // from a different working directory
    val dir = sys.props.get("graft.golden.dir")
      .orElse(sys.env.get("GRAFT_GOLDEN_DIR"))
      .getOrElse(new java.io.File("src/test/resources/golden").getAbsolutePath)
    val f = new java.io.File(dir, s"$name.parquet")
    require(f.isFile,
      s"golden parquet not found: $f — run from the repo root, or point " +
        "-Dgraft.golden.dir / GRAFT_GOLDEN_DIR at src/test/resources/golden")
    s"""SELECT * EXCLUDE (n_turns)
       |FROM read_parquet('${f.getAbsolutePath}')
       |WHERE n_turns = (SELECT greatest(500, count(*) // 60) FROM lineitem)""".stripMargin
  }

  private def qExtractTurns(spark: SparkSession, dir: String): DataFrame =
    Pipeline.extractTurns(graft.io.Transcripts.generateDF(spark, nTurns(dir))).toDF()
      .select("conv_id", "turn_idx", "n_chars", "n_tables", "doc_type",
        "best_parser", "best_count", "best_total_cost", "extracted_text")

  private def qExtractItems(spark: SparkSession, dir: String): DataFrame =
    Pipeline.extractItems(graft.io.Transcripts.generateDF(spark, nTurns(dir)))

  private def qWratioMatch(spark: SparkSession, dir: String): DataFrame = {
    val products = graft.io.Transcripts.productsDim(spark)
    val items = qExtractItems(spark, dir).select("conv_id", "turn_idx", "item_idx", "name")
    graft.matching.Matching.topMatches(items, products, Seq("conv_id", "turn_idx", "item_idx"))
  }

  private def qMinhashCandidates(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.minhashCandidates(t(spark, dir, "documents"), "doc_id", "text")

  private def qSimhashCandidates(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.simhashCandidates(t(spark, dir, "documents"), "doc_id", "text")

  private def qEmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.embeddingNearDup(t(spark, dir, "embeddings"), "vec_id", "embedding",
      maxId = 200L, threshold = 0.32) // synthetic vectors: max pairwise cosine ~0.44

  private def qAnnTopK(spark: SparkSession, dir: String): DataFrame =
    graft.ann.Similarity.bruteForceTopK(t(spark, dir, "embeddings"), "vec_id", "embedding",
      nQueries = 10, k = 5)

  private def qAnnIvf(spark: SparkSession, dir: String): DataFrame =
    graft.ann.Similarity.ivfTopK(t(spark, dir, "embeddings"), "vec_id", "embedding",
      nQueries = 10, topK = 5, k = 16, nProbe = 4, trainN = 4096)

  private def qLshDedup(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.lshDedupClusters(t(spark, dir, "documents"), "doc_id", "text",
      k = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)

  private def qAnnLsh(spark: SparkSession, dir: String): DataFrame =
    graft.ann.Similarity.lshNearPairs(t(spark, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, nPlanes = 6, threshold = 0.3, maxBucket = 10000)

  // ---- corpus-level training-data ops --------------------------------------
  private def qDistinctiveTerms(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.distinctiveTerms(t(spark, dir, "documents"), "doc_id", "text", topK = 5)

  private val oDistinctiveTerms =
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(${tokSql("text")}) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |r AS (SELECT doc_id, term, tf, df,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df, term) AS rank
       |  FROM tf JOIN dfq USING (term))
       |SELECT doc_id, rank, term, tf, df FROM r WHERE rank <= 5""".stripMargin

  /** Deterministic PII-bearing text built from the customer table (name ->
    * synthetic email, key-derived NN-NNN-NNN-NNNN phone). */
  private def piiText: Column = {
    val phone = concat(
      lpad(((col("c_nationkey") % 75) + 10).cast("string"), 2, "0"), lit("-"),
      lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("c_custkey") * 7 % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("c_custkey") * 13 % 10000).cast("string"), 4, "0"))
    concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]+", ".")),
      lit("@example.com contact "), phone, lit(" ref "), col("c_mktsegment"))
  }

  private def qPiiScrub(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.piiScrub(
      t(spark, dir, "customer").select(col("c_custkey"), piiText.as("text")),
      "c_custkey", "text")

  private val oPiiScrub = {
    val e = graft.text.CorpusAnalysis.emailPattern
    val p = graft.text.CorpusAnalysis.phonePattern
    s"""WITH c AS (SELECT c_custkey,
       |    lower(regexp_replace(c_name, '[^A-Za-z0-9]+', '.', 'g')) || '@example.com contact '
       |      || lpad(((c_nationkey % 75) + 10)::VARCHAR, 2, '0') || '-'
       |      || lpad((c_custkey % 1000)::VARCHAR, 3, '0') || '-'
       |      || lpad((c_custkey * 7 % 1000)::VARCHAR, 3, '0') || '-'
       |      || lpad((c_custkey * 13 % 10000)::VARCHAR, 4, '0')
       |      || ' ref ' || c_mktsegment AS text
       |  FROM customer)
       |SELECT c_custkey,
       |  len(regexp_extract_all(text, '$e'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(text, '$p'))::BIGINT AS n_phones,
       |  regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g') AS scrubbed
       |FROM c""".stripMargin
  }

  private def qContamination(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.contamination(t(spark, dir, "documents"), "doc_id", "text",
      k = 8, benchOutOf256 = 16, maxDf = 10000)

  /** Bloom-prefiltered contamination — same semantics/oracle as q37, the
    * corpus-scale shuffle shape (only might-be-bench shingles shuffle). */
  private def qContaminationBloom(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.contaminationBloom(t(spark, dir, "documents"), "doc_id", "text",
      k = 8, benchOutOf256 = 16, maxDf = 10000)

  private val oContamination =
    s"""WITH ${toksSql(8)},
       |e0 AS (SELECT id AS doc_id, ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT AS h FROM sh),
       |okh AS (SELECT h FROM e0 GROUP BY h HAVING count(*) <= 10000),
       |e AS (SELECT e0.* FROM e0 JOIN okh USING (h)),
       |bench AS (SELECT doc_id AS bench_id, h FROM e
       |          WHERE substr(md5(doc_id::VARCHAR), 1, 2) < '10')
       |SELECT e.doc_id, count(DISTINCT e.h) AS n_shared_ngrams,
       |  count(DISTINCT bench.bench_id) AS n_bench_docs
       |FROM e JOIN bench USING (h) WHERE e.doc_id != bench.bench_id
       |GROUP BY e.doc_id""".stripMargin

  private def qBoilerplate(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.boilerplateLines(t(spark, dir, "documents"), "doc_id", "text",
      sep = " data ", minDocs = 10)

  private val oBoilerplate =
    """WITH lines AS (SELECT doc_id,
      |    lower(trim(unnest(string_split(text, ' data ')))) AS norm
      |  FROM documents),
      |freq AS (SELECT norm, count(*) AS dwl
      |         FROM (SELECT DISTINCT doc_id, norm FROM lines) GROUP BY 1)
      |SELECT doc_id, count(*) AS n_lines,
      |  sum(CASE WHEN dwl >= 10 THEN 1 ELSE 0 END)::BIGINT AS n_boiler_lines
      |FROM lines JOIN freq USING (norm) GROUP BY doc_id""".stripMargin

  // ---- as-of join (events): each purchase joined to the user's latest
  // prior-or-simultaneous click — oracled by DuckDB's native ASOF JOIN.
  /** `events` with ts cast to timestamp (TIMESTAMP_NTZ; session tz is UTC). */
  private def timedEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").withColumn("ts", col("ts").cast("timestamp"))

  private def clicks(ev: DataFrame): DataFrame =
    ev.where(col("event_type") === "click").select(col("user_id"), col("ts"), col("value"))

  /** q39/q42: each purchase of `ev` with its user's latest click at or
    * before it (`asOf` is the as-of join) and the lag between the two. */
  private def purchaseClicks(ev: DataFrame)(
      asOf: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("purchase_value"))
    asOf(purchases, clicks(ev))
      .select(col("event_id"), col("user_id"), col("purchase_value"),
        col("asof_value").as("click_value"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("lag_us"))
  }

  /** [[clicks]] of the events table `ev` as the `c` CTE. */
  private def clicksCte(ev: String): String =
    s"c AS (SELECT user_id, ts, value FROM $ev WHERE event_type = 'click')"

  /** [[purchaseClicks]] over the events table `ev` in DuckDB SQL. */
  private def purchaseClicksSql(ev: String): String =
    s"""p AS (SELECT event_id, user_id, ts, value FROM $ev WHERE event_type = 'purchase'),
       |${clicksCte(ev)}
       |SELECT p.event_id, p.user_id, p.value AS purchase_value, c.value AS click_value,
       |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
       |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  private def qAsofJoin(spark: SparkSession, dir: String): DataFrame =
    purchaseClicks(timedEvents(spark, dir))(
      graft.relational.AsOf.asofJoin(_, _, "user_id", "ts", Seq("ts", "value")))

  private val oAsofJoin = s"WITH ${purchaseClicksSql("events")}"

  /** The salted (time-bucketed) as-of variant on a ZIPF-HOT fixture:
    * every user id not divisible by 3 collapses onto user 0, so one key
    * holds ~2/3 of all events and the salted path's bucket-parallel
    * windows + carry-in logic are exercised where they matter (q39 keeps
    * the uniform distribution on the plain as-of). Oracled by DuckDB's
    * native ASOF JOIN over the same remap; no (user, ts) ties exist in
    * the remapped click stream at any sf, so the arbitrary-tie contract
    * is never hit. */
  private def qAsofSalted(spark: SparkSession, dir: String): DataFrame =
    purchaseClicks(timedEvents(spark, dir)
        .withColumn("user_id", when(col("user_id") % 3 === 0, col("user_id")).otherwise(lit(0L))))(
      graft.relational.AsOf.asofJoinSalted(_, _, "user_id", "ts",
        Seq("ts", "value"), bucketWidthUs = 6L * 3600000000L))

  private val oAsofSaltedHot =
    s"""WITH ev AS (SELECT event_id, ts,
       |    CASE WHEN user_id % 3 = 0 THEN user_id ELSE 0 END AS user_id,
       |    event_type, value FROM events),
       |${purchaseClicksSql("ev")}""".stripMargin

  // ---- banded range join: clicks within the hour before each error ---------
  private def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = timedEvents(spark, dir)
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.relational.RangeJoin
      .intervalJoin(errors, clicks(ev), "user_id", "ts", 3600000000L, Seq("value"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"),
        max(col("r_value")).as("max_click_value"),
        min(col("r_value")).as("min_click_value"))
  }

  private val oRangeJoin =
    s"""WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
       |${clicksCte("events")}
       |SELECT e.event_id, count(*) AS n_clicks,
       |  max(c.value) AS max_click_value, min(c.value) AS min_click_value
       |FROM e JOIN c ON e.user_id = c.user_id
       |  AND epoch_us(e.ts) - epoch_us(c.ts) BETWEEN 0 AND 3599999999
       |GROUP BY e.event_id""".stripMargin

  private def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.mm.Multimodal.synthesizeMedia(t(spark, dir, "documents"), "doc_id", "text")
    graft.mm.Multimodal.extractMeta(media).toDF()
  }

  // ---- portable-hash oracle builders ---------------------------------------
  // The dedup/ANN operators hash with md5 + affine mixing mod 2^31-1 and
  // fold floating-point reductions in a fixed order with a 0.0 init, so
  // every step is replicable bit-for-bit in DuckDB. These builders inline
  // the SAME Scala-generated constants (hash params, hyperplane weights)
  // into the SQL that graft.dedup.Dedup / graft.ann.Similarity inline into
  // the Spark plans — one source of truth, two engines.

  /** Cosine exactly as Similarity.cosine folds it: ordered products with a
    * 0.0 init (list_prepend emulates Spark's aggregate zero). */
  private def cosSql(a: String, b: String): String = {
    def sum(terms: String) = s"list_reduce([0.0::DOUBLE] || $terms, (x, y) -> x + y)"
    sum(s"[$a[i+1] * $b[i+1] FOR i IN range(len($a))]") +
      s" / (sqrt(${sum(s"[$a[i+1] * $a[i+1] FOR i IN range(len($a))]")})" +
      s" * sqrt(${sum(s"[$b[i+1] * $b[i+1] FOR i IN range(len($b))]")}))"
  }

  /** `toks` (id = doc_id, tk = its tokens) over the rows of `src`. */
  private def tokCte(src: String = "documents"): String =
    s"toks AS (SELECT doc_id AS id, ${tokSql("text")} AS tk FROM $src)"

  /** [[tokCte]], then `sh` (id, s = its distinct k-token shingles) over the
    * rows with at least k tokens. */
  private def toksSql(k: Int, src: String = "documents"): String =
    s"""${tokCte(src)},
       |sh AS (
       |  SELECT id, list_distinct([array_to_string(tk[i:i+${k - 1}], ' ')
       |    FOR i IN range(1, greatest(len(tk) - ${k - 1}, 0) + 1)]) AS s
       |  FROM toks WHERE len(tk) >= $k)""".stripMargin

  /** Recursive-CTE connected components over the (id_a, id_b) edges of
    * `pairs`: `clusters` (doc_id, cluster_id = the least id of its component). */
  private def componentsCtes(pairs: String): String =
    s"""edges AS (SELECT id_a AS u, id_b AS v FROM $pairs
       |          UNION ALL SELECT id_b, id_a FROM $pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |clusters AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)""".stripMargin

  /** Exhaustive near-dup clusters over the docs of `src` (q31, q34, q52,
    * q57, q58): brute-force 3-shingle Jaccard pairs above `threshold`,
    * then [[componentsCtes]] — deliberately NOT the LSH path, so green
    * means the banded path recovers exactly what brute force finds. Needs
    * WITH RECURSIVE. */
  private def clusterCtes(src: String, threshold: Double): String =
    s"""${toksSql(3, src)},
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM sh a, sh b WHERE a.id < b.id
       |    AND len(list_intersect(a.s, b.s)) /
       |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE > $threshold),
       |${componentsCtes("pairs")}""".stripMargin

  private def minhashCandSql(k: Int, bands: Int, rowsPerBand: Int, maxBucket: Int): String = {
    val params = graft.dedup.Dedup.hashParams(bands * rowsPerBand)
    val sigList = params.map { case (a, c) =>
      s"list_min(list_transform(h, x -> ($a * x + $c) % 2147483647))"
    }.mkString("[", ",\n    ", "]")
    val bucketList = (0 until bands).map { b =>
      s"md5(array_to_string(sg[${b * rowsPerBand + 1}:${(b + 1) * rowsPerBand}], ','))"
    }.mkString("[", ",\n    ", "]")
    s"""WITH ${toksSql(k)},
       |hv AS (SELECT id,
       |  list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647) AS h
       |  FROM sh),
       |sig AS (SELECT id, $sigList AS sg FROM hv),
       |banded AS (SELECT id, unnest(range($bands)) AS band, unnest($bucketList) AS bucket FROM sig),
       |ok AS (SELECT band, bucket FROM banded GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $maxBucket),
       |ex AS (SELECT banded.* FROM banded JOIN ok USING (band, bucket))
       |SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |FROM ex a JOIN ex b USING (band, bucket) WHERE a.id < b.id""".stripMargin
  }

  private def simhashCandSql(maxHamming: Int, maxBucket: Int): String = {
    def blockExpr(b: Int): String = (0 until 16).map { j =>
      val g = b * 16 + j
      val src = if (g < 32) "lo" else "hi"
      s"(CASE WHEN 2 * len(list_filter(h, x -> ((x.$src >> ${g % 32}) & 1) = 1)) > len(h) THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " +\n    ", ")::BIGINT")
    val blockList = (0 until 4).map(blockExpr).mkString("[", ",\n  ", "]")
    s"""WITH ${tokCte()},
       |th AS (SELECT id, list_transform(tk, t ->
       |  {'hi': ('0x' || substr(md5(t), 1, 8))::BIGINT,
       |   'lo': ('0x' || substr(md5(t), 9, 8))::BIGINT}) AS h FROM toks),
       |blocks AS (SELECT id, $blockList AS blocks FROM th),
       |banded AS (SELECT id, blocks, unnest(range(4)) AS block, unnest(blocks) AS block_val FROM blocks),
       |ok AS (SELECT block, block_val FROM banded GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $maxBucket),
       |ex AS (SELECT banded.* FROM banded JOIN ok USING (block, block_val)),
       |pr AS (SELECT a.id AS id_a, b.id AS id_b,
       |    bit_count(xor(a.blocks[1], b.blocks[1]))::BIGINT + bit_count(xor(a.blocks[2], b.blocks[2]))::BIGINT +
       |    bit_count(xor(a.blocks[3], b.blocks[3]))::BIGINT + bit_count(xor(a.blocks[4], b.blocks[4]))::BIGINT AS hamming
       |  FROM ex a JOIN ex b USING (block, block_val) WHERE a.id < b.id)
       |SELECT DISTINCT id_a, id_b, hamming FROM pr WHERE hamming <= $maxHamming""".stripMargin
  }

  private val oEmbedNearDup =
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200),
       |p AS (SELECT a.id AS id_a, b.id AS id_b, ${cosSql("a.v", "b.v")} AS cosine
       |      FROM v a, v b WHERE a.id < b.id)
       |SELECT id_a, id_b, cosine FROM p WHERE cosine > 0.32""".stripMargin

  private val oAnnTopK =
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT id, v FROM v WHERE id < 10),
       |sc AS (SELECT q.id AS query_id, c.id AS nbr_id, ${cosSql("q.v", "c.v")} AS cosine
       |       FROM q JOIN v c ON q.id != c.id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank FROM sc)
       |SELECT query_id, rank, nbr_id, cosine FROM r WHERE rank <= 5""".stripMargin

  private def lshPairsSql(nPlanes: Int, dim: Int, threshold: Double,
                          maxBucket: Int): String = {
    val w = graft.ann.Similarity.planeWeights(nPlanes, dim)
    val bucketExpr = (0 until nPlanes).map { p =>
      val wLit = w(p).map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"(CASE WHEN list_reduce([0.0::DOUBLE] || [v[i+1] * ($wLit)[i+1] FOR i IN range(len(v))], (x, y) -> x + y) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " +\n  ", ")")
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT id, v, $bucketExpr AS bucket FROM v),
       |ok AS (SELECT bucket FROM b GROUP BY 1 HAVING count(*) BETWEEN 2 AND $maxBucket),
       |ex AS (SELECT b.* FROM b JOIN ok USING (bucket)),
       |p AS (SELECT x.id AS id_a, y.id AS id_b, ${cosSql("x.v", "y.v")} AS cosine
       |      FROM ex x JOIN ex y USING (bucket) WHERE x.id < y.id)
       |SELECT DISTINCT id_a, id_b, cosine FROM p WHERE cosine > $threshold""".stripMargin
  }

  private def ivfArgmaxSql(vec: String): String =
    s"""list_reduce(list_prepend({'cos': -2.0::DOUBLE, 'cid': (-1)::BIGINT},
       |    list_transform(cl, ct -> {'cos': ${cosSql(vec, "ct.c")}, 'cid': ct.cid})),
       |    (a, b) -> CASE WHEN b.cos > a.cos THEN b ELSE a END).cid""".stripMargin

  /** Shared IVF-training + corpus-assignment CTEs (deterministic
    * HASH-SAMPLED training — the trainN lowest rows by md5('ivf:'||id),
    * matching Similarity.trainIvfCentroids' unbiased sample — seed
    * selection by hash rank, argmax assignment, id-ordered Lloyd fold)
    * with the same fold orders as graft.ann.Similarity — used by the q30
    * and q56 oracles; ends with `asg` = (id, v, cid). */
  private def ivfTrainCtes(k: Int, trainN: Int, trainWhere: String = ""): String =
    s"""v AS (SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |trh AS (SELECT id, v FROM v $trainWhere ORDER BY md5('ivf:' || id::VARCHAR), id LIMIT $trainN),
       |tr AS (SELECT id, v, row_number() OVER (ORDER BY md5('ivf:' || id::VARCHAR), id) - 1 AS rk FROM trh),
       |par AS (SELECT greatest(1, (SELECT count(*) FROM tr) // $k) AS stride),
       |seeds AS (SELECT id AS cid, v AS c FROM tr, par WHERE rk % stride = 0 ORDER BY rk LIMIT $k),
       |c1 AS (SELECT list({'cid': cid, 'c': c} ORDER BY cid) AS cl FROM seeds),
       |a1 AS (SELECT tr.id, tr.v, ${ivfArgmaxSql("tr.v")} AS cid FROM tr, c1),
       |grp AS (SELECT cid, list({'id': id, 'v': v} ORDER BY id) AS lst FROM a1 GROUP BY cid),
       |cm AS (SELECT cid, list_transform(
       |    list_reduce(list_prepend([0.0::DOUBLE FOR i IN range(len(lst[1].v))],
       |      list_transform(lst, s -> s.v)),
       |      (a, b) -> [a[i+1] + b[i+1] FOR i IN range(len(a))]),
       |    x -> x / len(lst)::DOUBLE) AS c
       |  FROM grp),
       |c2 AS (SELECT list({'cid': cid, 'c': c} ORDER BY cid) AS cl FROM cm),
       |asg AS (SELECT v.id, v.v, ${ivfArgmaxSql("v.v")} AS cid FROM v, c2)""".stripMargin

  /** The whole IVF chain — training/assignment CTEs + probe selection +
    * final top-k — bit-identical to graft.ann.Similarity.ivfTopK. */
  private def ivfSql(k: Int, nProbe: Int, topK: Int, nQueries: Int, trainN: Int): String = {
    s"""WITH ${ivfTrainCtes(k, trainN)},
       |q AS (SELECT id AS query_id, v AS qv FROM v WHERE id < $nQueries),
       |pr AS (SELECT query_id, qv, unnest(list_transform(
       |    list_sort(list_transform(cl, ct -> {'negcos': 0.0::DOUBLE - (${cosSql("qv", "ct.c")}), 'cid': ct.cid}))[1:$nProbe],
       |    s -> s.cid)) AS centroid_id
       |  FROM q, c2),
       |sc AS (SELECT pr.query_id, asg.id AS nbr_id, ${cosSql("pr.qv", "asg.v")} AS cosine
       |       FROM pr JOIN asg ON pr.centroid_id = asg.cid AND pr.query_id != asg.id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank FROM sc)
       |SELECT query_id, rank, nbr_id, cosine FROM r WHERE rank <= $topK""".stripMargin
  }

  /** SemDeDup-shaped semantic near-dup pairs: IVF-clustered cosine
    * comparison within clusters only (graft.ann.Similarity.semDedupPairs). */
  private def qSemDedup(spark: SparkSession, dir: String): DataFrame =
    graft.ann.Similarity.semDedupPairs(t(spark, dir, "embeddings"), "vec_id", "embedding",
      k = 16, trainN = 4096, threshold = 0.3, maxBucket = 10000)

  /** The in-cluster pairs of q56/q59/q60 over the `asg` of
    * [[ivfTrainCtes]]: `ex` = the members of clusters of at most maxBucket
    * (10000) members (the KeyCaps cap as HAVING), `sp` = (id_a < id_b, cid,
    * cosine) above the 0.3 threshold. */
  private def semPairsCtes: String =
    s"""ok AS (SELECT cid FROM asg GROUP BY 1 HAVING count(*) <= 10000),
       |ex AS (SELECT asg.* FROM asg JOIN ok USING (cid)),
       |sp AS (SELECT * FROM (
       |    SELECT x.id AS id_a, y.id AS id_b, x.cid AS cid, ${cosSql("x.v", "y.v")} AS cosine
       |    FROM ex x JOIN ex y USING (cid) WHERE x.id < y.id)
       |  WHERE cosine > 0.3)""".stripMargin

  /** q56 oracle: the SAME deterministic training/assignment CTEs as q30
    * (bit-identical centroids), then the in-cluster pairs. */
  private val oSemDedup = s"WITH ${ivfTrainCtes(16, 4096)},\n$semPairsCtes\nSELECT * FROM sp"

  /** q59: full SemDeDup keeper selection — semantic-dup groups as
    * connected components over the in-cluster pairs, keeper = the member
    * FARTHEST from its cluster centroid (lowest cosine; the paper keeps
    * the most marginal example), tie -> smallest id. */
  private def qSemDedupKeep(spark: SparkSession, dir: String): DataFrame =
    graft.ann.Similarity.semDedupKeep(t(spark, dir, "embeddings"), "vec_id", "embedding",
      k = 16, trainN = 4096, threshold = 0.3, maxBucket = 10000)

  /** q59 oracle: q56's training/assignment/pair CTEs + recursive-CTE
    * connected components + the farthest-from-centroid argmax (cm = the
    * refined centroids — bit-identical to the Spark side's table). */
  private val oSemDedupKeep =
    s"""WITH RECURSIVE ${ivfTrainCtes(16, 4096)},
       |$semPairsCtes,
       |${componentsCtes("sp")},
       |wc AS (SELECT c.cluster_id, c.doc_id AS id, ${cosSql("ex.v", "cm.c")} AS cen_cos
       |       FROM clusters c JOIN ex ON c.doc_id = ex.id JOIN cm ON ex.cid = cm.cid),
       |sel AS (SELECT cluster_id, id, cen_cos,
       |         count(*) OVER (PARTITION BY cluster_id) AS n_members,
       |         row_number() OVER (PARTITION BY cluster_id ORDER BY cen_cos, id) AS rn
       |       FROM wc)
       |SELECT cluster_id, n_members, id AS keeper_id, cen_cos AS keeper_cos
       |FROM sel WHERE rn = 1""".stripMargin

  /** q60: incremental SemDeDup — the even-id half is the indexed epoch
    * (quantizer TRAINED ON IT ALONE — the paper/faiss practice of a fixed
    * epoch-0 quantizer — and its assigned working set persisted); the
    * odd-id batch is folded via semDedupPairsIncremental, and the output
    * is old-epoch pairs UNION the >=1-new incremental pairs. The oracle
    * is a from-scratch full run against the SAME old-trained quantizer —
    * green means the epoch split reproduces it exactly. */
  private def qSemDedupIncr(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val old = emb.where(col("vec_id") % 2 === 0)
    val fresh = emb.where(col("vec_id") % 2 =!= 0)
    val cents = graft.ann.Similarity.trainIvfCentroids(old, "vec_id", "embedding",
      k = 16, trainN = 4096)
    val oldAssigned = graft.ann.Similarity.assignEmb(old, "vec_id", "embedding", cents)
      .localCheckpoint()
    val oldPairs = graft.ann.Similarity.semDedupPairsFromAssigned(
      oldAssigned, threshold = 0.3)
    val (incrPairs, _) = graft.ann.Similarity.semDedupPairsIncremental(
      cents, oldAssigned, fresh, "vec_id", "embedding", threshold = 0.3)
    oldPairs.unionByName(incrPairs)
  }

  /** q60 oracle: q56's chain with training restricted to even ids and
    * assignment over the full corpus (both epochs' pair sets are
    * disjoint and union to exactly this full run — the cluster cap is
    * never crossed at bench scales, so per-epoch capping == full-run
    * capping). */
  private val oSemDedupIncr =
    s"WITH ${ivfTrainCtes(16, 4096, trainWhere = "WHERE id % 2 = 0")},\n$semPairsCtes\nSELECT * FROM sp"

  /** q26 oracle: the multimodal metadata contract — media synthesis (kind
    * from id mod 3, payload = UTF-8 bytes of text) and the md5-derived
    * stub-decoder outputs, all replicable in SQL (DuckDB md5(VARCHAR)
    * hashes the UTF-8 bytes, same as Spark's md5 over the encoded
    * payload). Verifies the mapPartitions plumbing end-to-end. */
  private val oMultimodalMeta =
    """WITH m AS (SELECT doc_id AS media_id,
      |    ['image','audio','video'][(doc_id % 3) + 1] AS kind,
      |    md5(text) AS h, octet_length(encode(text))::BIGINT AS n_bytes
      |  FROM documents)
      |SELECT media_id, kind, n_bytes,
      |  64 + ('0x' || substr(h, 1, 8))::BIGINT % 1024 AS width,
      |  64 + ('0x' || substr(h, 9, 8))::BIGINT % 1024 AS height,
      |  CASE WHEN kind = 'video' THEN 1 + ('0x' || substr(h, 17, 8))::BIGINT % 240 ELSE 1 END AS n_frames,
      |  h AS checksum
      |FROM m""".stripMargin

  /** q34 oracle: EXHAUSTIVE all-pairs Jaccard above the threshold, then
    * connected components — deliberately NOT the LSH path. A green match
    * proves the banded candidate generation + verify recovers exactly the
    * clusters exhaustive comparison finds (at 16 bands x 2 rows the
    * per-pair miss probability at j>=0.9 is (1-j^2)^16 ~ 3e-12). */
  private val oLshDedup =
    s"""WITH RECURSIVE ${clusterCtes("documents", threshold = 0.5)}
       |SELECT doc_id, cluster_id FROM clusters""".stripMargin

  /** CCNet-shaped lexical commonness score (integer-exact statistic). */
  private def qLexicalCommonness(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.lexicalCommonness(t(spark, dir, "documents"), "doc_id", "text")

  private val oLexicalCommonness =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${tokSql("text")}) AS term
       |  FROM documents),
       |f AS (SELECT doc_id, count(*) OVER (PARTITION BY term) AS freq FROM toks)
       |SELECT doc_id, count(*) AS n_tokens, sum(freq)::BIGINT AS sum_token_freq,
       |  sum(freq)::DOUBLE / count(*)::DOUBLE AS mean_token_freq
       |FROM f GROUP BY doc_id""".stripMargin

  /** Global top-50 vocabulary (tokenizer-seeding shape). */
  private def qVocabTopK(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.vocabTopK(t(spark, dir, "documents"), "text", k = 50)

  /** q54's corpus vocabulary: `top` = the 50 most frequent tokens (term,
    * n), ties to the smaller term. */
  private def vocabTopCtes: String =
    s"""toks AS (SELECT unnest(${tokSql("text")}) AS term FROM documents),
       |vc AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),
       |top AS (SELECT term, n FROM vc ORDER BY n DESC, term LIMIT 50)""".stripMargin

  private val oVocabTopK =
    s"WITH $vocabTopCtes\nSELECT row_number() OVER (ORDER BY n DESC, term) AS rank, term, n FROM top"

  /** BPE first-merge statistic: top-K adjacent char pairs, vocab-weighted. */
  private def qBpePairs(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.bpePairCounts(t(spark, dir, "documents"), "text", 50)

  private val oBpePairs =
    s"""WITH toks AS (SELECT unnest(${tokSql("text")}) AS word
       |  FROM documents),
       |wc AS (SELECT word, count(*) AS wcnt FROM toks GROUP BY 1),
       |p AS (SELECT substr(word, u.i + 1, 2) AS pair, wcnt
       |  FROM wc, unnest(range(0, len(word) - 1)) AS u(i)
       |  WHERE len(word) >= 2),
       |pc AS (SELECT pair, sum(wcnt)::BIGINT AS n FROM p GROUP BY 1),
       |top AS (SELECT pair, n FROM pc ORDER BY n DESC, pair LIMIT 50)
       |SELECT row_number() OVER (ORDER BY n DESC, pair) AS rank, pair, n FROM top""".stripMargin

  /** Corpus-mix audit: per-source doc/token/char totals + token share. */
  private def qSourceMix(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusAnalysis.sourceMix(t(spark, dir, "documents"), "source", "text")

  private val oSourceMix =
    s"""WITH per AS (SELECT source, count(*) AS n_docs,
       |    sum(len(${tokSql("text")}))::BIGINT AS n_tokens,
       |    sum(len(text))::BIGINT AS n_chars_total
       |  FROM documents GROUP BY 1)
       |SELECT source, n_docs, n_tokens, n_chars_total,
       |  n_tokens::DOUBLE / (SELECT sum(n_tokens) FROM per)::DOUBLE AS token_share
       |FROM per""".stripMargin

  /** Keep-best dedup representatives: longest doc per cluster, tie min id. */
  private def qClusterBest(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.clusterRepresentatives(
      t(spark, dir, "documents"), "doc_id", "text", scoreCol = "n_chars")

  /** q52's keep-best window over `clusters`: `sel` ranks each cluster's
    * members by n_chars (read from `src`) descending, ties to the smaller
    * doc_id, with the cluster's member count. */
  private def keepBestCtes(src: String): String =
    s"""scored AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars
       |  FROM clusters c JOIN $src d USING (doc_id)),
       |sel AS (
       |  SELECT cluster_id, doc_id, n_chars,
       |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
       |  FROM scored)""".stripMargin

  private val oClusterBest =
    s"""WITH RECURSIVE ${clusterCtes("documents", threshold = 0.5)},
       |${keepBestCtes("documents")}
       |SELECT cluster_id, n_members, doc_id AS keeper_id, n_chars AS keeper_score
       |FROM sel WHERE rn = 1""".stripMargin

  /** q57: the composed end-to-end training-data chain — corpus filter ->
    * LSH near-dup clusters -> keep-best representatives -> stratified
    * sample -> sequence packing, as ONE query (graft.text.CorpusChain).
    * Parameters mirror q44/q52/q45/q46 so the oracle composes their
    * already-verified SQL pieces. */
  private def qCorpusChain(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusChain.corpusChain(
      t(spark, dir, "documents"), "doc_id", "text", "lang", "n_chars",
      lang = "en", rates = Map("en" -> 32, "de" -> 192), defaultOutOf256 = 64,
      packTokens = 512, nShards = 8)

  /** q57 oracle: the same chain composed from the verified q44 filter
    * CTEs, the exhaustive all-pairs cluster CTEs (NOT the LSH path — so
    * green also re-proves the banded chain inside the composition), the
    * q52 keep-best window, the q45 md5 gate, and the q46 packing. */
  private val oCorpusChain =
    s"""WITH RECURSIVE $corpusFilterCtes,
       |surv AS (SELECT d.doc_id, d.text, d.lang, d.n_chars
       |  FROM documents d JOIN cf ON d.doc_id = cf.doc_id WHERE cf.keep),
       |${clusterCtes("surv", threshold = 0.5)},
       |${keepBestCtes("surv")},
       |dedup AS (SELECT * FROM surv
       |  WHERE doc_id NOT IN (SELECT doc_id FROM sel WHERE rn > 1)),
       |samp AS (SELECT * FROM dedup WHERE $stratGateSql),
       |${packSql("samp")}""".stripMargin

  /** q58: incremental dedup — the indexed half of the corpus (even ids)
    * is folded with the odd-id batch WITHOUT re-signing it
    * (graft.dedup.Dedup.mergeDedupIndex); the interleaved split
    * exercises keeper drift (odd min-ids taking over even-keeper
    * families). The oracle is IDENTICAL to q34's full-corpus exhaustive
    * all-pairs clustering — green means the incremental path reproduces
    * the from-scratch result exactly. */
  private def qIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val old = docs.where(col("doc_id") % 2 === 0)
    val fresh = docs.where(col("doc_id") % 2 =!= 0)
    val idx = graft.dedup.Dedup.buildDedupIndex(old, "doc_id", "text")
    graft.dedup.Dedup.incrementalDedupClusters(idx, docs, fresh, "doc_id", "text")._1
  }

  /** The defective turns table of q66/q72/q73/q78/q80, derived from
    * `events` so that it DELIBERATELY manufactures structural defects:
    * conv_id = user_id mod 500, turn_idx = event_id mod 40 (dup indices +
    * gaps), role from a 5-slot wheel (repeats and orphan tool turns),
    * tool = t0/t1 on tool turns (null elsewhere), ts and event_id. */
  private def eventTurns(spark: SparkSession, dir: String): DataFrame = {
    val roleWheel = array(lit("system"), lit("user"), lit("assistant"),
      lit("tool"), lit("user"))
    val role = element_at(roleWheel,
      (pmod(col("event_id") * 7L + 3L, lit(5L)) + 1L).cast("int"))
    t(spark, dir, "events").select(
      pmod(col("user_id"), lit(500L)).as("conv_id"),
      pmod(col("event_id"), lit(40L)).as("turn_idx"),
      role.as("role"),
      when(role === "tool", concat(lit("t"), pmod(col("event_id"), lit(2L))))
        .otherwise(lit(null)).as("tool"),
      col("ts"), col("event_id"))
  }

  /** [[eventTurns]] as the `turns` CTE. */
  private def eventTurnsCte: String =
    """turns AS (SELECT *, CASE WHEN role = 'tool' THEN 't' || (event_id % 2)::VARCHAR END AS tool
      |  FROM (SELECT user_id % 500 AS conv_id, event_id % 40 AS turn_idx,
      |      (['system','user','assistant','tool','user'])[((event_id*7+3) % 5 + 1)] AS role,
      |      ts, event_id
      |    FROM events))""".stripMargin

  /** q66: conversation integrity audit over the defective [[eventTurns]],
    * so every defect counter exercises. */
  private def qConvIntegrity(spark: SparkSession, dir: String): DataFrame =
    graft.text.TranscriptOps.convIntegrity(
      eventTurns(spark, dir).select("conv_id", "turn_idx", "role", "ts", "event_id"),
      "conv_id", "turn_idx", "role", "ts", "event_id")

  private val oConvIntegrity =
    s"""WITH $eventTurnsCte,
       |l AS (SELECT conv_id, turn_idx, role, ts,
       |    lag(role) OVER w AS prev_role, lag(ts) OVER w AS prev_ts
       |  FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, event_id)),
       |a AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
       |    (count(*) - count(DISTINCT turn_idx))::BIGINT AS n_dup_idx,
       |    (max(turn_idx) - min(turn_idx) + 1 - count(DISTINCT turn_idx))::BIGINT AS n_idx_gaps,
       |    sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END)::BIGINT AS n_ts_regress,
       |    sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)::BIGINT AS n_role_repeat,
       |    sum(CASE WHEN role = 'tool' AND (prev_role IS NULL OR prev_role <> 'assistant')
       |        THEN 1 ELSE 0 END)::BIGINT AS n_orphan_tool
       |  FROM l GROUP BY conv_id)
       |SELECT *, (n_dup_idx = 0 AND n_idx_gaps = 0 AND n_ts_regress = 0
       |  AND n_role_repeat = 0 AND n_orphan_tool = 0) AS is_clean FROM a""".stripMargin

  /** q67: deterministic global training-order shuffle (seed-keyed md5
    * permutation, balanced shards, dense per-shard positions). */
  private def qGlobalShuffle(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.globalShuffle(
      t(spark, dir, "documents").select("doc_id"), "doc_id", seed = 7L, nShards = 16)

  private val oGlobalShuffle =
    """WITH k AS (SELECT doc_id, md5('shuffle:7:' || doc_id::VARCHAR) AS key FROM documents),
      |s AS (SELECT doc_id, key,
      |    ('0x' || substr(key, 1, 15))::BIGINT % 16 AS shard FROM k)
      |SELECT doc_id, shard,
      |  row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)::BIGINT AS pos
      |FROM s""".stripMargin

  /** q68: hashed linear quality classifier (fastText/DSIR shape),
    * integer-exact deterministic weight table. */
  private def qHashClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.hashClassifierScore(
      graft.skew.Par.floor(t(spark, dir, "documents")), "doc_id", "text", nBuckets = 1 << 20)

  private val oHashClassifier =
    s"""WITH tk AS (SELECT doc_id,
       |    ${tokSql("text")} AS toks
       |  FROM documents),
       |sc AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |    coalesce(list_sum(list_transform(toks, t ->
       |      ((('0x' || substr(md5('w:' || t), 1, 15))::BIGINT % 1048576)
       |        * 2654435761) % 8191 - 4095)), 0)::BIGINT AS score_int
       |  FROM tk)
       |SELECT doc_id, n_tokens, score_int, score_int > 0 AS keep FROM sc""".stripMargin

  /** q69: context-budget truncation (keep the system turn + the longest
    * recent-turn suffix fitting 40 tokens) over the q64-style
    * documents-derived turns table. */
  private def qTruncateContext(spark: SparkSession, dir: String): DataFrame =
    graft.text.TranscriptOps.truncateContext(
      docSegments(spark, dir, "conv_id", "turn_idx", "text"), "conv_id", "turn_idx", "text",
      budgetTokens = 40L)

  private val oTruncateContext =
    s"""WITH turns AS (${docSegmentsSql("conv_id", "turn_idx", "text")}),
       |tk AS (SELECT conv_id, turn_idx, text, len(${wsSql("text")})::BIGINT AS tok FROM turns),
       |f AS (SELECT *, sum(tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revcum,
       |    min(turn_idx) OVER (PARTITION BY conv_id) AS min_idx
       |  FROM tk),
       |k AS (SELECT *, (turn_idx = min_idx OR revcum <= 40) AS keep FROM f)
       |SELECT conv_id, count(*)::BIGINT AS n_turns,
       |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(tok)::BIGINT AS n_tokens_total,
       |  sum(CASE WHEN keep THEN tok ELSE 0 END)::BIGINT AS n_tokens_kept,
       |  md5(coalesce(string_agg(CASE WHEN keep THEN text END, chr(10) ORDER BY turn_idx), ''))
       |    AS kept_md5
       |FROM k GROUP BY conv_id""".stripMargin

  /** q70: overlapping-window RAG chunking (32-token windows, stride 24). */
  private def qChunkDocs(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.chunkDocs(
      t(spark, dir, "documents"), "doc_id", "text", windowTokens = 32, strideTokens = 24)

  private val oChunkDocs =
    s"""WITH tk AS (SELECT doc_id, ${wsSql("text")} AS toks FROM documents),
       |d AS (SELECT doc_id, toks, len(toks)::BIGINT AS n,
       |    (1 + (greatest(len(toks) - 32, 0) + 23) // 24)::BIGINT AS nc FROM tk)
       |SELECT doc_id, u.i::BIGINT AS chunk_idx, (u.i * 24)::BIGINT AS tok_start,
       |  (least(u.i*24 + 32, n) - u.i*24)::BIGINT AS n_chunk_tokens,
       |  md5(array_to_string(toks[(u.i*24 + 1):least(u.i*24 + 32, n)], ' ')) AS chunk_md5
       |FROM d, unnest(generate_series(0, nc - 1)) AS u(i)""".stripMargin

  /** q71: conversation-level exact dedup. The turns fixture maps each
    * document to a conversation whose turn texts depend only on
    * (doc_id mod 250, turn_idx), so every fingerprint family has exactly
    * two copies and the first-wins keeper rule exercises on every row. */
  private def qConvDedup(spark: SparkSession, dir: String): DataFrame = {
    val turns = t(spark, dir, "documents").select(col("doc_id"))
      .select(col("doc_id").as("conv_id"), pmod(col("doc_id"), lit(250L)).as("fam"))
      .select(col("conv_id"), col("fam"),
        explode(sequence(lit(0L), pmod(col("fam"), lit(5L)))).as("turn_idx"))
      .select(col("conv_id"), col("turn_idx"),
        md5(concat(col("fam"), lit(":"), col("turn_idx"))).as("text"))
    graft.text.TranscriptOps.convExactDedup(turns, "conv_id", "turn_idx", "text")
  }

  private val oConvDedup =
    """WITH base AS (SELECT doc_id AS conv_id, doc_id % 250 AS fam FROM documents),
      |turns AS (SELECT conv_id, fam, g.i AS turn_idx
      |  FROM base, unnest(generate_series(0, fam % 5)) AS g(i)),
      |tx AS (SELECT conv_id, turn_idx,
      |    md5(fam::VARCHAR || ':' || turn_idx::VARCHAR) AS text FROM turns),
      |pc AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
      |    md5(string_agg(md5(text), '|' ORDER BY turn_idx)) AS conv_fp
      |  FROM tx GROUP BY conv_id),
      |fams AS (SELECT conv_fp, min(conv_id) AS keeper_id, count(*)::BIGINT AS n_copies
      |  FROM pc GROUP BY conv_fp)
      |SELECT conv_id, conv_fp, n_turns, n_copies, conv_id = keeper_id AS keep
      |FROM pc JOIN fams USING (conv_fp)""".stripMargin

  /** q72: degenerate agent-loop detection over the q66-style defective
    * turns table, with tool names on tool turns (run identity is the
    * (role, tool) pair). minRun=3. */
  private def qAgentLoops(spark: SparkSession, dir: String): DataFrame =
    graft.text.TranscriptOps.agentLoops(
      eventTurns(spark, dir).select("conv_id", "turn_idx", "role", "tool", "event_id"),
      "conv_id", "turn_idx", "role", "tool", "event_id", minRun = 3)

  private val oAgentLoops =
    s"""WITH $eventTurnsCte,
       |a AS (SELECT conv_id, turn_idx, event_id, role || coalesce(tool, '') AS act FROM turns),
       |l AS (SELECT *, CASE WHEN lag(act) OVER w IS NULL OR lag(act) OVER w <> act
       |      THEN 1 ELSE 0 END AS newrun
       |  FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, event_id)),
       |r AS (SELECT *, sum(newrun) OVER (PARTITION BY conv_id
       |      ORDER BY turn_idx, event_id ROWS UNBOUNDED PRECEDING) AS run FROM l),
       |runs AS (SELECT conv_id, run, count(*)::BIGINT AS run_len
       |  FROM r GROUP BY conv_id, run)
       |SELECT conv_id, count(*)::BIGINT AS n_runs, max(run_len)::BIGINT AS max_run_len,
       |  sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_degenerate_runs,
       |  sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) > 0 AS is_looping
       |FROM runs GROUP BY conv_id""".stripMargin

  /** q73: turn-order repair over the q66 defective turns table — dense
    * re-sequencing with lineage (orig_idx kept, moved flagged). */
  private def qRepairOrder(spark: SparkSession, dir: String): DataFrame =
    graft.text.TranscriptOps.repairTurnOrder(
      eventTurns(spark, dir).select("conv_id", "turn_idx", "event_id"),
      "conv_id", "turn_idx", "event_id")

  private val oRepairOrder =
    s"""WITH $eventTurnsCte
       |SELECT conv_id, turn_idx AS orig_idx, event_id AS ord,
       |  (row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, event_id) - 1)::BIGINT
       |    AS new_idx,
       |  (row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, event_id) - 1)
       |    <> turn_idx AS moved
       |FROM turns""".stripMargin

  /** q74: DPO preference-pair construction — completions grouped by a
    * shared-prompt key (doc_id mod 100 — 5 completions per prompt at
    * sf0.001), scored by token count, best-vs-rest pairs. */
  private def qPreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val comps = t(spark, dir, "documents").select(
      pmod(col("doc_id"), lit(100L)).as("prompt_fp"), col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("score"))
    graft.text.TranscriptOps.preferencePairs(comps, "doc_id", "prompt_fp", "score")
  }

  private val oPreferencePairs =
    s"""WITH c AS (SELECT doc_id % 100 AS prompt_fp, doc_id AS cid,
       |    len(${wsSql("text")})::BIGINT AS score FROM documents),
       |b AS (SELECT prompt_fp, max(score) AS chosen_score FROM c GROUP BY prompt_fp),
       |ch AS (SELECT c.prompt_fp, min(cid) AS chosen_id, max(b.chosen_score) AS chosen_score
       |  FROM c JOIN b ON c.prompt_fp = b.prompt_fp AND c.score = b.chosen_score
       |  GROUP BY c.prompt_fp)
       |SELECT c.prompt_fp, chosen_id, chosen_score, cid AS rejected_id,
       |  score AS rejected_score, chosen_score - score AS score_gap
       |FROM c JOIN ch ON c.prompt_fp = ch.prompt_fp WHERE cid <> chosen_id""".stripMargin

  /** q75: square-root temperature source sampling (alpha=0.5), gate and
    * rate both integer-exact across engines. */
  private def qTemperatureSample(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.sqrtTemperatureSample(
      t(spark, dir, "documents").select("doc_id", "source"), "doc_id", "source")

  private val oTemperatureSample =
    """WITH c AS (SELECT source, count(*)::BIGINT AS n_source FROM documents GROUP BY source),
      |m AS (SELECT min(n_source) AS n_min FROM c),
      |r AS (SELECT source, n_source,
      |    floor(sqrt(n_min::DOUBLE / n_source::DOUBLE) * 1099511627776)::BIGINT AS gate_bound
      |  FROM c, m)
      |SELECT d.doc_id, d.source, r.n_source, r.gate_bound,
      |  ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 10))::BIGINT < r.gate_bound AS keep
      |FROM documents d JOIN r USING (source)""".stripMargin

  /** q76: cross-source duplicate-flow matrix over manufactured family
    * assignments (fam = doc_id mod 177 — coprime with the source wheel's
    * 20, so families genuinely span sources and the arithmetic pair
    * counts exercise; 180 would alias the wheel and give an empty,
    * vacuously-green matrix; composes in production with q12/q34/q56
    * family outputs). */
  private def qDupFlowMatrix(spark: SparkSession, dir: String): DataFrame = {
    val assigned = t(spark, dir, "documents").select(
      pmod(col("doc_id"), lit(177L)).cast("string").as("fam"), col("source"))
    graft.dedup.Dedup.dupFlowMatrix(assigned, "fam", "source")
  }

  private val oDupFlowMatrix =
    """WITH asg AS (SELECT (doc_id % 177)::VARCHAR AS fp, source FROM documents),
      |fam AS (SELECT fp, source, count(*)::BIGINT AS n FROM asg GROUP BY fp, source)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  sum(a.n * b.n)::BIGINT AS n_cross_pairs,
      |  count(*)::BIGINT AS n_shared_families
      |FROM fam a JOIN fam b ON a.fp = b.fp AND a.source < b.source
      |GROUP BY a.source, b.source""".stripMargin

  /** q77: curriculum difficulty binning — exact per-source quartiles of
    * the token-count difficulty proxy. */
  private def qCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents").select(col("doc_id"), col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("score"))
    graft.text.TextAnalysis.curriculumBuckets(scored, "doc_id", "source", "score", 4)
  }

  private val oCurriculum =
    s"""WITH scored AS (SELECT doc_id, source,
       |    len(${wsSql("text")})::BIGINT AS score FROM documents),
       |vc AS (SELECT source, score, count(*)::BIGINT AS cnt
       |  FROM scored GROUP BY source, score),
       |dim AS (SELECT source, score,
       |    sum(cnt) OVER (PARTITION BY source) AS total,
       |    (sum(cnt) OVER (PARTITION BY source ORDER BY score
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) AS bef
       |  FROM vc)
       |SELECT s.doc_id, s.source, s.score,
       |  ((d.bef * 4) // d.total)::BIGINT AS bucket, d.total::BIGINT AS n_group
       |FROM scored s JOIN dim d ON s.source = d.source AND s.score = d.score""".stripMargin

  /** q78: composed end-to-end transcript-prep chain (repair → loop gate →
    * boiler strip → budget truncation → assemble → whole-conversation
    * packing) over the q72 defective-turns fixture extended with text:
    * every 7th event is a shared disclaimer (boiler df across convs),
    * the rest unique with parity-varied token counts. minRun=6: the
    * pseudo-random role wheel makes 3-runs near-certain in long convs
    * (minRun=3 gated out EVERY conversation — a vacuous chain), while
    * 6-runs flag only a deterministic minority. */
  private def qTranscriptChain(spark: SparkSession, dir: String): DataFrame = {
    val text = when(pmod(col("event_id"), lit(7L)) === 0L,
        lit("please review the standard disclaimer"))
      .otherwise(concat(lit("msg "), col("event_id"), lit(" alpha beta"),
        when(pmod(col("event_id"), lit(2L)) === 0L, lit(" gamma delta"))
          .otherwise(lit(""))))
    val turns = eventTurns(spark, dir).select(col("conv_id"), col("turn_idx"), col("role"),
      col("tool"), col("event_id"), text.as("text"))
    graft.text.TranscriptChain.transcriptChain(turns, "conv_id", "turn_idx",
      "role", "tool", "event_id", "text",
      minRun = 6, minConvs = 3, budgetTokens = 12L, packTokens = 64, nShards = 8)
  }

  private val oTranscriptChain =
    s"""WITH RECURSIVE $eventTurnsCte,
       |tt AS (SELECT *,
       |    CASE WHEN event_id % 7 = 0 THEN 'please review the standard disclaimer'
       |         ELSE 'msg ' || event_id::VARCHAR || ' alpha beta' ||
       |              (CASE WHEN event_id % 2 = 0 THEN ' gamma delta' ELSE '' END) END AS text
       |  FROM turns),
       |rep AS (SELECT conv_id, role, tool, event_id AS ord, text,
       |    (row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, event_id) - 1)::BIGINT
       |      AS new_idx
       |  FROM tt),
       |a AS (SELECT conv_id, new_idx, role || coalesce(tool, '') AS act FROM rep),
       |l AS (SELECT *, CASE WHEN lag(act) OVER w IS NULL OR lag(act) OVER w <> act
       |      THEN 1 ELSE 0 END AS newrun
       |  FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY new_idx)),
       |r0 AS (SELECT *, sum(newrun) OVER (PARTITION BY conv_id ORDER BY new_idx
       |      ROWS UNBOUNDED PRECEDING) AS run FROM l),
       |bad AS (SELECT DISTINCT conv_id FROM (
       |    SELECT conv_id, run, count(*) AS rl FROM r0 GROUP BY conv_id, run)
       |  WHERE rl >= 6),
       |gated AS (SELECT * FROM rep WHERE conv_id NOT IN (SELECT conv_id FROM bad)),
       |hh AS (SELECT *, md5(${normSql("text")}) AS h FROM gated),
       |nc AS (SELECT h, count(DISTINCT conv_id) AS nconv FROM hh GROUP BY h),
       |k1 AS (SELECT hh.* FROM hh JOIN nc USING (h) WHERE nconv < 3),
       |tk AS (SELECT *, len(${wsSql("text")})::BIGINT AS tok FROM k1),
       |f AS (SELECT *, sum(tok) OVER (PARTITION BY conv_id ORDER BY new_idx DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revcum,
       |    min(new_idx) OVER (PARTITION BY conv_id) AS min_idx FROM tk),
       |k2 AS (SELECT * FROM f WHERE new_idx = min_idx OR revcum <= 12),
       |asm AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY new_idx) AS clean_text
       |  FROM k2 GROUP BY conv_id),
       |t3 AS (SELECT conv_id AS doc_id, conv_id % 8 AS shard,
       |    len(${wsSql("clean_text")})::BIGINT AS n FROM asm),
       |${packWholeSql("t3", packTokens = 64)}""".stripMargin

  /** q79: mergeable KMV distinct-count sketch, k=16 — the 'tiny' group
    * (10 distinct ids) exercises the exact-below-k path, the 20 real
    * sources (~25 ids) the estimator path. */
  private def qKmvSketch(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val g = when(col("doc_id") < 10L, lit("tiny")).otherwise(col("source"))
    graft.sketch.Kmv.distinctSketch(
      docs.select(col("doc_id"), g.as("grp")), "doc_id", "grp", k = 16)
  }

  private val oKmvSketch =
    """WITH g AS (SELECT doc_id,
      |    CASE WHEN doc_id < 10 THEN 'tiny' ELSE source END AS grp FROM documents),
      |h AS (SELECT DISTINCT grp,
      |    ('0x' || substr(md5('kmv:' || doc_id::VARCHAR), 1, 10))::BIGINT AS h FROM g),
      |r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk FROM h),
      |s AS (SELECT grp, count(*)::BIGINT AS n_sketch, max(h) AS kth_hash
      |  FROM r WHERE rk <= 16 GROUP BY grp)
      |SELECT grp, n_sketch, kth_hash,
      |  CASE WHEN n_sketch < 16 THEN n_sketch::DOUBLE
      |       ELSE (15 * 1099511627776)::DOUBLE / kth_hash::DOUBLE END AS est_distinct
      |FROM s""".stripMargin

  /** q80: tool-call transition matrix over the q72 defective-turns
    * fixture (role wheel + t0/t1 tool names) — corpus-wide (from, to)
    * action-pair counts incl. the `<start>` edge. */
  private def qToolTransitions(spark: SparkSession, dir: String): DataFrame =
    graft.text.TranscriptOps.toolTransitions(
      eventTurns(spark, dir).select("conv_id", "turn_idx", "role", "tool", "event_id"),
      "conv_id", "turn_idx", "role", "tool", "event_id")

  private val oToolTransitions =
    s"""WITH $eventTurnsCte,
       |a AS (SELECT conv_id, turn_idx, event_id, role || coalesce(':' || tool, '') AS to_act FROM turns),
       |l AS (SELECT conv_id, to_act,
       |    coalesce(lag(to_act) OVER (PARTITION BY conv_id ORDER BY turn_idx, event_id),
       |      '<start>') AS from_act
       |  FROM a)
       |SELECT from_act, to_act, count(*)::BIGINT AS n_transitions,
       |  count(DISTINCT conv_id)::BIGINT AS n_convs
       |FROM l GROUP BY 1, 2""".stripMargin

  /** q81: deterministic global bottom-k sample — exact 100-row eval
    * carve by md5 priority, TakeOrderedAndProject plan. */
  private def qBottomKSample(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.bottomKSample(
      t(spark, dir, "documents").select("doc_id"), "doc_id", seed = 11L, k = 100)

  private val oBottomKSample =
    """WITH k AS (SELECT doc_id,
      |    md5('bksample:11:' || doc_id::VARCHAR) AS sample_key FROM documents),
      |r AS (SELECT doc_id, sample_key,
      |    row_number() OVER (ORDER BY sample_key, doc_id)::BIGINT AS sample_rank FROM k)
      |SELECT doc_id, sample_key, sample_rank FROM r WHERE sample_rank <= 100""".stripMargin

  /** q82: per-label exact-integer centroid similarity matrix over the
    * embeddings table (10 labels x 64 dims; 45 pair rows). */
  private def qCentroidSim(spark: SparkSession, dir: String): DataFrame =
    graft.ann.Similarity.centroidSimMatrix(
      t(spark, dir, "embeddings"), "embedding", "label")

  private val oCentroidSim =
    s"""WITH q AS (SELECT label AS grp,
       |    [floor(x::DOUBLE * 1048576.0)::BIGINT FOR x IN embedding] AS qv FROM embeddings),
       |d AS (SELECT grp, g.i - 1 AS dim, qv[g.i] AS v
       |  FROM q, unnest(generate_series(1, len(qv))) AS g(i)),
       |s AS (SELECT grp, dim, sum(v)::BIGINT AS s, count(*)::BIGINT AS n
       |  FROM d GROUP BY grp, dim),
       |c AS (SELECT grp, list(s::DOUBLE ORDER BY dim) AS cv, max(n) AS n_members
       |  FROM s GROUP BY grp)
       |SELECT a.grp AS grp_a, b.grp AS grp_b, a.n_members AS n_a, b.n_members AS n_b,
       |  ${cosSql("a.cv", "b.cv")} AS centroid_cos
       |FROM c a, c b WHERE a.grp < b.grp""".stripMargin

  /** q83: temperature-mixture epoch execution — sqrt-rule repeat rates
    * (largest source = 1 epoch, smaller sources upsampled), exploded to
    * per-copy rows with content-keyed shards. */
  private def qEpochRepeats(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.temperatureEpochRepeats(
      t(spark, dir, "documents").select("doc_id", "source"), "doc_id", "source",
      nShards = 8)

  private val oEpochRepeats =
    """WITH c AS (SELECT source, count(*)::BIGINT AS n_source FROM documents GROUP BY source),
      |m AS (SELECT max(n_source) AS n_max FROM c),
      |r AS (SELECT source, n_source,
      |    sqrt(n_max::DOUBLE / n_source::DOUBLE) AS rate FROM c, m),
      |rr AS (SELECT source, n_source, floor(rate)::BIGINT AS base_repeats,
      |    floor((rate - floor(rate)) * 1099511627776)::BIGINT AS gate_bound FROM r),
      |dd AS (SELECT doc_id, d.source, n_source,
      |    base_repeats + (CASE WHEN
      |      ('0x' || substr(md5('epoch:' || doc_id::VARCHAR), 1, 10))::BIGINT < gate_bound
      |      THEN 1 ELSE 0 END) AS n_repeats
      |  FROM documents d JOIN rr USING (source))
      |SELECT doc_id, source, n_source, n_repeats, g.i::BIGINT AS repeat_idx,
      |  ('0x' || substr(md5('shard:' || doc_id::VARCHAR || ':' || g.i::VARCHAR), 1, 10))::BIGINT
      |    % 8 AS shard
      |FROM dd, unnest(generate_series(0, n_repeats - 1)) AS g(i)
      |WHERE n_repeats > 0""".stripMargin

  /** q84: per-group exact bottom-k — fixed 25-doc carve per source
    * (salted two-level reduction, no single-task group sort). */
  private def qBottomKPerGroup(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.bottomKPerGroup(
      t(spark, dir, "documents").select("doc_id", "source"), "doc_id", "source",
      seed = 7L, k = 25)

  private val oBottomKPerGroup =
    """WITH kk AS (SELECT source, doc_id,
      |    md5('bkgroup:7:' || doc_id::VARCHAR) AS sample_key FROM documents),
      |r AS (SELECT source, doc_id, sample_key,
      |    row_number() OVER (PARTITION BY source ORDER BY sample_key, doc_id)::BIGINT AS sample_rank
      |  FROM kk)
      |SELECT source, doc_id, sample_key, sample_rank FROM r WHERE sample_rank <= 25""".stripMargin

  /** q85: per-doc vocabulary-coverage (OOV) audit against the q54 top-50
    * vocabulary artifact. */
  private def qOovAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.text.CorpusAnalysis.oovAudit(docs, "doc_id", "text",
      graft.text.CorpusAnalysis.vocabTopK(docs, "text", 50))
  }

  private val oOovAudit =
    s"""WITH $vocabTopCtes,
       |dt AS (SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
       |agg AS (SELECT dt.doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(CASE WHEN top.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
       |  FROM dt LEFT JOIN top ON dt.term = top.term GROUP BY 1)
       |SELECT d.doc_id, coalesce(agg.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(agg.n_oov, 0)::BIGINT AS n_oov,
       |  CASE WHEN coalesce(agg.n_tokens, 0) > 0
       |    THEN coalesce(agg.n_oov, 0)::DOUBLE / agg.n_tokens::DOUBLE END AS oov_rate
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin

  // -------------------------------------------------------------------------

  /** Every query in q-number order: the one list Verify, Bench, QuickQ,
    * PlansDump and GoldenParquetGen read. */
  lazy val registry: Seq[Query] = Seq(
    Query("q01_text_metrics", qTextMetrics, oTextMetrics, benched = false),
    Query("q02_parse_number", qParseNumber, pnumMacro + ";\n" + oParseNumber, benched = true),
    Query("q03_line_explode", qLineExplode, oLineExplode, benched = false),
    Query("q04_line_filters", qLineFilters, oLineFilters, benched = false),
    Query("q05_regex_extract", qRegexExtract, oRegexExtract, benched = true),
    Query("q06_dedup_firstwins", qDedupFirstWins, oDedupFirstWins, benched = true),
    Query("q07_group_stats", qGroupStats, oGroupStats, benched = true),
    Query("q08_best_argmax", qBestArgmax, oBestArgmax, benched = false),
    Query("q09_doctype_scores", qDoctypeScores, oDoctypeScores, benched = false),
    Query("q10_topk", qTopK, oTopK, benched = true),
    Query("q11_fuzzy_topk", qFuzzyTopK, oFuzzyTopK, benched = true),
    Query("q12_dedup_exact", qDedupExact, oDedupExact, benched = true),
    Query("q13_ngram_jaccard", qNgramJaccard, oNgramJaccardFull, benched = false),
    Query("q14_lang_id", qLangId, oLangId, benched = false),
    Query("q15_token_counts", qTokenCounts, oTokenCounts, benched = true),
    Query("q16_fingerprint", qFingerprint, oFingerprint, benched = false),
    Query("q17_sessionize", qSessionize, oSessionize, benched = true),
    Query("q18_extract_turns", qExtractTurns, goldenOracleSql("q18_extract_turns"), benched = true),
    Query("q19_extract_items", qExtractItems, goldenOracleSql("q19_extract_items"), benched = true),
    Query("q20_wratio_match", qWratioMatch, goldenOracleSql("q20_wratio_match"), benched = false),
    Query("q21_minhash_candidates", qMinhashCandidates, minhashCandSql(k = 3, bands = 8, rowsPerBand = 4, maxBucket = 10000), benched = true),
    Query("q22_simhash_candidates", qSimhashCandidates, simhashCandSql(maxHamming = 3, maxBucket = 10000), benched = true),
    Query("q23_embed_neardup", qEmbedNearDup, oEmbedNearDup, benched = false),
    Query("q24_ann_topk", qAnnTopK, oAnnTopK, benched = true),
    Query("q25_ann_lsh", qAnnLsh, lshPairsSql(nPlanes = 6, dim = 64, threshold = 0.3, maxBucket = 10000), benched = true),
    Query("q26_multimodal_meta", qMultimodalMeta, oMultimodalMeta, benched = true),
    Query("q27_join_agg", qJoinAgg, oJoinAgg, benched = false),
    Query("q28_rollup", qRollup, oRollup, benched = false),
    Query("q29_running_sum", qRunningSum, oRunningSum, benched = false),
    Query("q30_ann_ivf", qAnnIvf, ivfSql(k = 16, nProbe = 4, topK = 5, nQueries = 10, trainN = 4096), benched = true),
    Query("q31_dedup_clusters", qDedupClusters, oDedupClusters, benched = false),
    Query("q32_quality_score", qQuality, oQuality, benched = false),
    Query("q33_det_sample", qSample, oSample, benched = false),
    Query("q34_lsh_dedup", qLshDedup, oLshDedup, benched = true),
    Query("q35_distinctive_terms", qDistinctiveTerms, oDistinctiveTerms, benched = true),
    Query("q36_pii_scrub", qPiiScrub, oPiiScrub, benched = false),
    Query("q37_contamination", qContamination, oContamination, benched = true),
    Query("q38_boilerplate", qBoilerplate, oBoilerplate, benched = true),
    Query("q39_asof_join", qAsofJoin, oAsofJoin, benched = true),
    Query("q40_range_join", qRangeJoin, oRangeJoin, benched = true),
    Query("q41_blocked_match", qBlockedMatch, oBlockedMatch, benched = true),
    Query("q42_asof_salted", qAsofSalted, oAsofSaltedHot, benched = false),
    Query("q43_repetition", qRepetition, oRepetition, benched = true),
    Query("q44_corpus_filter", qCorpusFilter, oCorpusFilter, benched = true),
    Query("q45_stratified_sample", qStratifiedSample, oStratifiedSample, benched = true),
    Query("q46_pack_sequences", qPackSequences, oPackSequences, benched = true),
    Query("q47_quantize_int8", qQuantize, oQuantize, benched = true),
    Query("q48_source_filter", qSourceFilter, oSourceFilter, benched = true),
    Query("q49_session_window", qSessionWindow, oSessionWindow, benched = true),
    Query("q50_contamination_bloom", qContaminationBloom, oContamination, benched = true),
    Query("q51_dup_spans", qDupSpans, oDupSpans, benched = true),
    Query("q52_cluster_best", qClusterBest, oClusterBest, benched = true),
    Query("q53_lexical_commonness", qLexicalCommonness, oLexicalCommonness, benched = true),
    Query("q54_vocab_topk", qVocabTopK, oVocabTopK, benched = true),
    Query("q55_source_mix", qSourceMix, oSourceMix, benched = true),
    Query("q56_semdedup_pairs", qSemDedup, oSemDedup, benched = true),
    Query("q57_corpus_chain", qCorpusChain, oCorpusChain, benched = true),
    Query("q58_incremental_dedup", qIncrementalDedup, oLshDedup, benched = true),
    Query("q59_semdedup_keep", qSemDedupKeep, oSemDedupKeep, benched = true),
    Query("q60_semdedup_incremental", qSemDedupIncr, oSemDedupIncr, benched = true),
    Query("q61_remove_dup_spans", qRemoveDupSpans, oRemoveDupSpans, benched = true),
    Query("q62_bpe_pairs", qBpePairs, oBpePairs, benched = true),
    Query("q63_pack_whole", qPackWhole, oPackWhole, benched = true),
    Query("q64_strip_boiler_turns", qStripBoilerTurns, oStripBoilerTurns, benched = true),
    Query("q65_length_profile", qLengthProfile, oLengthProfile, benched = true),
    Query("q66_conv_integrity", qConvIntegrity, oConvIntegrity, benched = true),
    Query("q67_global_shuffle", qGlobalShuffle, oGlobalShuffle, benched = true),
    Query("q68_hash_classifier", qHashClassifier, oHashClassifier, benched = true),
    Query("q69_truncate_context", qTruncateContext, oTruncateContext, benched = true),
    Query("q70_chunk_docs", qChunkDocs, oChunkDocs, benched = true),
    Query("q71_conv_dedup", qConvDedup, oConvDedup, benched = true),
    Query("q72_agent_loops", qAgentLoops, oAgentLoops, benched = true),
    Query("q73_repair_order", qRepairOrder, oRepairOrder, benched = true),
    Query("q74_preference_pairs", qPreferencePairs, oPreferencePairs, benched = true),
    Query("q75_temperature_sample", qTemperatureSample, oTemperatureSample, benched = true),
    Query("q76_dup_flow_matrix", qDupFlowMatrix, oDupFlowMatrix, benched = true),
    Query("q77_curriculum", qCurriculum, oCurriculum, benched = true),
    Query("q78_transcript_chain", qTranscriptChain, oTranscriptChain, benched = true),
    Query("q79_kmv_sketch", qKmvSketch, oKmvSketch, benched = true),
    Query("q80_tool_transitions", qToolTransitions, oToolTransitions, benched = true),
    Query("q81_bottomk_sample", qBottomKSample, oBottomKSample, benched = true),
    Query("q82_centroid_sim", qCentroidSim, oCentroidSim, benched = true),
    Query("q83_epoch_repeats", qEpochRepeats, oEpochRepeats, benched = true),
    Query("q84_bottomk_per_group", qBottomKPerGroup, oBottomKPerGroup, benched = true),
    Query("q85_oov_audit", qOovAudit, oOovAudit, benched = true))

  lazy val byName: Map[String, Query] = registry.map(q => q.name -> q).toMap

  /** The queries graft.Bench times, in registry order. */
  def benched: Seq[Query] = registry.filter(_.benched)

  /** n-gram jaccard oracle: shingles built identically (token 3-grams over
    * lowercase alnum tokens, distinct). */
  private val oNgramJaccardFull =
    s"""WITH ${toksSql(3, "documents WHERE doc_id < 120")},
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    len(list_intersect(a.s, b.s))::BIGINT AS inter,
       |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::BIGINT AS uni
       |  FROM sh a, sh b WHERE a.id < b.id)
       |SELECT id_a, id_b, inter, uni, inter / uni::DOUBLE AS jaccard
       |FROM pairs WHERE inter / uni::DOUBLE > 0.02""".stripMargin
}
