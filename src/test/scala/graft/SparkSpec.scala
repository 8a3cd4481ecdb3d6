package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Spark-level integration: pipeline, custom expression, skew salting,
  * manifest resume, matching join, dedup/ANN operators. */
class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("transcripts generator is deterministic and skewed") {
    val a = graft.io.Transcripts.generateDF(spark, 500L).collect().map(_.toString).sorted
    val b = graft.io.Transcripts.generateDF(spark, 500L).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    val counts = graft.io.Transcripts.generateDF(spark, 500L)
      .groupBy("conv_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("conv-hot-00000000") == 25L) // 5% hot conversation
    assert(counts.filter(_._1 != "conv-hot-00000000").values.forall(_ <= 8L))
  }

  test("extraction pipeline is map-only (no shuffle/exchange in the plan)") {
    val turns = graft.io.Transcripts.generateDF(spark, 100L)
    val plan = Pipeline.extractTurns(turns).toDF().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("extraction over Spark matches the pure engine row-for-row") {
    val turns = graft.io.Transcripts.generateDF(spark, 200L)
    val viaSpark = Pipeline.extractTurns(turns).toDF()
      .select("conv_id", "turn_idx", "best_parser", "best_count", "extracted_text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    val direct = (0L until 200L).map { id =>
      val t = graft.io.Transcripts.turnFor(42L, id, 200L, 0.05, 8)
      val r = graft.core.Engine.parseTurn(t.conv_id, t.turn_idx, t.text)
      (r.conv_id, r.turn_idx, r.best_parser, r.best_count, r.extracted_text)
    }.sortBy(t => (t._1, t._2))
    assert(viaSpark.toSeq == direct)
  }

  test("parse_number expression matches core Num under codegen") {
    import spark.implicits._
    val inputs = Seq("1 234,56", "1,234.56", "1,5", "2 000", "абв", "", "12,345",
      "100.50 руб", "-7,25", "5.", "1.2.3")
    val df = inputs.toDF("s").select(col("s"), graft.expr.functions.parse_number(col("s")).as("p"))
    val got = df.collect().map(r => r.getString(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    inputs.foreach { s => assert(got(s) == graft.core.Num.parse(s), s) }
  }

  test("salted repartition spreads the hot conversation and keeps order") {
    val turns = graft.io.Transcripts.generateDF(spark, 1000L)
    val extracted = Pipeline.extractTurns(turns).toDF()
    val salted = graft.skew.Salt.saltedRepartition(extracted, 8, 4)
    val parts = salted.select(col("conv_id"), spark_partition_id().as("pid"))
      .where(col("conv_id") === "conv-hot-00000000")
      .select("pid").distinct().count()
    assert(parts >= 3, s"hot conv only on $parts partitions") // spread over ~salt partitions
    // per-partition (conv_id, turn_idx) must be sorted
    val ok = salted.select(col("conv_id"), col("turn_idx"))
      .mapPartitions { it =>
        val rows = it.map(r => (r.getString(0), r.getInt(1))).toSeq
        Iterator.single(rows == rows.sortBy(identity))
      }(org.apache.spark.sql.Encoders.scalaBoolean).collect()
    assert(ok.forall(identity))
  }

  test("manifest-committed run resumes exactly (skips committed chunks)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val turns = graft.io.Transcripts.generateDF(spark, 300L)
    val ran1 = graft.io.Manifests.resumableExtract(spark, turns, dir, nChunks = 4, numPartitions = 4, salt = 2)
    assert(ran1 == 4)
    val m1 = graft.io.Manifests.readManifests(dir)
    assert(m1.length == 4 && m1.map(_.rows).sum == 300L)
    // resume: nothing re-runs, manifests unchanged
    val ran2 = graft.io.Manifests.resumableExtract(spark, turns, dir, nChunks = 4, numPartitions = 4, salt = 2)
    assert(ran2 == 0)
    assert(graft.io.Manifests.readManifests(dir).map(m => (m.chunk, m.rows, m.checksum)) ==
      m1.map(m => (m.chunk, m.rows, m.checksum)))
    // partial resume: delete one manifest, only that chunk re-runs, checksum identical
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "manifest", "chunk-00002.json"))
    val ran3 = graft.io.Manifests.resumableExtract(spark, turns, dir, nChunks = 4, numPartitions = 4, salt = 2)
    assert(ran3 == 1)
    assert(graft.io.Manifests.readManifests(dir).map(m => (m.chunk, m.rows, m.checksum)) ==
      m1.map(m => (m.chunk, m.rows, m.checksum)))
    // output parquet row count matches manifests
    val total = spark.read.parquet(s"$dir/chunk=*").count()
    assert(total == 300L)
  }

  test("manifests read back the lineage they commit: input, chunk predicate, part files and sizes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-lineage").toString
    val turns = graft.io.Transcripts.generateDF(spark, 60L)
    assert(graft.io.Manifests.resumableExtract(spark, turns, dir, nChunks = 2, numPartitions = 2,
      salt = 2, inputDesc = "sf0.001/turns") == 2)
    val ms = graft.io.Manifests.readManifests(dir)
    assert(ms.map(_.chunk) == Seq(0, 1))
    ms.foreach { m =>
      assert(m.input == "sf0.001/turns")
      assert(m.predicate == s"pmod(xxhash64(conv_id), 2) = ${m.chunk}")
      val onDisk = new java.io.File(s"$dir/chunk=${m.chunk}").listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).map(f => f.getName -> f.length()).toSeq
      assert(onDisk.nonEmpty && m.files == onDisk, m)
    }
  }

  test("manifest JSON escapes its strings: a quote or backslash in the input keeps it parseable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-json").toString
    val turns = graft.io.Transcripts.generateDF(spark, 40L)
    val inputDesc = "a\"b\\c"
    assert(graft.io.Manifests.resumableExtract(spark, turns, dir, nChunks = 2, numPartitions = 2,
      salt = 2, inputDesc = inputDesc) == 2)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (k <- 0 until 2) {
      val text = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "manifest", f"chunk-$k%05d.json"))
      val node = mapper.readTree(text) // throws on malformed JSON
      assert(node.get("input").asText() == inputDesc, text)
      assert(node.get("chunk").asInt() == k && node.get("partition_files").isArray, text)
    }
    val ms = graft.io.Manifests.readManifests(dir)
    assert(ms.map(_.chunk) == Seq(0, 1) && ms.map(_.rows).sum == 40L)
    assert(graft.io.Manifests.readCommitted(spark, dir, verify = true).count() == 40L)
  }

  test("Par.floor refuses a plan with an unmaterialized exchange before running any job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val shuffly = spark.range(0, 1000).toDF("x").groupBy((col("x") % 7).as("k")).count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      intercept[IllegalArgumentException] { graft.skew.Par.floor(shuffly) }
      Bridge.waitListenerBus(spark)
      assert(jobs.get == 0, s"${jobs.get} Spark jobs ran while the plan was being built")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a single-partition scan still gets its floor
    val scan = spark.range(0, 100, 1, 1).toDF("x")
    assert(graft.skew.Par.floor(scan).queryExecution.executedPlan.toString.contains("RoundRobinPartitioning"))
  }

  test("query registry: 85 queries in q-number order, 67 benched") {
    // every entry carries its own oracle by type; what the type cannot
    // say is that names are unique and ordered (Verify's dump order,
    // Bench's JSON key order) and that no oracle is blank
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 85)
    assert(names.forall(_.matches("q\\d\\d_[a-z0-9_]+")), names)
    // strictly increasing q-numbers: ordered, and no name or number twice
    val qNums = names.map(_.take(3))
    assert(qNums.distinct == qNums && qNums.sorted == qNums, s"not in strict q-number order: $names")
    SparkEntry.registry.foreach(q => assert(q.oracleSql.trim.nonEmpty, s"${q.name} has a blank oracle"))
    assert(SparkEntry.benched.size == 67)
  }

  test("committed-only read hides uncommitted chunks and audits checksums") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snapshot").toString
    val turns = graft.io.Transcripts.generateDF(spark, 200L)
    graft.io.Manifests.resumableExtract(spark, turns, dir, nChunks = 4, numPartitions = 4, salt = 2)
    val full = graft.io.Manifests.readCommitted(spark, dir, verify = true)
    assert(full.count() == 200L)
    // simulate a crashed in-flight chunk: data files exist, manifest gone —
    // a consistent reader must not see it
    val m2 = graft.io.Manifests.readManifests(dir).find(_.chunk == 2).get
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "manifest", "chunk-00002.json"))
    val partial = graft.io.Manifests.readCommitted(spark, dir, verify = true)
    assert(partial.count() == 200L - m2.rows)
    // corrupt a committed chunk's data (drop one part file): the audit read
    // must refuse it, the plain read (Iceberg's no-verify fast path) won't
    val chunk0 = new java.io.File(s"$dir/chunk=0")
    val part = chunk0.listFiles().filter(_.getName.startsWith("part-")).head
    assert(part.delete())
    intercept[IllegalArgumentException] {
      graft.io.Manifests.readCommitted(spark, dir, verify = true).count()
    }
  }

  test("snapshot time travel: a pinned version ignores chunks committed after it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-timetravel").toString
    val t1 = graft.io.Transcripts.generateDF(spark, 120L)
    graft.io.Manifests.resumableExtract(spark, t1, dir, nChunks = 2, numPartitions = 2, salt = 2)
    val v1 = graft.io.Manifests.snapshot(dir)
    assert(v1.version == 1 && v1.chunks == Seq(0, 1) && v1.rows == 120L)
    // epoch 2 appends chunks 2,3 (0,1 skip as already committed)
    val t2 = graft.io.Transcripts.generateDF(spark, 240L)
    graft.io.Manifests.resumableExtract(spark, t2, dir, nChunks = 4, numPartitions = 2, salt = 2)
    val v2 = graft.io.Manifests.snapshot(dir)
    assert(v2.version == 2 && v2.chunks == Seq(0, 1, 2, 3))
    val asOf1 = graft.io.Manifests.readAsOf(spark, dir, 1, verify = true).count()
    val asOf2 = graft.io.Manifests.readAsOf(spark, dir, 2, verify = true).count()
    assert(asOf1 == 120L, "version 1 must not see later chunks")
    assert(asOf2 == v2.rows && v2.rows > 120L)
    assert(asOf2 == graft.io.Manifests.readCommitted(spark, dir).count(),
      "latest snapshot equals the live committed read")
    // a snapshot referencing a chunk whose manifest was lost must refuse, not under-read
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "manifest", "chunk-00003.json"))
    intercept[IllegalStateException] { graft.io.Manifests.readAsOf(spark, dir, 2) }
    // unknown version is an explicit error
    intercept[IllegalArgumentException] { graft.io.Manifests.readAsOf(spark, dir, 9) }
  }

  test("WRatio broadcast match assigns bands as the reference thresholds do") {
    import spark.implicits._
    val items = Seq(
      ("c1", 0, 0, "Кабель силовой ВВГнг 3х2,5"),
      ("c1", 0, 1, "СИП-4 4х25 ГОСТ 2022"),
      ("c1", 0, 2, "Болт анкерный М12 невероятный")
    ).toDF("conv_id", "turn_idx", "item_idx", "name")
    val products = graft.io.Transcripts.productsDim(spark)
    val m = graft.matching.Matching.topMatches(items, products, Seq("conv_id", "turn_idx", "item_idx"))
      .collect().groupBy(_.getAs[Int]("item_idx"))
    assert(m(0).exists(r => r.getAs[Boolean]("is_auto_match"))) // exact name in dim
    assert(m(1).nonEmpty && m(1).forall(_.getAs[Double]("score") >= 70.0))
    assert(!m.contains(2) || m(2).forall(!_.getAs[Boolean]("is_auto_match")))
  }

  test("exact dedup finds injected duplicate texts") {
    import spark.implicits._
    val docs = Seq((1L, "Hello  world"), (2L, "hello world"), (3L, "different text"))
      .toDF("doc_id", "text")
    val d = graft.dedup.Dedup.exact(docs, "doc_id", "text").collect()
    assert(d.length == 2)
    assert(d.find(_.getAs[Long]("n_docs") == 2L).map(_.getAs[Long]("keeper")).contains(1L))
  }

  test("minhash LSH recalls a heavily-overlapping pair") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val near = (1 to 57).map(i => s"token$i").mkString(" ") + " tokenx tokeny tokenz"
    val far = (100 to 160).map(i => s"token$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val cand = graft.dedup.Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)))
    val sim = graft.dedup.Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.contains((1L, 2L)))
  }

  test("native signature expressions match the declarative HOF formulation bit-for-bit") {
    import spark.implicits._
    val docs = ((1 to 60).map(i => (i.toLong, s"token$i alpha beta gamma doc body $i " * (i % 5 + 1))) ++
      Seq((100L, ""), (101L, "one two"), (102L, "ПРИВЕТ мир 123 x y z")))
      .toDF("doc_id", "text")
    val mExpr = docs.select(col("doc_id"),
        graft.expr.signatures.minhash_sig(graft.expr.textops.shingles_of(col("text"), 3), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val mHof = docs.select(col("doc_id"),
        HofRefs.minhashSigHof(col("text"), 3, 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(mExpr == mHof)
    val sExpr = docs.select(col("doc_id"),
        graft.expr.signatures.simhash_blocks(graft.expr.textops.tokens_of(col("text"))).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sHof = docs.select(col("doc_id"),
        HofRefs.simhashBlocksHof(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sExpr == sHof)
  }

  test("ANN brute-force top-k is deterministic and self-excluding") {
    import spark.implicits._
    val vecs = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val r1 = graft.ann.Similarity.bruteForceTopK(vecs, "vec_id", "embedding", nQueries = 3, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val r2 = graft.ann.Similarity.bruteForceTopK(vecs, "vec_id", "embedding", nQueries = 3, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(r1.sameElements(r2))
    assert(r1.length == 12)
    assert(r1.forall { case (q, _, n) => q != n })
  }

  test("parse_number is callable from SQL (extension function builder)") {
    // the functions GraftExtensions itself injects, as spark.sql.extensions
    // registers them at session build
    org.apache.spark.sql.graftbridge.TestExtensions
      .registerFunctions(spark, new graft.expr.GraftExtensions())
    val r = spark.sql("SELECT parse_number('1 234,56') AS p, parse_number('абв') AS q").collect()(0)
    assert(r.getDouble(0) == 1234.56)
    assert(r.isNullAt(1))
    val b = spark.sql("SELECT simhash_blocks(array('hello', 'world')) AS b").collect()(0)
    assert(b.getSeq[Long](0).length == 4)
    // minhash_sig: INT and BIGINT numHashes literals both fold
    // (Number.intValue); a non-foldable second argument fails with a clear
    // message, not a ClassCastException
    val sInt = spark.sql("SELECT minhash_sig(array('a b c'), 8) AS s").collect()(0).getSeq[Long](0)
    val sLong = spark.sql("SELECT minhash_sig(array('a b c'), CAST(8 AS BIGINT)) AS s")
      .collect()(0).getSeq[Long](0)
    assert(sInt.length == 8 && sInt == sLong)
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), CAST(rand() * 8 AS INT)) AS s").collect()
    }
    assert(err.getMessage != null)
    // a wrong-typed argument fails at analysis, before any job runs
    val typeErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash_blocks(1) AS b")
    }
    assert(typeErr.getMessage.contains("DATATYPE_MISMATCH"), typeErr.getMessage)
    // a null array element gives a null signature (as a null array does),
    // interpreted and in generated code, not a NullPointerException
    val nulls = spark.sql(
      "SELECT minhash_sig(array('a', NULL), 8) AS m, simhash_blocks(array('a', NULL)) AS s").collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    val rows = CodegenOnly(spark) {
      spark.range(2).selectExpr("IF(id = 0, array('a', NULL), array('a')) AS a")
        .selectExpr("minhash_sig(a, 8) AS m", "simhash_blocks(a) AS s").collect()
    }
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getSeq[Long](0).length == 8 && rows(1).getSeq[Long](1).length == 4)
  }

  test("IVF top-k with full probing equals brute force; partial probing is a subset search") {
    import spark.implicits._
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val brute = graft.ann.Similarity.bruteForceTopK(vecs, "vec_id", "embedding", nQueries = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // probing ALL centroids must recover the exact brute-force result
    val full = graft.ann.Similarity.ivfTopK(vecs, "vec_id", "embedding",
      nQueries = 4, topK = 3, k = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == brute)
    // partial probing returns topK per query deterministically
    val part1 = graft.ann.Similarity.ivfTopK(vecs, "vec_id", "embedding",
      nQueries = 4, topK = 3, k = 4, nProbe = 1).collect().map(_.toString).sorted
    val part2 = graft.ann.Similarity.ivfTopK(vecs, "vec_id", "embedding",
      nQueries = 4, topK = 3, k = 4, nProbe = 1).collect().map(_.toString).sorted
    assert(part1.sameElements(part2))
  }

  test("as-of join attaches the latest right row at-or-before each left ts") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, "u1", ts("2024-01-01 10:00:00"), 5.0),
                   (2L, "u1", ts("2024-01-01 12:00:00"), 6.0),
                   (3L, "u2", ts("2024-01-01 09:00:00"), 7.0))
      .toDF("event_id", "user_id", "ts", "v")
    val right = Seq(("u1", ts("2024-01-01 09:30:00"), 100.0),
                    ("u1", ts("2024-01-01 12:00:00"), 200.0), // equal ts -> inclusive
                    ("u2", ts("2024-01-01 09:30:00"), 300.0)) // after left -> no match
      .toDF("user_id", "ts", "rv")
    val out = graft.relational.AsOf.asofJoin(left, right, "user_id", "ts", Seq("rv"))
      .select("event_id", "asof_rv").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L) == Some(100.0))  // latest before 10:00
    assert(out(2L) == Some(200.0))  // equal ts is inclusive
    assert(out(3L) == None)         // nothing at-or-before 09:00
  }

  test("banded range join honors the exact interval incl. band boundaries") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime // ms
    def ts(offsetUs: Long) = new java.sql.Timestamp(base + offsetUs / 1000)
    val win = 3600000000L // 1h in us
    val left = Seq((1L, "u1", ts(2 * win))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      ("u1", ts(2 * win), 1.0),           // equal ts -> in
      ("u1", ts(2 * win - (win - 1000)), 2.0), // inside window, previous band -> in
      ("u1", ts(win), 3.0),               // exactly window before -> OUT (strict >)
      ("u1", ts(2 * win + 1000), 4.0))    // after left -> out
      .toDF("user_id", "ts", "value")
    val got = graft.relational.RangeJoin
      .intervalJoin(left, right, "user_id", "ts", win, Seq("value"))
      .select("r_value").collect().map(_.getDouble(0)).toSet
    assert(got == Set(1.0, 2.0))
  }

  test("repetition stats flag machine-generated text; corpus filter composes gates") {
    import spark.implicits._
    val repetitive = (1 to 50).map(_ => "buy now").mkString(" ")       // one dup 2-gram family
    val healthy = "the quick brown fox jumps over a lazy dog and then " +
      "wanders off into the quiet forest of tall green trees at dusk today"
    val docs = Seq((1L, healthy), (2L, repetitive), (3L, healthy)).toDF("doc_id", "text")
    val rep = graft.text.TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("is_repetitive")).toMap
    assert(rep(2L), "50x repeated bigram must flag")
    assert(!rep(1L))
    val cf = graft.text.TextAnalysis.corpusFilter(docs, "doc_id", "text", lang = "en")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("keep"), r.getAs[Boolean]("pass_dedup"), r.getAs[Boolean]("pass_repetition")))
      .toMap
    assert(cf(1L)._1, "healthy unique english doc is kept")
    assert(!cf(2L)._3 && !cf(2L)._1, "repetitive doc dropped via the repetition gate")
    assert(!cf(3L)._2 && !cf(3L)._1, "exact duplicate dropped via the dedup gate")
  }

  test("stratified sampling: per-stratum gates compose the flat deterministic gate") {
    import spark.implicits._
    val docs = (1 to 400).map(i => (i.toLong, if (i % 3 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // Uniform rates == the flat deterministic sample (same md5 gate).
    val uniform = graft.text.TextAnalysis.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 64, "de" -> 64), defaultOutOf256 = 64)
    val flat = graft.text.TextAnalysis.deterministicSample(docs, "doc_id", 64)
    assert(ids(uniform) == ids(flat))
    // Monotone membership: raising a stratum's rate only adds rows.
    val low = ids(graft.text.TextAnalysis.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 16), defaultOutOf256 = 64))
    val high = ids(graft.text.TextAnalysis.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 128), defaultOutOf256 = 64))
    assert(low.subsetOf(high))
    // Rate 0 empties a stratum; absent strata use the default.
    val zeroEn = graft.text.TextAnalysis.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 0), defaultOutOf256 = 256)
    assert(zeroEn.where($"lang" === "en").count() == 0)
    assert(zeroEn.where($"lang" === "de").count() ==
      docs.where($"lang" === "de").count())
  }

  test("sequence packing: lossless, contiguous, full packs except per-shard tails") {
    import spark.implicits._
    val docs = (1 to 120).map(i => (i.toLong, ("tok " * (i % 37 + 1)).trim))
      .toDF("doc_id", "text")
    val packed = graft.text.TextAnalysis
      .packSequences(docs, "doc_id", "text", packTokens = 64, nShards = 4)
      .collect()
    // Lossless: per-doc segment lengths sum to the doc's token count.
    val perDoc = packed.groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(4)).sum)
    (1 to 120).foreach { i => assert(perDoc(i.toLong) == (i % 37 + 1).toLong) }
    // Full packs: every (shard, pack) holds exactly 64 tokens except the
    // single highest pack per shard (the tail).
    val perPack = packed.groupBy(r => (r.getLong(0), r.getLong(1)))
      .view.mapValues(_.map(_.getLong(4)).sum).toMap
    val lastPack = perPack.keys.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    perPack.foreach { case ((shard, pack), tokens) =>
      if (pack < lastPack(shard)) assert(tokens == 64L, s"pack ($shard,$pack)")
      else assert(tokens <= 64L)
    }
    // Contiguous within a doc: a doc spanning packs restarts where it left off.
    val spanning = packed.groupBy(_.getLong(2)).filter(_._2.length > 1)
    assert(spanning.nonEmpty, "fixture must exercise boundary-spanning docs")
    spanning.foreach { case (_, segs) =>
      val ordered = segs.sortBy(_.getLong(1))
      ordered.sliding(2).foreach { case Array(a, b) =>
        assert(a.getLong(3) + a.getLong(4) == b.getLong(3), "gap inside doc")
        assert(b.getLong(1) == a.getLong(1) + 1, "non-adjacent packs")
      }
    }
  }

  test("length profile: exact nearest-rank percentiles over the collapsed value dimension") {
    import spark.implicits._
    val docs = ((1 to 10).map(i => ("a", ("x " * i).trim)) ++
      (1 to 4).map(_ => ("b", "x x x x x x x"))).toDF("source", "text")
    val got = graft.text.TextAnalysis.lengthProfile(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a: lengths 1..10 -> p50 = 5 (cum 5/10), p90 = 9, p99 = 10
    assert(got("a") == ((10L, 5L, 9L, 10L)), s"a: ${got("a")}")
    // b: four docs of length 7 collapse to ONE dimension row
    assert(got("b") == ((4L, 7L, 7L, 7L)), s"b: ${got("b")}")
  }

  test("whole-doc packing: greedy fill, no doc split, oversize isolated, matches scalar fold") {
    import spark.implicits._
    // doc 9 (shard 1) is oversize at cap 16; varied lengths force overflows
    val docs = (1 to 40).map(i => (i.toLong, ("tok " * (if (i == 9) 25 else i % 11 + 1)).trim))
      .toDF("doc_id", "text")
    val got = graft.text.TextAnalysis
      .packWholeDocs(docs, "doc_id", "text", packTokens = 16, nShards = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))).toMap
    assert(got.size == 40, "one row per doc")
    // independent scalar reference fold per shard in doc order
    val ref = scala.collection.mutable.Map[Long, (Long, Long, Long, Long, Boolean)]()
    (0 until 4).foreach { s =>
      var pack = 0L; var fill = 0L
      (1 to 40).filter(_ % 4 == s).foreach { i =>
        val n = (if (i == 9) 25 else i % 11 + 1).toLong
        if (fill > 0 && fill + n > 16) { pack += 1; fill = 0 }
        ref(i.toLong) = (s.toLong, n, pack, fill, n > 16)
        fill += n
      }
    }
    assert(got == ref.toMap, s"greedy packing diverges from the scalar fold")
    // no pack overflows except a lone oversize doc; oversize docs sit alone at offset 0
    val byPack = got.values.groupBy(v => (v._1, v._3))
    byPack.foreach { case ((shard, pack), ds) =>
      val total = ds.map(_._2).sum
      if (ds.exists(_._5)) {
        assert(ds.size == 1 && ds.head._4 == 0L, s"oversize doc must sit alone ($shard,$pack)")
      } else assert(total <= 16L, s"pack ($shard,$pack) overflows: $total")
    }
  }

  test("int8 quantization: codes bounded, dequant error within half a scale step") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // amax=0 -> scale 1.0, all-zero codes
      (3L, Array(-2.0f, 0.003f, 1.999f, 0.5f))).toDF("vec_id", "embedding")
    val out = graft.ann.Quantize.dequantError(vecs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(2L).getAs[Double]("scale") == 1.0)
    assert(out(2L).getAs[Long]("code_sum") == 0L)
    out.values.foreach { r =>
      val codes = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(r.getAs[Double]("max_abs_err") <= r.getAs[Double]("scale") * 0.5 + 1e-12)
    }
    // the max-magnitude element saturates exactly
    assert(out(1L).getAs[scala.collection.Seq[Int]]("codes")(3) == 127)
    assert(out(3L).getAs[scala.collection.Seq[Int]]("codes")(0) == -127)
  }

  test("token-blocked matcher equals the all-pairs matcher on the product dim") {
    val products = graft.io.Transcripts.productsDim(spark)
    val items = Pipeline.extractItems(graft.io.Transcripts.generateDF(spark, 300L))
      .select("conv_id", "turn_idx", "item_idx", "name")
    val keys = Seq("conv_id", "turn_idx", "item_idx")
    val cols = Seq("conv_id", "turn_idx", "item_idx", "name", "product_id",
      "match_sku", "match_name", "score", "rank", "is_auto_match")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
    val allPairs = canon(graft.matching.Matching.topMatches(items, products, keys))
    val blocked = canon(graft.matching.Matching.topMatchesBlocked(items, products, keys))
    assert(blocked == allPairs)
    assert(allPairs.nonEmpty)
  }

  test("blocked matcher recalls >=70 pairs that share NO whole token (typos, transliterations)") {
    import spark.implicits._
    // every real pair here scores >= 70 purely through WRatio's character
    // components — after preprocessing the names share no whole token, so
    // token-only blocking (round 3) missed them; the 3-gram keys must not
    val products = Seq(
      (1L, "S1", "widget"), (2L, "S2", "schraubenzieher"), (3L, "S3", "фильтрующий"))
      .toDF("product_id", "sku", "name")
    val items = Seq(
      (10L, "widgte"),          // in-token transposition
      (11L, "schraubenziher"),  // dropped letter mid-token
      (12L, "фильтрущий"),      // dropped letter, Cyrillic
      (13L, "qqq")              // matches nothing
    ).toDF("item_id", "name")
    val keys = Seq("item_id")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("item_id", "name", "product_id", "match_sku", "match_name",
          "score", "rank", "is_auto_match")
        .collect().map(_.toString).sorted.toSeq
    val all = canon(graft.matching.Matching.topMatches(
      items, products, keys, "name", 3, suggest = 70.0))
    val blk = canon(graft.matching.Matching.topMatchesBlocked(
      items, products, keys, "name", 3, suggest = 70.0))
    assert(all.nonEmpty, "fixture must produce >=70 pairs")
    assert(all.count(_.contains("widget")) >= 1, s"typo pair must clear 70: $all")
    assert(blk == all, s"3-gram blocking must recall every >=70 pair:\nall=$all\nblk=$blk")
  }

  test("star-contraction clustering converges in O(log n) rounds on a 100-hop path") {
    import spark.implicits._
    // a path 0-1-2-...-100 has diameter 100: min-label propagation needs
    // ~100 rounds, star contraction must stay under 15 (2^15 >> 101)
    val path = (0L until 100L).map(i => (i, i + 1))
    // plus a second component and a triangle to check labeling
    val other = Seq((200L, 201L), (201L, 202L), (200L, 202L))
    val pairs = (path ++ other).toDF("id_a", "id_b")
    // driverCap = 0 forces the DISTRIBUTED star-contraction path
    val (labels, rounds) = graft.dedup.Dedup.dedupClustersWithRounds(
      pairs, maxRounds = 15, driverCap = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rounds <= 15 && rounds > 0, s"took $rounds rounds")
    assert((0L to 100L).forall(got(_) == 0L))
    assert(Seq(200L, 201L, 202L).forall(got(_) == 200L))
    assert(got.size == 104)
    // the bounded driver union-find fast path must agree exactly
    val (fast, fastRounds) = graft.dedup.Dedup.dedupClustersWithRounds(pairs, maxRounds = 15)
    assert(fastRounds == 0)
    val gotFast = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotFast == got)
  }

  test("as-of join returns the true as-of row's null payload, from one right row") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, "u1", ts("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    // the TRUE as-of row (11:00) has a null payload value `a` — per-column
    // last(ignoreNulls) would wrongly reach back to 10:00's 1.0 and mix
    // columns from different rows; the struct formulation must not
    val right = Seq(
      ("u1", ts("2024-01-01 10:00:00"), Some(1.0), Some("x")),
      ("u1", ts("2024-01-01 11:00:00"), None: Option[Double], Some("y")))
      .toDF("user_id", "ts", "a", "b")
    val out = graft.relational.AsOf.asofJoin(left, right, "user_id", "ts", Seq("a", "b"))
      .select("asof_a", "asof_b").collect().head
    assert(out.isNullAt(0), "null in the as-of row must be returned as null")
    assert(out.getString(1) == "y")
  }

  test("salted as-of join equals the plain as-of join on a hot key") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    // one hot user with 300 interleaved events over 5 hours, plus a cold
    // user whose left rows land in buckets with NO right rows (carry-in
    // must cross empty buckets)
    val left = (0L until 150L).map(i => (i, "hot", ts(i * 2))) ++
      Seq((900L, "cold", ts(200L)), (901L, "cold", ts(290L)))
    val right = (0L until 100L).map(i => ("hot", ts(i * 3 + 1), i.toDouble)) ++
      Seq(("cold", ts(5L), 999.0))
    val l = left.toDF("event_id", "user_id", "ts")
    val r = right.toDF("user_id", "ts", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "asof_v").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1.0 else x.getDouble(1)))
        .sortBy(_._1).toSeq
    val plain = canon(graft.relational.AsOf.asofJoin(l, r, "user_id", "ts", Seq("v")))
    // 30-minute buckets -> the hot key spreads over 10 window partitions
    val salted = canon(graft.relational.AsOf.asofJoinSalted(
      l, r, "user_id", "ts", Seq("v"), bucketWidthUs = 30L * 60 * 1000000))
    assert(salted == plain)
  }

  test("LSH near-pair bucket cap excludes degenerate hot buckets") {
    import spark.implicits._
    val vec = (0 until 8).map(i => 1.0 + i * 0.1).toArray
    val emb = (0L until 4L).map(i => (i, vec)).toDF("vec_id", "embedding")
    // identical vectors -> one bucket of size 4
    val capped = graft.ann.Similarity.lshNearPairs(emb, "vec_id", "embedding",
      dim = 8, nPlanes = 4, threshold = 0.9, maxBucket = 3)
    assert(capped.count() == 0L, "bucket of 4 must be excluded at maxBucket=3")
    val open = graft.ann.Similarity.lshNearPairs(emb, "vec_id", "embedding",
      dim = 8, nPlanes = 4, threshold = 0.9, maxBucket = 10)
    assert(open.count() == 6L) // C(4,2) identical-vector pairs
  }

  test("contamination df-cap drops corpus-common boilerplate shingles") {
    import spark.implicits._
    val common = (1 to 8).map(i => s"common$i").mkString(" ")
    val shared = (1 to 8).map(i => s"shared$i").mkString(" ")
    def uniq(i: Int) = (1 to 8).map(j => s"u${i}x$j").mkString(" ")
    // 20 docs all carry the boilerplate 8-gram; docs 1 and 2 additionally
    // share a rare 8-gram
    val docs = (1 to 20).map { i =>
      val extra = if (i <= 2) s" $shared" else ""
      (i.toLong, s"$common ${uniq(i)}$extra")
    }.toDF("doc_id", "text")
    val uncapped = graft.text.CorpusAnalysis.contamination(
      docs, "doc_id", "text", k = 8, benchOutOf256 = 255, maxDf = 10000)
    assert(uncapped.count() == 20L, "every doc shares the boilerplate shingle")
    val capped = graft.text.CorpusAnalysis.contamination(
      docs, "doc_id", "text", k = 8, benchOutOf256 = 255, maxDf = 5)
    val got = capped.collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_shared_ngrams")).toMap
    assert(got.keySet == Set(1L, 2L), s"only the rare shared 8-gram survives: $got")
  }

  test("bloom-prefiltered contamination equals the exact-join contamination") {
    import spark.implicits._
    val common = (1 to 8).map(i => s"common$i").mkString(" ")
    val shared = (1 to 8).map(i => s"shared$i").mkString(" ")
    def uniq(i: Int) = (1 to 8).map(j => s"u${i}x$j").mkString(" ")
    val docs = (1 to 40).map { i =>
      val extra = if (i <= 3) s" $shared" else ""
      (i.toLong, s"$common ${uniq(i)}$extra")
    }.toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Long]("n_shared_ngrams"),
        r.getAs[Long]("n_bench_docs"))).sortBy(_._1).toSeq
    // both a selective bench gate and all-bench; cap exercised and not
    for (benchGate <- Seq(128, 255); maxDf <- Seq(5, 10000)) {
      val exact = canon(graft.text.CorpusAnalysis.contamination(
        docs, "doc_id", "text", k = 8, benchOutOf256 = benchGate, maxDf = maxDf))
      val bloom = canon(graft.text.CorpusAnalysis.contaminationBloom(
        docs, "doc_id", "text", k = 8, benchOutOf256 = benchGate, maxDf = maxDf))
      assert(bloom == exact, s"benchGate=$benchGate maxDf=$maxDf")
      if (benchGate == 255) assert(exact.nonEmpty)
    }
  }

  test("source blocklist filter drops exactly the listed sources via broadcast anti-join") {
    import spark.implicits._
    val docs = (1 to 30).map(i => (i.toLong, s"src${i % 5}")).toDF("doc_id", "source")
    val block = Seq("src1", "src3").toDF("blocked_source")
    val kept = graft.text.CorpusAnalysis.blocklistFilter(docs, "source", block, "blocked_source")
    assert(kept.select("source").distinct().collect().map(_.getString(0)).toSet ==
      Set("src0", "src2", "src4"))
    assert(kept.count() == 18L)
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join, got:\n$plan")
  }

  test("duplicated-span coverage merges overlapping spans, counts intra-doc repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),                  // shares a-b-c-d-e grams with doc 2
      (2L, "x y a b c d e q"),
      (3L, "p q r s t u v w"),                  // fully unique -> absent
      (4L, "m n o m n o m n o"),                // intra-doc repeats cover everything
      (5L, "a b c z1 z2 z3 z4 c d e")           // two separated duplicated islands
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.dupSpans(docs, "doc_id", "text", k = 3, minCount = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_dup_spans"), r.getAs[Long]("dup_tokens")))
      .toMap
    assert(!got.contains(3L), "unique doc has no duplicated span")
    assert(got(1L) == (1L, 5L), s"overlapping grams merge to one [0,5) span: ${got(1L)}")
    assert(got(2L) == (1L, 5L))
    assert(got(4L) == (1L, 9L), "intra-document repetition covers the whole doc")
    assert(got(5L) == (2L, 6L), s"separated islands stay separate: ${got(5L)}")
  }

  test("duplicated-span removal cuts exactly the merged islands, keeps clean docs whole") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q"),
      (3L, "p q r s t u v w"),
      (4L, "m n o m n o m n o"),
      (5L, "a b c z1 z2 z3 z4 c d e")
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.removeDupSpans(docs, "doc_id", "text", k = 3, minCount = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_tokens"), r.getAs[Long]("kept_tokens"),
        r.getAs[Long]("removed_tokens"), r.getAs[String]("clean_text"))))
      .toMap
    assert(got.size == 5, "one row per input doc, including clean and emptied ones")
    assert(got(1L) == ((8L, 3L, 5L, "f g h")), s"doc1: ${got(1L)}")
    assert(got(2L) == ((8L, 3L, 5L, "x y q")), s"doc2: ${got(2L)}")
    assert(got(3L) == ((8L, 8L, 0L, "p q r s t u v w")), "clean doc passes through whole")
    assert(got(4L) == ((9L, 0L, 9L, "")), "fully-duplicated doc empties")
    assert(got(5L) == ((10L, 4L, 6L, "z1 z2 z3 z4")), s"doc5: ${got(5L)}")
    // invariant vs the coverage statistic: removed == dup_tokens per doc
    val cov = graft.dedup.Dedup.dupSpans(docs, "doc_id", "text", k = 3, minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dup_tokens")).toMap
    got.foreach { case (id, (_, _, removed, _)) =>
      assert(removed == cov.getOrElse(id, 0L), s"doc $id removed=$removed cov=${cov.get(id)}")
    }
  }

  test("cluster representatives keep the best-scored member, tie-break min id") {
    import spark.implicits._
    // two near-dup families built from shared token runs (jaccard ~1.0)
    val fam1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fam2 = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val docs = Seq(
      (10L, fam1, 100L), (11L, fam1, 300L), (12L, fam1, 300L), // tie on 300 -> keeper 11
      (20L, fam2, 50L), (21L, fam2, 40L),                      // keeper 20
      (30L, "completely unrelated text with its own words here today", 999L) // singleton
    ).toDF("doc_id", "text", "score")
    val reps = graft.dedup.Dedup.clusterRepresentatives(
      docs, "doc_id", "text", scoreCol = "score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(reps.keySet == Set(10L, 20L), s"two duplicate families, no singleton rows: $reps")
    assert(reps(10L) == (3L, 11L, 300L), s"max score then min id wins: ${reps(10L)}")
    assert(reps(20L) == (2L, 20L, 50L))
  }

  test("exact-dup pre-collapse: a 100k-copy family is one chain node, argmax without windows") {
    import spark.implicits._
    val fam = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ((1L to 100000L).map(i => (i, fam, i)) ++ Seq(
      (200001L, "wholly unrelated text with its very own private words", 5L),
      // near-dup of the family text (high shingle overlap) — must merge
      // into the family's cluster through the rep-level LSH chain
      (200002L, fam + " iota kappa", 7L),
      // a 3-copy family BELOW k=3 tokens: empty shingle set, pairwise
      // jaccard is null -> must NOT cluster (matches the all-pairs oracle)
      (300001L, "one two", 1L), (300002L, "one two", 1L), (300003L, "ONE  TWO", 1L)
    )).toDF("doc_id", "text", "score")
    val clusters = graft.dedup.Dedup.lshDedupClusters(docs, "doc_id", "text",
      k = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)
    val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 100001, "100k-family + its near-dup; short family and singleton absent")
    assert((1L to 100000L).forall(got(_) == 1L))
    assert(got(200002L) == 1L, "near-dup joins the family's component via its keeper")
    assert(!got.contains(300001L) && !got.contains(200001L))
    // representatives: per-cluster argmax is a combinable aggregate, not a
    // window — a giant expanded family must not form one window partition
    val reps = graft.dedup.Dedup.clusterRepresentatives(docs, "doc_id", "text",
      scoreCol = "score", k = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)
    assert(!reps.queryExecution.executedPlan.toString.contains("Window"),
      "cluster argmax must not window over cluster_id")
    val r = reps.collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r.keySet == Set(1L))
    assert(r(1L) == (100001L, 100000L, 100000L), s"best score wins: ${r(1L)}")
  }

  test("lexical commonness scores ordinary-word docs above jargon docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),            // all corpus-frequent words
      (2L, "the dog sat on the mat"),
      (3L, "zyqx qwfp vbnm zzyy kkjj xxqq"),     // all hapax tokens
      (4L, "")                                   // empty -> absent
    ).toDF("doc_id", "text")
    val got = graft.text.CorpusAnalysis.lexicalCommonness(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_token_freq"),
          r.getAs[Double]("mean_token_freq"))).toMap
    assert(!got.contains(4L))
    // doc 3: six tokens, each freq 1 -> sum 6, mean 1.0
    assert(got(3L) == (6L, 6L, 1.0))
    // docs 1/2: "the"(x4 corpus-wide), sat/on/mat (x2), cat|dog (x1)
    assert(got(1L) == (6L, 4L + 4L + 2L + 2L + 2L + 1L, 15.0 / 6.0))
    assert(got(1L)._3 > got(3L)._3, "ordinary words outscore hapax jargon")
  }

  test("corpus-frequency operators are skew-proof: no hot-natural-key window, values exact") {
    import spark.implicits._
    // one term holds ~50% of ALL token instances (the Zipf head, worse
    // than the 30% adversarial bar): under the old window formulation its
    // frequency partition would serialize through one task; the groupBy +
    // join-back plan must carry NO window keyed on the natural term/norm
    // key — only distinctiveTerms' per-doc rank window survives.
    val docs = (1 to 100).map { i =>
      (i.toLong, s"hot hot hot u${i}a u${i}b u${i}c")
    }.toDF("doc_id", "text")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString

    val lex = graft.text.CorpusAnalysis.lexicalCommonness(docs, "doc_id", "text")
    assert(!plan(lex).contains("Window"), s"q53 must not window on term:\n${plan(lex)}")
    val lexGot = lex.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_token_freq"))).toMap
    // per doc: 3x hot (corpus freq 300) + 3 hapax -> sum 3*300 + 3*1
    assert(lexGot.size == 100)
    assert(lexGot.values.forall(_ == (6L, 903L)), s"got ${lexGot.values.toSet}")

    val boiler = graft.text.CorpusAnalysis.boilerplateLines(
      docs.select(col("doc_id"), concat(lit("SHARED data u"), col("doc_id")).as("text")),
      "doc_id", "text", sep = " data ", minDocs = 10)
    assert(!plan(boiler).contains("Window"), "q38 must not window on norm")
    val bGot = boiler.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_lines"), r.getAs[Long]("n_boiler_lines"))).toMap
    assert(bGot.values.forall(_ == (2L, 1L)), "the all-docs line flags, the unique one doesn't")

    val dt = graft.text.CorpusAnalysis.distinctiveTerms(docs, "doc_id", "text", topK = 5)
    val dtWindows = plan(dt).linesIterator.filter(_.contains("Window")).toSeq
    assert(dtWindows.nonEmpty && dtWindows.forall(_.contains("doc_id")),
      s"q35's only window is the per-doc rank:\n${dtWindows.mkString("\n")}")
    val d1 = dt.where(col("doc_id") === 1L).collect()
      .sortBy(_.getAs[Long]("rank")).map(r => (r.getString(2), r.getAs[Long]("tf"), r.getAs[Long]("df")))
    assert(d1.head == ("hot", 3L, 100L), s"tf-first ranking: ${d1.toSeq}")
    assert(d1.tail.toSeq == Seq(("u1a", 1L, 1L), ("u1b", 1L, 1L), ("u1c", 1L, 1L)))
  }

  test("cap guards drop a 30%-hot key map-side: no window, broadcast anti-join in plan") {
    import spark.implicits._
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    // contamination df-cap: one shingle in 30 of 40 docs (~30% of shingle rows)
    val common = (1 to 8).map(i => s"common$i").mkString(" ")
    def uniq(i: Int) = (1 to 8).map(j => s"u${i}x$j").mkString(" ")
    val docs = (1 to 40).map { i =>
      val head = if (i <= 30) s"$common " else ""
      (i.toLong, s"$head${uniq(i)}")
    }.toDF("doc_id", "text")
    val cont = graft.text.CorpusAnalysis.contamination(
      docs, "doc_id", "text", k = 8, benchOutOf256 = 255, maxDf = 5)
    val cp = plan(cont)
    assert(!cp.contains("Window"), "df cap must not be a window count")
    assert(cp.contains("LeftAnti") && cp.contains("BroadcastHashJoin"),
      s"over-cap keys must anti-filter via broadcast:\n$cp")
    // with the hot shingle capped away no cross-doc shingle remains
    assert(cont.count() == 0L)
    // minhash/simhash candidate buckets: same guard, no window anywhere
    val mh = graft.dedup.Dedup.minhashCandidates(docs, "doc_id", "text")
    assert(!plan(mh).contains("Window"))
    val sh = graft.dedup.Dedup.simhashCandidates(docs, "doc_id", "text")
    assert(!plan(sh).contains("Window"))
    // the capped semantics themselves are unchanged (hot bucket of 30
    // identical docs excluded at maxBucket=5, present at 10000)
    val same = (1 to 30).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    assert(graft.dedup.Dedup.minhashCandidates(same, "doc_id", "text",
      k = 3, bands = 8, rowsPerBand = 4, maxBucket = 5).count() == 0L)
    assert(graft.dedup.Dedup.minhashCandidates(same, "doc_id", "text",
      k = 3, bands = 8, rowsPerBand = 4, maxBucket = 10000).count() == 30L * 29 / 2)
  }

  test("vocab top-K and source-mix audit: exact counts, shares sum to 1, TakeOrdered plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha", "web"), (2L, "alpha gamma", "web"),
      (3L, "beta beta", "books"), (4L, "delta", "books"), (5L, "", "code"))
      .toDF("doc_id", "text", "source")
    val v = graft.text.CorpusAnalysis.vocabTopK(docs, "text", k = 3)
    val got = v.collect().sortBy(_.getLong(0)).map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // counts: alpha 3, beta 3, gamma 1, delta 1 -> tie-break term asc
    assert(got.toSeq == Seq((1L, "alpha", 3L), (2L, "beta", 3L), (3L, "delta", 1L)))
    // global top-K must plan as TakeOrdered, not a full sort
    assert(v.queryExecution.executedPlan.toString.contains("TakeOrdered"),
      "vocab top-K must be TakeOrderedAndProject")
    val m = graft.text.CorpusAnalysis.sourceMix(docs, "source", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getAs[Double]("token_share"))).toMap
    assert(m("web") == ((2L, 5L, 5.0 / 8.0)))
    assert(m("books")._2 == 3L && m("code")._2 == 0L)
    assert(math.abs(m.values.map(_._3).sum - 1.0) < 1e-15)
  }

  test("boilerplate-turn strip: cross-conv repeated turns cut, assembly ordered, no window") {
    import spark.implicits._
    // "sys prompt" opens convs 1,2,3 (whitespace-variant in conv 2 —
    // normalization must still match); "rare" appears twice but only in
    // conv 1 (intra-conv repeat is NOT boilerplate at minConvs=2)
    val turns = Seq(
      (1L, 1L, "sys prompt"), (1L, 2L, "hello there"), (1L, 3L, "rare"), (1L, 4L, "rare"),
      (2L, 1L, "  sys   prompt "), (2L, 2L, "unique answer"),
      (3L, 1L, "SYS PROMPT"), (3L, 2L, "sys prompt"), (3L, 3L, "own words")
    ).toDF("conv_id", "turn_idx", "text")
    val df = graft.text.CorpusAnalysis.stripBoilerplateTurns(
      turns, "conv_id", "turn_idx", "text", minConvs = 2)
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((4L, 1L, "hello there\nrare\nrare")), s"conv1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, "unique answer")), s"conv2: ${got(2L)}")
    assert(got(3L) == ((3L, 2L, "own words")), "case/space variants normalize to one template")
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "frequency must be a combinable groupBy + join-back, not a hash-keyed window")
  }

  test("BPE pair counts: vocab-weighted char pairs, single-char words excluded, TakeOrdered") {
    import spark.implicits._
    // words: aa x1, ab x3, b x2 (no pair), abc x1
    val docs = Seq((1L, "aa ab b"), (2L, "ab b ab"), (3L, "abc")).toDF("doc_id", "text")
    val got = graft.text.CorpusAnalysis.bpePairCounts(docs, "text", k = 10)
      .collect().sortBy(_.getLong(0)).map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // pairs: ab = 3 (from ab) + 1 (from abc) = 4; aa = 1; bc = 1 -> tie-break pair asc
    assert(got.toSeq == Seq((1L, "ab", 4L), (2L, "aa", 1L), (3L, "bc", 1L)), got.toSeq.toString)
    val plan = graft.text.CorpusAnalysis.bpePairCounts(docs, "text", k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), "BPE top-K must be TakeOrderedAndProject")
  }

  test("KeyCaps guards equal the window-count formulations they replaced, on Zipf-skewed keys") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deterministic Zipf-ish skew: key k0 holds ~45% of rows, long tail of
    // singletons — the exact shape the guards exist for
    val rows = (0 until 4000).map(i => (s"k${math.sqrt(i).toInt}", i.toLong))
      .toDF("key", "v")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("v").collect().map(_.getLong(0)).toSet
    for (cap <- Seq(1, 5, 63, 200, 4000)) {
      val guarded = ids(graft.skew.KeyCaps.dropOverCapKeys(rows, Seq("key"), cap,
        site = "spec_zipf_drop"))
      val windowed = ids(rows
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("key")))
        .where(col("__n") <= cap).drop("__n"))
      assert(guarded == windowed, s"dropOverCapKeys cap=$cap")
    }
    for (min <- Seq(1, 2, 64, 500)) {
      val guarded = ids(graft.skew.KeyCaps.keepKeysWithCountAtLeast(rows, Seq("key"), min,
        site = "spec_zipf_keep"))
      val windowed = ids(rows
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("key")))
        .where(col("__n") >= min).drop("__n"))
      assert(guarded == windowed, s"keepKeysWithCountAtLeast min=$min")
    }
  }

  test("SemDeDup pairs: one cluster equals brute force; multi-cluster is a subset; cap empties") {
    import spark.implicits._
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = canon(graft.dedup.Dedup.embeddingNearDup(
      vecs, "vec_id", "embedding", maxId = 40L, threshold = 0.3))
    // k=1: a single cluster holds everything -> exactly the brute-force pairs
    val one = canon(graft.ann.Similarity.semDedupPairs(
      vecs, "vec_id", "embedding", k = 1, threshold = 0.3))
    assert(one.nonEmpty && one == brute)
    // k>1: within-cluster comparison only -> a subset of brute force
    val multi = canon(graft.ann.Similarity.semDedupPairs(
      vecs, "vec_id", "embedding", k = 4, threshold = 0.3))
    assert(multi.subsetOf(brute))
    // a cluster denser than maxBucket is excluded, not exploded
    assert(graft.ann.Similarity.semDedupPairs(
      vecs, "vec_id", "embedding", k = 1, threshold = 0.3, maxBucket = 10).count() == 0L)
  }

  test("multimodal metadata extraction is deterministic over binary payloads") {
    import spark.implicits._
    val docs = Seq((0L, "some text payload"), (1L, "другой текст"), (2L, "v")).toDF("doc_id", "text")
    val media = graft.mm.Multimodal.synthesizeMedia(docs, "doc_id", "text")
    val meta = graft.mm.Multimodal.extractMeta(media).collect().sortBy(_.media_id)
    assert(meta.length == 3)
    assert(meta.map(_.kind).toSeq == Seq("image", "audio", "video"))
    assert(meta.forall(m => m.width >= 64 && m.height >= 64))
    assert(meta(2).n_frames >= 1)
    val again = graft.mm.Multimodal.extractMeta(media).collect().sortBy(_.media_id)
    assert(meta.map(_.checksum).sameElements(again.map(_.checksum)))
  }

  test("bucketed tables co-locate the join: zero Exchange on the bucketed key") {
    // the 100 TB technique for repeated joins on one key (doc_id here,
    // conv_id in the extraction pipeline): both sides written bucketed
    // on the join key means the shuffle happened ONCE at write time —
    // every later join reads co-located buckets with no Exchange at all
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS g_bucket_text")
    spark.sql("DROP TABLE IF EXISTS g_bucket_meta")
    docs.select("doc_id", "text")
      .write.format("parquet").bucketBy(8, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("g_bucket_text")
    docs.select("doc_id", "lang", "n_chars")
      .write.format("parquet").bucketBy(8, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("g_bucket_meta")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path (a toy table would broadcast): the
      // point is that the SORT-MERGE join needs NO exchange off buckets
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("g_bucket_text")
        .join(spark.table("g_bucket_meta"), Seq("doc_id"))
        .where(col("n_chars") > 0).select("doc_id", "lang")
      assert(joined.collect().length == docs.count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"bucketed join must run with no Exchange:\n${plan.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS g_bucket_text")
      spark.sql("DROP TABLE IF EXISTS g_bucket_meta")
    }
  }

  test("AQE skew-splits the keepKeysWithCountAtLeast semi-join on a degenerate gram key") {
    import spark.implicits._
    // the q51 scale argument rests on AQE splitting a skewed sort-merge
    // semi-join (a boilerplate gram's positions all land on one key);
    // assert the optimization actually FIRES on such a shape. Thresholds
    // are lowered so the toy fixture triggers what a 100 TB run would.
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pad = "x" * 64
      val rows = ((0 until 60000).map(i => ("hotgram", i.toLong, pad)) ++
        (0 until 2000).map(i => (s"g$i", i.toLong, pad)) ++
        (0 until 2000).map(i => (s"g$i", (10000 + i).toLong, pad)))
        .toDF("key", "v", "pad").repartition(4)
      val guarded = graft.skew.KeyCaps.keepKeysWithCountAtLeast(rows, Seq("key"), 2L,
          site = "spec_skew_keep")
        .select("v") // collect through guarded's OWN QueryExecution (count() would plan its own)
      assert(guarded.collect().length == 64000)
      val plan = guarded.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(500))
      assert(plan.contains("skew=true"),
        s"AQE must skew-split the semi-join:\n${plan.take(3000)}")
    } finally prev.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("corpus chain: no stage re-runs an upstream corpus pass (lineage cut at checkpoints)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val packed = graft.text.CorpusChain.corpusChain(
      docs, "doc_id", "text", "lang", "n_chars",
      lang = "en", rates = Map("en" -> 32, "de" -> 192), defaultOutOf256 = 64,
      packTokens = 512, nShards = 8)
    assert(packed.count() > 0)
    // every corpus pass (filter scan, signature fold, cluster labels) was
    // materialized exactly once behind a localCheckpoint: the FINAL plan
    // must contain zero parquet scans — if any stage's lineage re-ran the
    // corpus, a FileScan would reappear here
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.toLowerCase.contains("scan parquet"),
      s"corpus re-scan leaked into the chain plan:\n${plan.take(2000)}")
  }

  test("incremental dedup: batch-split merge equals from-scratch clusters on the union") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = labels(graft.dedup.Dedup.lshDedupClusters(docs, "doc_id", "text"))
    val old = docs.where(col("doc_id") < 250)
    val fresh = docs.where(col("doc_id") >= 250)
    val idx = graft.dedup.Dedup.buildDedupIndex(old, "doc_id", "text")
    val (incr, merged) = graft.dedup.Dedup.incrementalDedupClusters(
      idx, docs, fresh, "doc_id", "text")
    assert(labels(incr) == full,
      "incremental merge must reproduce the from-scratch clusters exactly")
    // second epoch folds onto the merged index: splitting the new batch
    // again must still equal the from-scratch result
    val idx2 = graft.dedup.Dedup.buildDedupIndex(docs.where(col("doc_id") < 150),
      "doc_id", "text")
    val (_, m1) = graft.dedup.Dedup.incrementalDedupClusters(idx2,
      docs.where(col("doc_id") < 250), docs.where(col("doc_id") >= 150 && col("doc_id") < 250),
      "doc_id", "text")
    val (incr2, _) = graft.dedup.Dedup.incrementalDedupClusters(
      graft.dedup.Dedup.compactDedupIndex(m1), docs, fresh, "doc_id", "text")
    assert(labels(incr2) == full,
      "two-epoch fold (with an inter-epoch compaction) must equal from-scratch")
    // keeper drift: a NEW doc with a smaller id than an old family's
    // keeper must relabel the family without re-signing it
    import spark.implicits._
    val t1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val t2 = (1 to 27).map(i => s"alpha$i").mkString(" ") + " beta1 beta2 beta3"
    val oldB = Seq((100L, t1), (101L, "  " + t1.toUpperCase + "  "), (200L, t2))
      .toDF("doc_id", "text")
    val newB = Seq((5L, t1)).toDF("doc_id", "text") // joins 100's family, takes over as keeper
    val unionB = oldB.unionByName(newB)
    val fullB = labels(graft.dedup.Dedup.lshDedupClusters(unionB, "doc_id", "text"))
    val (incrB, mB) = graft.dedup.Dedup.incrementalDedupClusters(
      graft.dedup.Dedup.buildDedupIndex(oldB, "doc_id", "text"),
      unionB, newB, "doc_id", "text")
    assert(labels(incrB) == fullB && fullB.forall(_._2 == 5L),
      s"keeper drift must relabel to the new min id: ${labels(incrB)} vs $fullB")
    // the merged index signed NOTHING new (doc 5's family hash was indexed)
    assert(mB.sigs.count() == graft.dedup.Dedup
      .buildDedupIndex(oldB, "doc_id", "text").sigs.count())
  }

  test("SemDeDup at k=256 equals brute force within clusters; no data-sized plan literal") {
    import spark.implicits._
    // 500 embeddings, k=256: the round-4 literal-centroid design capped k
    // structurally (plan-size); the broadcast-centroid path must carry
    // k=256 with a constant-size plan and stay exact within clusters
    val vecs = (0L until 500L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = graft.ann.Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", k = 256)
    assert(cents.count() >= 200L, "most of the 256 seeds must survive the Lloyd step")
    val asg = graft.ann.Similarity.assignNearest(
      vecs.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v")), "v", cents)
      .select("id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = graft.dedup.Dedup.embeddingNearDup(
      vecs, "vec_id", "embedding", maxId = 500L, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = brute.filter { case (a, b) => asg(a) == asg(b) }
    val pairs = graft.ann.Similarity.semDedupPairs(
      vecs, "vec_id", "embedding", k = 256, threshold = 0.3)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"within-cluster pairs must equal brute force restricted " +
      s"to co-clustered ids: extra=${got -- expected} missing=${expected -- got}")
    assert(expected.nonEmpty && expected != brute,
      "fixture must exercise real clustering (some cross-cluster pairs excluded)")
    // the k x dim doubles must ride in the broadcast relation, never the
    // expression tree: no literal in the plan may be data-sized
    import org.apache.spark.sql.catalyst.expressions.Literal
    val maxLit = pairs.queryExecution.optimizedPlan
      .collect { case p => p.expressions.flatMap(_.collect { case l: Literal => l }) }
      .flatten.map(_.toString.length).maxOption.getOrElse(0)
    assert(maxLit < 1000, s"data-sized literal leaked into the plan (len=$maxLit)")
  }

  test("trainIvfCentroids fails with a clear message on an empty corpus") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      graft.ann.Similarity.trainIvfCentroids(empty, "vec_id", "embedding", k = 4)
    }
    assert(err.getMessage.contains("empty corpus"), err.getMessage)
  }

  test("incremental SemDeDup: old pairs + new-member pairs equal a full run on the union") {
    import spark.implicits._
    val vecs = (0L until 300L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the fixed epoch-0 quantizer: trained once on the OLD corpus
    val old = vecs.where(col("vec_id") % 2 === 0)
    val fresh = vecs.where(col("vec_id") % 2 =!= 0)
    val cents = graft.ann.Similarity.trainIvfCentroids(old, "vec_id", "embedding", k = 4)
    val full = canon(graft.ann.Similarity.semDedupPairsWithCentroids(
      vecs, "vec_id", "embedding", cents, threshold = 0.3))
    val oldPairs = canon(graft.ann.Similarity.semDedupPairsWithCentroids(
      old, "vec_id", "embedding", cents, threshold = 0.3))
    val oldAssigned = graft.ann.Similarity.assignNearest(
      old.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v")), "v", cents)
      .localCheckpoint()
    val (incrPairs, mergedAssigned) = graft.ann.Similarity.semDedupPairsIncremental(
      cents, oldAssigned, fresh, "vec_id", "embedding", threshold = 0.3)
    val incr = canon(incrPairs)
    assert((oldPairs ++ incr) == full,
      s"epoch union must equal full run: missing=${full -- oldPairs -- incr} extra=${(oldPairs ++ incr) -- full}")
    assert(incr.nonEmpty && oldPairs.nonEmpty && (oldPairs & incr).isEmpty,
      "old/old and >=1-new pair sets must be disjoint and non-trivial")
    assert(mergedAssigned.count() == 300L)
  }

  test("SemDeDup keeper: each group keeps the member FARTHEST from its centroid") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val pairs = graft.ann.Similarity.semDedupPairs(
      vecs, "vec_id", "embedding", k = 4, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val keep = graft.ann.Similarity.semDedupKeep(
      vecs, "vec_id", "embedding", k = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(keep.nonEmpty)
    // groups = connected components over the pair graph; every group's
    // member count must match, the keeper must be a member, and total
    // members across groups == docs appearing in any pair
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(keep.map(_._2).sum == inPairs.size)
    // paper semantics: keeper_cos is the group's MINIMUM centroid cosine.
    // recompute centroid cosines independently via the trained centroids
    val cents = graft.ann.Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", k = 4)
    val asg = graft.ann.Similarity.assignNearest(
      vecs.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v")), "v", cents)
      .join(cents, Seq("cid"))
      .withColumn("cc", graft.ann.Similarity.cosine(col("v"), col("c")))
      .select("id", "cc").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // union-find over pairs, labels = min id (mirror of dedupClusters)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val groups = inPairs.groupBy(find)
    assert(keep.length == groups.size)
    keep.foreach { case (cid, n, keeper, kcos) =>
      val members = groups(cid)
      assert(members.size == n && members.contains(keeper))
      val best = members.map(m => (asg(m), m)).min // lowest cos, tie min id
      assert(best == ((kcos, keeper)),
        s"group $cid keeper must be farthest-from-centroid: got ($kcos,$keeper), want $best")
    }
  }

  test("KeyCaps caps report dropped keys/rows through CapMetrics on a 30%-hot fixture") {
    import spark.implicits._
    val caps = graft.skew.CapMetrics.register(spark)
    try {
      caps.clear()
      // 1000 rows: key "hot" holds 300 (30%), the rest are singletons
      val rows = ((0 until 300).map(i => ("hot", i.toLong)) ++
        (300 until 1000).map(i => (s"k$i", i.toLong))).toDF("key", "v")
      val guarded = graft.skew.KeyCaps.dropOverCapKeys(rows, Seq("key"), 100L,
        site = "spec_drop")
      assert(guarded.count() == 700L) // output unchanged by the observation
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      assert(caps.snapshot().get("spec_drop").contains((1L, 300L)),
        s"cap metric must fire: ${caps.snapshot()}")
      caps.clear()
      val kept = graft.skew.KeyCaps.keepKeysWithCountAtLeast(rows, Seq("key"), 2L,
        site = "spec_keep")
      assert(kept.count() == 300L)
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      assert(caps.snapshot().get("spec_keep").contains((700L, 700L)),
        s"below-min metric must fire: ${caps.snapshot()}")
    } finally spark.listenerManager.unregister(caps)
  }

  test("KeyCaps guards give a NULL key window-count semantics (one more key value)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 5 null-keyed rows + a 4-row key + singletons: under the old plain
    // equi-joins, anti NEVER dropped nulls and semi ALWAYS did — inverted
    val rows = ((0 until 5).map(i => (Option.empty[String], i.toLong)) ++
      (5 until 9).map(i => (Some("a"), i.toLong)) ++
      (9 until 12).map(i => (Some(s"k$i"), i.toLong))).toDF("key", "v")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("v").collect().map(_.getLong(0)).toSet
    for (cap <- Seq(1L, 4L, 5L)) {
      val guarded = ids(graft.skew.KeyCaps.dropOverCapKeys(rows, Seq("key"), cap,
        site = "spec_null_drop"))
      val windowed = ids(rows
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("key")))
        .where(col("__n") <= cap).drop("__n"))
      assert(guarded == windowed, s"null-key dropOverCapKeys cap=$cap")
    }
    for (min <- Seq(2L, 4L, 5L)) {
      val guarded = ids(graft.skew.KeyCaps.keepKeysWithCountAtLeast(rows, Seq("key"), min,
        site = "spec_null_keep"))
      val windowed = ids(rows
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("key")))
        .where(col("__n") >= min).drop("__n"))
      assert(guarded == windowed, s"null-key keepKeysWithCountAtLeast min=$min")
    }
  }

  test("topMatchesBlocked unique-key precondition: q41-shaped items satisfy it; duplicates multiply") {
    import spark.implicits._
    // the extraction-derived item table the matcher runs on is unique by
    // its key columns — the documented precondition holds for real inputs
    val items = Pipeline.extractItems(graft.io.Transcripts.generateDF(spark, 300L))
      .select("conv_id", "turn_idx", "item_idx", "name")
    assert(items.count() ==
      items.select("conv_id", "turn_idx", "item_idx").distinct().count(),
      "extracted items must be unique by (conv_id, turn_idx, item_idx)")
    // and the documented failure shape, pinned so the contract stays
    // visible: two DISTINCT items under one key have their candidate sets
    // merged by the per-key window (one global rank), and the join-back
    // then hands every item row the merged ranking — 2 items x 2 ranked
    // rows = 4 output rows, where the per-item contract would give 2
    val products = Seq((1L, "S1", "widget"), (2L, "S2", "gadget"))
      .toDF("product_id", "sku", "name")
    val dup = Seq((10L, "widget"), (10L, "gadget")).toDF("item_id", "name")
    val out = graft.matching.Matching.topMatchesBlocked(
      dup, products, Seq("item_id"), "name", 3, suggest = 70.0)
    assert(out.count() == 4L, "duplicate keys multiply through the join-back — precondition documented")
  }

  test("convIntegrity counts each structural defect exactly; clean conv flags clean") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    // c1: clean 4-turn conversation (system,user,assistant,tool)
    // c2: dup idx (two turn_idx=1), idx gap (0,1,1,4), ts regression at
    //     idx 4, role repeat (user,user), orphan tool at conv start
    val turns = Seq(
      ("c1", 0L, "system", ts(0), 1L), ("c1", 1L, "user", ts(1), 2L),
      ("c1", 2L, "assistant", ts(2), 3L), ("c1", 3L, "tool", ts(3), 4L),
      ("c2", 0L, "tool", ts(0), 5L), ("c2", 1L, "user", ts(1), 6L),
      ("c2", 1L, "user", ts(2), 7L), ("c2", 4L, "assistant", ts(1), 8L)
    ).toDF("conv_id", "turn_idx", "role", "ts", "event_id")
    val out = graft.text.TranscriptOps
      .convIntegrity(turns, "conv_id", "turn_idx", "role", "ts", "event_id")
      .collect().map(r => r.getAs[String]("conv_id") -> r).toMap
    val c1 = out("c1")
    assert(c1.getAs[Boolean]("is_clean") && c1.getAs[Long]("n_turns") == 4L)
    val c2 = out("c2")
    assert(c2.getAs[Long]("n_dup_idx") == 1L)
    assert(c2.getAs[Long]("n_idx_gaps") == 2L)    // missing idx 2,3
    assert(c2.getAs[Long]("n_ts_regress") == 1L)  // ts(1) after ts(2)
    assert(c2.getAs[Long]("n_role_repeat") == 1L) // user,user
    assert(c2.getAs[Long]("n_orphan_tool") == 1L) // tool opens the conv
    assert(!c2.getAs[Boolean]("is_clean"))
  }

  test("globalShuffle: dense balanced permutation, reshard-stable, seed changes order") {
    import spark.implicits._
    val docs = (0 until 400).map(i => s"doc$i").toDF("doc_id")
    val a = graft.text.TextAnalysis.globalShuffle(docs, "doc_id", seed = 7L, nShards = 8)
      .collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[Long]("shard"), r.getAs[Long]("pos")))
    // a true permutation: every doc once, (shard,pos) unique, pos dense 1..n per shard
    assert(a.length == 400 && a.map(_._1).distinct.length == 400)
    assert(a.map(t => (t._2, t._3)).distinct.length == 400)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length.toLong)) }
    // md5 balance: no shard more than 2x the mean at n=400/8
    assert(a.groupBy(_._2).values.map(_.length).max <= 100)
    // reshard-stable: same assignment from a repartitioned input
    val b = graft.text.TextAnalysis.globalShuffle(
        docs.repartition(13), "doc_id", seed = 7L, nShards = 8)
      .collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[Long]("shard"), r.getAs[Long]("pos")))
    assert(a.sorted.sameElements(b.sorted))
    // a different seed is a genuinely different epoch order
    val c = graft.text.TextAnalysis.globalShuffle(docs, "doc_id", seed = 8L, nShards = 8)
      .collect().map(r => r.getAs[String]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toMap
    val aMap = a.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(aMap.count { case (d, sp) => c(d) != sp } > 300)
  }

  test("hashClassifierScore is map-side, deterministic, empty text scores 0") {
    import spark.implicits._
    val docs = Seq(("d1", "the quick brown fox"), ("d2", ""), ("d3", "   "),
      ("d4", "the quick brown fox")).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.hashClassifierScore(docs, "doc_id", "text", 1 << 10)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier must be map-only:\n$plan")
    val m = out.collect().map(r => r.getAs[String]("doc_id") ->
      ((r.getAs[Long]("n_tokens"), r.getAs[Long]("score_int"), r.getAs[Boolean]("keep")))).toMap
    assert(m("d1") == m("d4"), "same text, same score")
    assert(m("d2") == ((0L, 0L, false)) && m("d3") == ((0L, 0L, false)))
    assert(m("d1")._1 == 4L)
    assert(m("d1")._3 == (m("d1")._2 > 0L))
  }

  test("truncateContext keeps the system turn plus the exact fitting suffix") {
    import spark.implicits._
    // c1: turn tokens [2, 3, 4, 5] budget 9 -> suffix [4,5] fits (9),
    //     [3,4,5]=12 does not; first turn always kept => kept 0,2,3
    // c2: single-turn conv over budget -> first turn still kept
    val turns = Seq(
      ("c1", 0L, "a b"), ("c1", 1L, "c d e"), ("c1", 2L, "f g h i"),
      ("c1", 3L, "j k l m n"),
      ("c2", 0L, "one two three four five six seven eight nine ten eleven")
    ).toDF("conv_id", "turn_idx", "text")
    val out = graft.text.TranscriptOps
      .truncateContext(turns, "conv_id", "turn_idx", "text", budgetTokens = 9L)
      .collect().map(r => r.getAs[String]("conv_id") -> r).toMap
    val c1 = out("c1")
    assert(c1.getAs[Long]("n_kept") == 3L)
    assert(c1.getAs[Long]("n_tokens_total") == 14L)
    assert(c1.getAs[Long]("n_tokens_kept") == 11L) // 2 + 4 + 5
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("a b\nf g h i\nj k l m n".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(c1.getAs[String]("kept_md5") == expectMd5)
    val c2 = out("c2")
    assert(c2.getAs[Long]("n_kept") == 1L && c2.getAs[Long]("n_tokens_kept") == 11L)
  }

  test("chunkDocs covers every token, pulls the last window back, map-only plan") {
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    // 3 shapes: shorter than window (1 chunk), exact multiple, awkward tail
    val docs = Seq(("s", mk(5)), ("e", mk(56)), ("t", mk(61)))
      .toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.chunkDocs(docs, "doc_id", "text",
      windowTokens = 32, strideTokens = 24)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val rows = out.collect().map(r => (r.getAs[String]("doc_id"),
      r.getAs[Long]("chunk_idx"), r.getAs[Long]("tok_start"), r.getAs[Long]("n_chunk_tokens")))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc("s").map(t => (t._2, t._3, t._4)).toSeq == Seq((0L, 0L, 5L)))
    // n=56: chunks at 0 and 24; second covers 24..56 (32 tokens) — full coverage
    assert(byDoc("e").sortBy(_._2).map(t => (t._3, t._4)).toSeq == Seq((0L, 32L), (24L, 32L)))
    // n=61: starts 0,24,48 — last chunk 48..61 (13 tokens); max covered = 61
    assert(byDoc("t").sortBy(_._2).map(t => (t._3, t._4)).toSeq ==
      Seq((0L, 32L), (24L, 32L), (48L, 13L)))
    rows.foreach { case (_, _, s, n) => assert(n >= 1L && s >= 0L) }
    // every token index covered for the awkward-tail doc
    val covered = byDoc("t").flatMap(t => t._3 until (t._3 + t._4)).toSet
    assert(covered == (0L until 61L).toSet)
  }

  test("convExactDedup: turn ORDER is identity, lowest conv_id wins, no fp window") {
    import spark.implicits._
    // c1 == c3 (same turns, same order); c2 has the SAME turns reversed —
    // a different conversation; c4 shares a prefix only
    val turns = Seq(
      (1L, 0L, "hello"), (1L, 1L, "world"),
      (2L, 0L, "world"), (2L, 1L, "hello"),
      (3L, 0L, "hello"), (3L, 1L, "world"),
      (4L, 0L, "hello")
    ).toDF("conv_id", "turn_idx", "text")
    val out = graft.text.TranscriptOps.convExactDedup(turns, "conv_id", "turn_idx", "text")
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    val m = out.collect().map(r => r.getAs[Long]("conv_id") ->
      ((r.getAs[String]("conv_fp"), r.getAs[Long]("n_copies"), r.getAs[Boolean]("keep")))).toMap
    assert(m(1L)._1 == m(3L)._1 && m(1L)._1 != m(2L)._1 && m(1L)._1 != m(4L)._1)
    assert(m(1L)._2 == 2L && m(1L)._3 && !m(3L)._3, "first-wins keeper")
    assert(m(2L)._3 && m(4L)._3, "singletons keep")
  }

  test("agentLoops: runs split on role OR tool change; minRun gates degeneracy") {
    import spark.implicits._
    // conv A: user, tool t1 x3 (degenerate), tool t2 (tool change splits
    // the run), assistant x2 (run of 2, below minRun=3)
    val turns = Seq(
      ("A", 0L, "user", None, 1L), ("A", 1L, "tool", Some("t1"), 2L),
      ("A", 2L, "tool", Some("t1"), 3L), ("A", 3L, "tool", Some("t1"), 4L),
      ("A", 4L, "tool", Some("t2"), 5L), ("A", 5L, "assistant", None, 6L),
      ("A", 6L, "assistant", None, 7L),
      ("B", 0L, "user", None, 8L), ("B", 1L, "assistant", None, 9L)
    ).toDF("conv_id", "turn_idx", "role", "tool", "ord")
    val out = graft.text.TranscriptOps
      .agentLoops(turns, "conv_id", "turn_idx", "role", "tool", "ord", minRun = 3)
      .collect().map(r => r.getAs[String]("conv_id") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_runs") == 4L)            // user | t1 t1 t1 | t2 | asst asst
    assert(a.getAs[Long]("max_run_len") == 3L)
    assert(a.getAs[Long]("n_degenerate_runs") == 1L && a.getAs[Boolean]("is_looping"))
    val b = out("B")
    assert(b.getAs[Long]("n_runs") == 2L && !b.getAs[Boolean]("is_looping"))
    // single conv-keyed exchange end-to-end: both groupBys cluster on a
    // superset of the window's conv key
    val plan = graft.text.TranscriptOps
      .agentLoops(turns, "conv_id", "turn_idx", "role", "tool", "ord", 3)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1, s"one exchange expected:\n$plan")
  }

  test("repairTurnOrder densifies dup/gap indices, keeps lineage, flags moves") {
    import spark.implicits._
    // dup idx 1 (tie broken by ord), gap to 7
    val turns = Seq(("c", 1L, 10L), ("c", 1L, 9L), ("c", 7L, 11L), ("c", 0L, 8L))
      .toDF("conv_id", "turn_idx", "event_id")
    val out = graft.text.TranscriptOps
      .repairTurnOrder(turns, "conv_id", "turn_idx", "event_id")
      .collect().map(r => (r.getAs[Long]("ord"),
        r.getAs[Long]("orig_idx"), r.getAs[Long]("new_idx"), r.getAs[Boolean]("moved")))
      .sortBy(_._1)
    assert(out.toSeq == Seq((8L, 0L, 0L, false), (9L, 1L, 1L, false),
      (10L, 1L, 2L, true), (11L, 7L, 3L, true)))
  }

  test("preferencePairs: best-vs-rest per prompt, score tie keeps lowest id, singletons drop") {
    import spark.implicits._
    val comps = Seq(
      ("p1", 10L, 5L), ("p1", 11L, 9L), ("p1", 12L, 9L), // tie at 9: chosen=11
      ("p2", 20L, 3L),                                   // singleton: no pairs
      ("p3", 30L, 7L), ("p3", 31L, 2L)
    ).toDF("prompt_fp", "cid", "score")
    val out = graft.text.TranscriptOps.preferencePairs(comps, "cid", "prompt_fp", "score")
      .collect().map(r => (r.getAs[String]("prompt_fp"), r.getAs[Long]("chosen_id"),
        r.getAs[Long]("rejected_id"), r.getAs[Long]("score_gap"))).sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      ("p1", 11L, 10L, 4L), ("p1", 11L, 12L, 0L), // the tied loser still pairs, gap 0
      ("p3", 30L, 31L, 5L)))
    // no window in the plan — both argmax stages are combinable aggregates
    val plan = graft.text.TranscriptOps.preferencePairs(comps, "cid", "prompt_fp", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("sqrtTemperatureSample: min source keeps all, rates follow sqrt(n_min/n), gate deterministic") {
    import spark.implicits._
    // sources sized 16 / 64 / 400: rates 1, 1/2, 1/5
    val docs = ((0 until 16).map(i => (s"a$i", "small")) ++
      (0 until 64).map(i => (s"b$i", "mid")) ++
      (0 until 400).map(i => (s"c$i", "big"))).toDF("doc_id", "source")
    val out = graft.text.TextAnalysis.sqrtTemperatureSample(docs, "doc_id", "source")
    val rows = out.collect().map(r => (r.getAs[String]("doc_id"), r.getAs[String]("source"),
      r.getAs[Long]("gate_bound"), r.getAs[Boolean]("keep")))
    assert(rows.length == 480)
    val bySrc = rows.groupBy(_._2)
    assert(bySrc("small").forall(_._4), "rate 1.0 keeps every min-source row")
    assert(bySrc("small").head._3 == (1L << 40))
    assert(bySrc("mid").head._3 == math.floor(math.sqrt(0.25) * math.pow(2, 40)).toLong)
    // kept fractions track the rates (md5 gate is uniform; loose bounds)
    val midKept = bySrc("mid").count(_._4)
    val bigKept = bySrc("big").count(_._4)
    assert(midKept >= 20 && midKept <= 44, s"mid kept $midKept of 64 at rate 0.5")
    assert(bigKept >= 50 && bigKept <= 110, s"big kept $bigKept of 400 at rate 0.2")
    // deterministic and reshard-stable
    val again = graft.text.TextAnalysis.sqrtTemperatureSample(docs.repartition(7),
      "doc_id", "source").collect().map(r => r.getAs[String]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(rows.forall { case (id, _, _, k) => again(id) == k })
  }

  test("dupFlowMatrix counts cross-source pairs arithmetically, equals enumeration") {
    import spark.implicits._
    // family f1: 3 copies in A, 2 in B, 1 in C; f2: 1 in A, 1 in B;
    // f3: 2 in A only (no cross rows)
    val assigned = (
      Seq.fill(3)(("f1", "A")) ++ Seq.fill(2)(("f1", "B")) ++ Seq(("f1", "C")) ++
      Seq(("f2", "A"), ("f2", "B")) ++ Seq.fill(2)(("f3", "A"))
    ).toDF("fam", "source")
    val out = graft.dedup.Dedup.dupFlowMatrix(assigned, "fam", "source")
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_cross_pairs"), r.getAs[Long]("n_shared_families")))).toMap
    assert(out(("A", "B")) == ((3L * 2 + 1L * 1, 2L)))
    assert(out(("A", "C")) == ((3L, 1L)) && out(("B", "C")) == ((2L, 1L)))
    assert(out.size == 3, "single-source families emit nothing")
    // brute-force enumeration agrees
    val docs = assigned.withColumn("id", monotonically_increasing_id()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val brute = docs.flatMap(a => docs.map(b => (a, b)))
      .filter { case (a, b) => a._1 == b._1 && a._2 < b._2 }
      .groupBy { case (a, b) => (a._2, b._2) }.view.mapValues(_.length.toLong).toMap
    assert(out.view.mapValues(_._1).toMap == brute)
  }

  test("curriculumBuckets: exact per-group quartiles, ties never straddle a boundary") {
    import spark.implicits._
    // group g: scores 1..8 -> quartiles of 2; group h: 5 copies of one
    // score + 3 distinct -> the 5-way tie all lands in bucket 0
    val rows = ((1 to 8).map(i => (s"g$i", "g", i.toLong)) ++
      (1 to 5).map(i => (s"h$i", "h", 10L)) ++
      Seq(("h6", "h", 11L), ("h7", "h", 12L), ("h8", "h", 13L)))
      .toDF("doc_id", "source", "score")
    val out = graft.text.TextAnalysis
      .curriculumBuckets(rows, "doc_id", "source", "score", 4)
      .collect().map(r => r.getAs[String]("doc_id") -> r.getAs[Long]("bucket")).toMap
    assert((1 to 8).forall(i => out(s"g$i") == (i - 1) / 2))
    assert((1 to 5).forall(i => out(s"h$i") == 0L), "tie block shares bucket 0")
    assert(out("h6") == 2L && out("h7") == 3L && out("h8") == 3L)
    // every input row gets exactly one bucket
    assert(out.size == 16)
  }

  test("transcriptChain: loop gate, boiler strip, truncation and packing compose exactly") {
    import spark.implicits._
    // conv 1: 4 turns; "the disclaimer" (df=3) strips; budget 7 keeps the
    //   first remaining turn + the 2-turn suffix -> 10 tokens
    // conv 2: disclaimer + one real turn -> 3 tokens
    // conv 3: an 8-turn assistant loop -> gated out (minRun 6)
    // conv 4: disclaimer only -> fully stripped, absent from output
    val noTool = Option.empty[String]
    val turns = (Seq(
      (1L, 0L, "system", noTool, 10L, "intro one two"),
      (1L, 1L, "user", noTool, 11L, "the disclaimer"),
      (1L, 2L, "assistant", noTool, 12L, "x1 a b c"),
      (1L, 3L, "user", noTool, 13L, "y1 d e"),
      (2L, 0L, "system", noTool, 20L, "the disclaimer"),
      (2L, 1L, "user", noTool, 21L, "b1 p q"),
      (4L, 0L, "system", noTool, 40L, "the disclaimer")) ++
      (0 until 8).map(i => (3L, i.toLong, "assistant", noTool, 30L + i, s"loop $i")))
      .toDF("conv_id", "turn_idx", "role", "tool", "ord", "text")
    val out = graft.text.TranscriptChain.transcriptChain(turns,
      "conv_id", "turn_idx", "role", "tool", "ord", "text",
      minRun = 6, minConvs = 3, budgetTokens = 7L, packTokens = 12, nShards = 1)
    // composition: after the two lineage cuts the final plan never re-reads
    // the original input (the q57 no-recompute tell)
    assert(!out.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_tokens"), r.getAs[Long]("pack_id"), r.getAs[Boolean]("oversize")))).toMap
    assert(rows.keySet == Set(1L, 2L), "conv 3 gated, conv 4 fully stripped")
    assert(rows(1L) == ((10L, 0L, false)), "kept turns: first + fitting suffix")
    assert(rows(2L) == ((3L, 1L, false)), "10 + 3 > 12 opens a new pack")
  }

  test("KMV sketch equals brute-force k-min distinct, is merge/reshard-stable, exact below k") {
    import spark.implicits._
    val k = 8
    // group "big": 200 ids (estimator path, duplicates included);
    // group "small": 5 ids (exact path)
    val ids = (0 until 200).map(i => (s"d$i", "big")) ++
      (0 until 200).map(i => (s"d${i % 50}", "big")) ++ // duplicate hashes
      (0 until 5).map(i => (s"s$i", "small"))
    val df = ids.toDF("doc_id", "grp")
    val out = graft.sketch.Kmv.distinctSketch(df, "doc_id", "grp", k)
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("n_sketch"), r.getAs[Long]("kth_hash"),
          r.getAs[Double]("est_distinct")))).toMap
    // brute force: k smallest distinct 40-bit hashes per group
    def h40(id: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"kmv:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(10), 16)
    }
    val bigK = ids.filter(_._2 == "big").map(t => h40(t._1)).distinct.sorted.take(k)
    assert(out("big")._1 == k && out("big")._2 == bigK.last)
    assert(out("big")._3 == (k - 1).toDouble * (1L << 40) / bigK.last.toDouble)
    // the estimate lands near the true 200 distinct (uniform hashes)
    assert(out("big")._3 > 100 && out("big")._3 < 400, s"est=${out("big")._3}")
    assert(out("small") == ((5L, ids.filter(_._2 == "small").map(t => h40(t._1)).max, 5.0)))
    // merge correctness under any partitioning
    val re = graft.sketch.Kmv.distinctSketch(df.repartition(17), "doc_id", "grp", k)
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Long]("kth_hash")).toMap
    assert(re("big") == out("big")._2 && re("small") == out("small")._2)
    // partial aggregation actually happens before the exchange
    val plan = graft.sketch.Kmv.distinctSketch(df, "doc_id", "grp", k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
  }

  test("toolTransitions: start edge, tool-qualified actions, per-conv distinct counts") {
    import spark.implicits._
    // conv a: user -> assistant -> tool:t1 -> assistant
    // conv b: user -> tool:t1; conv c: user -> assistant
    val noTool = Option.empty[String]
    val turns = Seq(
      ("a", 0L, "user", noTool, 1L), ("a", 1L, "assistant", noTool, 2L),
      ("a", 2L, "tool", Some("t1"), 3L), ("a", 3L, "assistant", noTool, 4L),
      ("b", 0L, "user", noTool, 5L), ("b", 1L, "tool", Some("t1"), 6L),
      ("c", 0L, "user", noTool, 7L), ("c", 1L, "assistant", noTool, 8L))
      .toDF("conv_id", "turn_idx", "role", "tool", "ord")
    val out = graft.text.TranscriptOps
      .toolTransitions(turns, "conv_id", "turn_idx", "role", "tool", "ord")
      .collect().map(r => (r.getAs[String]("from_act"), r.getAs[String]("to_act")) ->
        ((r.getAs[Long]("n_transitions"), r.getAs[Long]("n_convs")))).toMap
    assert(out(("<start>", "user")) == ((3L, 3L)))
    assert(out(("user", "assistant")) == ((2L, 2L)))
    assert(out(("user", "tool:t1")) == ((1L, 1L)))
    assert(out(("assistant", "tool:t1")) == ((1L, 1L)))
    assert(out(("tool:t1", "assistant")) == ((1L, 1L)))
    assert(out.size == 5)
  }

  test("bottomKSample: exact k-set equals brute-force md5 order, heap plan not global sort") {
    import spark.implicits._
    val ids = (0 until 60).map(i => s"doc-$i")
    val df = ids.toDF("doc_id")
    val q = graft.text.TextAnalysis.bottomKSample(df, "doc_id", seed = 11L, k = 10)
    def key(id: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s"bksample:11:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = ids.map(id => (key(id), id)).sorted.take(10)
    val got = q.collect().sortBy(_.getAs[Long]("sample_rank"))
      .map(r => (r.getAs[String]("sample_key"), r.getAs[String]("doc_id")))
    assert(got.toSeq == expect)
    // k rows per partition at most cross the wire: heap-based top-k, no global sort
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // reshard-stable
    val re = graft.text.TextAnalysis.bottomKSample(df.repartition(13), "doc_id", 11L, 10)
      .collect().map(r => (r.getAs[Long]("sample_rank"), r.getAs[String]("doc_id"))).sorted
    assert(re.toSeq == got.zipWithIndex.map { case ((_, id), i) => (i + 1L, id) }.sorted.toSeq)
  }

  test("centroidSimMatrix: exact integer centroids, ordered-fold cosine, reshard-stable") {
    import spark.implicits._
    // exact binary fractions -> floor(x * 2^20) is exact
    val rows = Seq(
      ("g1", Seq(1.0f, 0.0f)), ("g1", Seq(0.5f, 0.5f)),
      ("g2", Seq(0.0f, 1.0f)), ("g3", Seq(0.25f, 0.75f)))
      .toDF("label", "embedding")
    val out = graft.ann.Similarity.centroidSimMatrix(rows, "embedding", "label")
      .collect().map(r => (r.getAs[String]("grp_a"), r.getAs[String]("grp_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Double]("centroid_cos")))).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      dot / (math.sqrt(a.foldLeft(0.0)((s, x) => s + x * x)) *
        math.sqrt(b.foldLeft(0.0)((s, x) => s + x * x)))
    }
    val g1 = Seq(1572864.0, 524288.0); val g2 = Seq(0.0, 1048576.0)
    val g3 = Seq(262144.0, 786432.0)
    assert(out(("g1", "g2")) == ((2L, 1L, cos(g1, g2))))
    assert(out(("g1", "g3")) == ((2L, 1L, cos(g1, g3))))
    assert(out(("g2", "g3")) == ((1L, 1L, cos(g2, g3))))
    assert(out.size == 3, "upper triangle only")
    val re = graft.ann.Similarity.centroidSimMatrix(rows.repartition(7), "embedding", "label")
      .collect().map(r => (r.getAs[String]("grp_a"), r.getAs[String]("grp_b")) ->
        r.getAs[Double]("centroid_cos")).toMap
    assert(re == out.view.mapValues(_._3).toMap, "bit-exact under any partitioning")
  }

  test("temperatureEpochRepeats: sqrt-rule multiplicity, exact integer rates, md5 gate") {
    import spark.implicits._
    // A: 8 docs (rate 1.0 -> exactly 1 copy), B: 2 docs (rate 2.0 -> exactly 2),
    // C: absent. Then a fractional fixture: A=9, C=4 -> rate 1.5.
    val df1 = ((0 until 8).map(i => (s"a$i", "A")) ++ Seq(("b0", "B"), ("b1", "B")))
      .toDF("doc_id", "source")
    val out1 = graft.text.TextAnalysis
      .temperatureEpochRepeats(df1, "doc_id", "source", nShards = 8)
      .collect().map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("repeat_idx")))
    val m1 = out1.groupBy(_._1).view.mapValues(_.length).toMap
    assert((0 until 8).forall(i => m1(s"a$i") == 1))
    assert(m1("b0") == 2 && m1("b1") == 2)
    assert(out1.filter(_._1 == "b0").map(_._2).sorted.toSeq == Seq(0L, 1L), "dense repeat_idx")
    // fractional: rate sqrt(9/4) = 1.5 -> base 1, 40-bit gate at 0.5 * 2^40
    def h40(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10), 16)
    val df2 = ((0 until 9).map(i => (s"a$i", "A")) ++ (0 until 4).map(i => (s"c$i", "C")))
      .toDF("doc_id", "source")
    val out2 = graft.text.TextAnalysis
      .temperatureEpochRepeats(df2, "doc_id", "source", nShards = 8)
      .collect().map(r => (r.getAs[String]("doc_id"),
        (r.getAs[Long]("n_repeats"), r.getAs[Long]("repeat_idx"), r.getAs[Long]("shard"))))
    val gateBound = math.floor(0.5 * 1099511627776.0).toLong
    (0 until 4).foreach { i =>
      val want = 1L + (if (h40(s"epoch:c$i") < gateBound) 1L else 0L)
      val got = out2.filter(_._1 == s"c$i")
      assert(got.length.toLong == want && got.forall(_._2._1 == want), s"c$i")
    }
    // shard is the content-keyed 40-bit hash mod nShards
    out2.foreach { case (id, (_, idx, shard)) =>
      assert(shard == java.lang.Math.floorMod(h40(s"shard:$id:$idx"), 8L), s"$id:$idx") }
  }

  test("bottomKPerGroup: salted two-level equals per-group brute force, small groups whole") {
    import spark.implicits._
    // group A: 40 docs (k=5 cuts), group B: 3 docs (< k, kept whole)
    val ids = (0 until 40).map(i => (s"a$i", "A")) ++ (0 until 3).map(i => (s"b$i", "B"))
    val df = ids.toDF("doc_id", "source")
    val out = graft.text.TextAnalysis
      .bottomKPerGroup(df, "doc_id", "source", seed = 7L, k = 5, saltBuckets = 8)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("sample_rank")) ->
        r.getAs[String]("doc_id")).toMap
    def key(id: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s"bkgroup:7:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wantA = ids.filter(_._2 == "A").map(t => (key(t._1), t._1)).sorted.take(5)
    val wantB = ids.filter(_._2 == "B").map(t => (key(t._1), t._1)).sorted
    wantA.zipWithIndex.foreach { case ((_, id), i) => assert(out(("A", i + 1L)) == id) }
    wantB.zipWithIndex.foreach { case ((_, id), i) => assert(out(("B", i + 1L)) == id) }
    assert(out.size == 8, "5 from A + all 3 of B")
    // reshard-stable
    val re = graft.text.TextAnalysis
      .bottomKPerGroup(df.repartition(11), "doc_id", "source", 7L, 5, saltBuckets = 8)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("sample_rank")) ->
        r.getAs[String]("doc_id")).toMap
    assert(re == out)
  }

  test("oovAudit: exact per-doc OOV counts, empty docs kept, single corpus pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),   // in-vocab: the(2), cat, on
      (2L, "zzz qqq"),                  // all OOV
      (3L, ""),                         // token-less: null rate
      (4L, "the the the")).toDF("doc_id", "text")
    val vocab = Seq("the", "cat", "on").toDF("term")
    val out = graft.text.CorpusAnalysis.oovAudit(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          Option(r.get(r.fieldIndex("oov_rate")))))).toMap
    assert(out(1L) == ((6L, 2L, Some(2.0 / 6.0))), "sat + mat are OOV")
    assert(out(2L) == ((2L, 2L, Some(1.0))))
    assert(out(3L) == ((0L, 0L, None)), "empty doc keeps its row, null rate")
    assert(out(4L) == ((3L, 0L, Some(0.0))))
    // one corpus pass: exactly one scan of the input relation in the plan
    val q = graft.text.CorpusAnalysis.oovAudit(docs, "doc_id", "text", vocab)
    val scans = "LocalTableScan".r.findAllIn(q.queryExecution.executedPlan.toString).length
    assert(scans == 2, s"one docs scan + one vocab scan, got $scans") // docs + vocab
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
