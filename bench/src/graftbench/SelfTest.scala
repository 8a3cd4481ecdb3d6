package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

/**
 * Self-test of the benchmark's JVM side: generator determinism, and that
 * each workload's output check rejects an injected wrong output.
 *
 * Usage: SelfTest <cores> <work dir>; exits 1 when any test fails.
 */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Exception => println(s"  error: $e"); false }
    println(s"${if (r) "PASS" else "FAIL"} $name")
    if (!r) failures += 1
  }

  /** Throws or false both count as a rejected output. */
  private def rejects(f: => Boolean): Boolean = try !f catch { case _: Exception => true }

  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toSeq.mkString("\u0001")).sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val work = Paths.get(args(1))
    val spark = BenchMain.session(cores, work)
    val parts = 4 * cores

    test("transcripts: same seed, same input; other seed, other input") {
      val a = digest(Inputs.transcripts(spark, 1500, 5, parts))
      a == digest(Inputs.transcripts(spark, 1500, 5, parts / 2)) &&
        a != digest(Inputs.transcripts(spark, 1500, 6, parts))
    }
    test("items: same seed, same input; other seed, other input") {
      val a = digest(Inputs.items(spark, 400, 5, parts))
      a == digest(Inputs.items(spark, 400, 5, parts)) && a != digest(Inputs.items(spark, 400, 6, parts))
    }
    test("corpus: same seed, same input; other seed, other input") {
      val a = digest(Inputs.corpus(spark, 1500, 5, parts))
      a == digest(Inputs.corpus(spark, 1500, 5, parts / 2)) && a != digest(Inputs.corpus(spark, 1500, 6, parts))
    }
    test("corpus: copy, language and length shares as configured") {
      val shape = Inputs.CorpusShape(dupShare = 0.2, minWords = 20, maxWords = 30,
        langs = Seq("en" -> 0.5, "de" -> 0.3, "zh" -> 0.2))
      val n = 8000L
      val docs = Inputs.corpus(spark, n, 9, parts, shape).collect()
      val copies = (0L until n).count(id => Inputs.originOf(9, id, shape)._2).toDouble / n
      val langs = docs.groupBy(_.getString(2)).map { case (l, rs) => l -> rs.length.toDouble / n }
      val byId = docs.map(r => r.getLong(0) -> r.getString(1)).toMap
      // a copy is its earlier original plus the marker word
      val copyOk = (0L until 400L).filter(id => Inputs.originOf(9, id, shape)._2).forall { id =>
        val (o, _) = Inputs.originOf(9, id, shape)
        o < id && !Inputs.originOf(9, o, shape)._2 && byId(id) == byId(o) + " " + Inputs.CopyMark
      }
      val lengths = docs.forall { r =>
        val w = r.getString(1).split(" ").count(_ != Inputs.CopyMark)
        w >= 20 && w <= 30
      }
      math.abs(copies - 0.2) < 0.02 && langs.keySet == Set("en", "de", "zh") &&
        math.abs(langs("de") - 0.3) < 0.03 && copyOk && lengths
    }

    test("extract check: accepts the output, rejects injected wrong outputs") {
      val turns = Inputs.transcripts(spark, 1200, 3, parts).cache()
      val dir = work.resolve("st-extract")
      graft.io.Manifests.resumableExtract(spark, turns, dir.toString, 1, parts, 4)
      val sample = Extract.checkTurns(turns.select("conv_id", "turn_idx", "text").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq)
      val expected = Extract.direct(spark, sample)
      val good = Extract.check(spark, dir.toString, 1200, expected)
      // a sampled turn, of the hot conversation and of another, whose row
      // differs from the direct engine call
      def wrongAt(k: (String, Int)): Boolean = {
        val row = expected(k)
        val wrongRow = new GenericRowWithSchema(
          row.toSeq.updated(row.fieldIndex("n_chars"), row.getAs[Int]("n_chars") + 1).toArray, row.schema)
        rejects(Extract.check(spark, dir.toString, 1200, expected.updated(k, wrongRow)))
      }
      val (hot, rest) = expected.keys.partition(_._1 == Extract.HotConv)
      val wrongSample = hot.size == 4 && rest.size == 28 && wrongAt(hot.head) && wrongAt(rest.head)
      // a chunk whose content no longer matches its manifest
      val chunk = dir.resolve("chunk=0")
      val tampered = spark.read.parquet(chunk.toString)
        .withColumn("extracted_text", concat(col("extracted_text"), lit("x")))
      tampered.write.parquet(work.resolve("st-tampered").toString)
      Workloads.deleteTree(chunk)
      Files.move(work.resolve("st-tampered"), chunk)
      val audit = rejects(Extract.check(spark, dir.toString, 1200, expected))
      turns.unpersist()
      good && wrongSample && audit
    }

    test("sku_match check: accepts the output, rejects injected wrong outputs") {
      val items = Inputs.items(spark, 300, 3, parts).cache()
      val productsDf = graft.io.Transcripts.productsDim(spark)
      val products = productsDf.collect().map(r => (r.getInt(0), r.getString(2))).toSeq
      val out = graft.matching.Matching.topMatches(items, productsDf, Seq("conv_id", "turn_idx", "item_idx"))
        .select("conv_id", "turn_idx", "item_idx", "product_id", "score", "rank", "is_auto_match").collect()
      val sample = items.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
      val good = SkuMatch.check(out, sample, products)
      val i = out.indexWhere(_.getInt(5) == 1)
      val r = out(i)
      val wrongScore = out.updated(i, Row(r(0), r(1), r(2), r(3), r.getDouble(4) - 1, r(5), r(6)))
      val missing = out.patch(i, Nil, 1)
      items.unpersist()
      good && rejects(SkuMatch.check(wrongScore, sample, products)) &&
        rejects(SkuMatch.check(missing, sample, products))
    }

    test("corpus_dedup check: accepts the output, rejects injected wrong outputs") {
      val docs = Inputs.corpus(spark, 1500, 3, parts).cache()
      val survivors = graft.text.TextAnalysis.corpusFilter(docs, "doc_id", "text", "en")
        .where(col("keep")).collect().map(_.getLong(0)).toSet
      def chain() = graft.text.CorpusChain.corpusChain(docs, "doc_id", "text", "lang", "n_chars",
        lang = "en", rates = Map("en" -> 32, "de" -> 192), defaultOutOf256 = 64,
        packTokens = 512, nShards = 8).collect()
      val out = chain()
      val (first, h) = CorpusDedup.check(out, survivors, None)
      val (again, _) = CorpusDedup.check(chain(), survivors, Some(h))
      val idIdx = out.head.fieldIndex("doc_id")
      val outsider = (0L until 1500L).find(id => !survivors(id)).get
      val r = out.head
      def withField(i: Int, v: Any): Row = new GenericRowWithSchema(r.toSeq.updated(i, v).toArray, r.schema)
      val foreign = out.updated(0, withField(idIdx, outsider))
      val changed = out.updated(0, withField(r.fieldIndex("seg_len"), r.getAs[Long]("seg_len") + 1))
      docs.unpersist()
      first && again && !CorpusDedup.check(foreign, survivors, None)._1 &&
        !CorpusDedup.check(changed, survivors, Some(h))._1
    }

    spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
