package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Differential equivalence of the native pair-emission builders
  * (graft.expr.pairops over PairCore.pairs / pairsNewOnly / hammingPairs)
  * against the HOF formulations they replaced — exact, over string- and
  * long-keyed member lists, empty/singleton lists, and real bucket
  * contents, with codegen fallback off (see [[CodegenOnly]]). */
class PairOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("PairEmit == HOF pairs on long and string id lists") { CodegenOnly(spark) {
    import spark.implicits._
    val longLists = Seq(Seq[Long](), Seq(7L), Seq(1L, 2L), Seq(5L, 1L, 9L, 3L), (0L until 40L))
      .map(_.toArray).toDF("ids")
    val strLists = Seq(Seq[String](), Seq("a"), Seq("b", "a", "c"), (0 until 25).map("k%02d".format(_)))
      .map(_.toArray).toDF("ids")
    for (df <- Seq(longLists, strLists)) {
      val rows = df.select(
        graft.expr.pairops.pair_emit(col("ids"), df.schema("ids").dataType).as("nat"),
        HofRefs.pairsHof(col("ids")).as("hof")).collect()
      rows.foreach(r => assert(r.get(0) == r.get(1), s"pair_emit mismatch: ${r.get(0)} vs ${r.get(1)}"))
    }
  }}

  test("PairEmitNewOnly == HOF on mixed old/new members") { CodegenOnly(spark) {
    import spark.implicits._
    val df = Seq(
      Seq(("a", true)), Seq(("a", false), ("b", false)),
      Seq(("a", true), ("b", false), ("c", true), ("d", false)),
      (0 until 30).map(i => ("m%02d".format(i), i % 3 == 0)))
      .toDF("raw")
      .select(transform(col("raw"), x =>
        struct(x.getField("_1").as("id"), x.getField("_2").as("is_new"))).as("ms"))
    val rows = df.select(
      graft.expr.pairops.pair_emit_new_only(col("ms"), df.schema("ms").dataType).as("nat"),
      HofRefs.pairsNewOnlyHof(col("ms")).as("hof")).collect()
    // HOF emits (id_a, id_b, any_new); native emits (id_a, id_b) — compare projected
    rows.foreach { r =>
      val nat = r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.get(0), x.get(1)))
      val hof = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.get(0), x.get(1)))
      assert(nat == hof, s"pair_emit_new_only mismatch: $nat vs $hof")
    }
  }}

  test("PairEmitHamming == HOF on real simhash buckets") { CodegenOnly(spark) {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sigs = graft.dedup.Dedup.simhashBlocks(docs, "doc_id", "text")
    val grouped = sigs.select(col("doc_id").as("id"), col("blocks"),
        posexplode(col("blocks")).as(Seq("block", "block_val")))
      .groupBy("block", "block_val")
      .agg(sort_array(collect_list(struct(col("id"), col("blocks")))).as("ms"))
    val rows = grouped.select(
      graft.expr.pairops.pair_emit_hamming(col("ms"), grouped.schema("ms").dataType).as("nat"),
      HofRefs.hammingPairsHof(col("ms")).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.get(0) == r.get(1), s"pair_emit_hamming mismatch"))
  }}
}
