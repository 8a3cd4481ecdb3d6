package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Differential equivalence of the native vector operators
  * (graft.expr.vecops.cosine_sim / nearest_cid / SignLshBucket) against the
  * declarative HOF formulations they replaced — bit-exact, including the
  * null / NaN / signed-zero / length-mismatch edge cases, on real
  * embeddings and on adversarial vectors, under codegen with fallback off
  * (see [[CodegenOnly]]) AND interpreted eval (the HOF-lambda path). */
class VecOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def bits(d: Any): Any = d match {
    case null => null
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
    case other => other
  }

  /** Deterministic fuzz vectors incl. NaN, +-0.0, +-Inf, nulls, empties,
    * length mismatches. */
  private def fuzzVectors(n: Int, dim: Int): Seq[Seq[java.lang.Double]] = {
    val specials = Array[java.lang.Double](Double.NaN, 0.0, -0.0,
      Double.PositiveInfinity, Double.NegativeInfinity, null, 1e-300, -1e300)
    (0 until n).map { i =>
      val len = graft.io.Transcripts.mix(1000L + i) match {
        case h if (h & 7) == 0 => 0
        case h if (h & 7) == 1 => dim - 1
        case h if (h & 7) == 2 => dim + 1
        case _ => dim
      }
      (0 until len).map { d =>
        val h = graft.io.Transcripts.mix(i.toLong * 1000 + d)
        if ((h & 15) == 0) specials(((h >>> 8) % specials.length).toInt.abs)
        else java.lang.Double.valueOf((h % 1000L).toDouble / 250.0 - 2.0)
      }
    }
  }

  private def vecDf(vs: Seq[Seq[java.lang.Double]]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = true), nullable = true)))
    val rows = vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) } :+ Row(vs.size.toLong, null)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("CosineSim == HOF cosine bit-for-bit on real embeddings (codegen path)") { CodegenOnly(spark) {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = emb.select(col("vec_id").as("ia"), col("v").as("va")).where(col("ia") < 60)
    val b = emb.select(col("vec_id").as("ib"), col("v").as("vb")).where(col("ib") < 60)
    val both = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        graft.ann.Similarity.cosine(col("va"), col("vb")).as("nat"),
        HofRefs.cosineHof(col("va"), col("vb")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(bits(r.get(2)) == bits(r.get(3)), s"cosine mismatch at (${r.get(0)},${r.get(1)})")
    }
  }}

  /** True when the cosine divisor (na*nb) is COMPUTABLE and exactly zero —
    * the one case where the session's ANSI mode makes both formulations
    * throw DIVIDE_BY_ZERO instead of returning a value. */
  private def divisorZero(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    def noNull(v: org.apache.spark.sql.Column) = !exists(v, x => x.isNull)
    def sumsq(v: org.apache.spark.sql.Column) =
      aggregate(transform(v, x => x * x), lit(0.0), _ + _)
    noNull(a) && noNull(b) && (sqrt(sumsq(a)) * sqrt(sumsq(b)) === 0.0)
  }

  test("CosineSim == HOF cosine on adversarial vectors (NaN/-0.0/Inf/null/len)") { CodegenOnly(spark) {
    val df = vecDf(fuzzVectors(48, 8))
    val a = df.select(col("id").as("ia"), col("v").as("va"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"))
    val both = a.crossJoin(b)
      .where(col("va").isNull || col("vb").isNull || !divisorZero(col("va"), col("vb")))
      .select(col("ia"), col("ib"),
        graft.ann.Similarity.cosine(col("va"), col("vb")).as("nat"),
        HofRefs.cosineHof(col("va"), col("vb")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(bits(r.get(2)) == bits(r.get(3)),
        s"cosine mismatch at (${r.get(0)},${r.get(1)}): ${r.get(2)} vs ${r.get(3)}")
    }
  }}

  test("CosineSim replicates the HOF's ANSI DIVIDE_BY_ZERO on zero-norm pairs") { CodegenOnly(spark) {
    assume(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val zeros = vecDf(Seq(Seq[java.lang.Double](0.0, 0.0), Seq[java.lang.Double](1.0, 2.0)))
    def run(c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Throwable =
      intercept[Throwable] {
        zeros.where(col("id") === 0).select(c(col("v")).as("c")).collect()
      }
    val eNat = run(v => graft.ann.Similarity.cosine(v, v))
    val eHof = run(v => HofRefs.cosineHof(v, v))
    def msg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("|")
    assert(msg(eNat).contains("DIVIDE_BY_ZERO"), msg(eNat))
    assert(msg(eHof).contains("DIVIDE_BY_ZERO"), msg(eHof))
  }}

  test("length-mismatched zero vectors give null, not DIVIDE_BY_ZERO, under ANSI") {
    CodegenOnly(spark, "spark.sql.ansi.enabled" -> "true") {
    // `Divide` nulls on a null dividend (the padded zip_with dot) before
    // its zero-divisor check, so the HOF never throws here
    val zeros = vecDf(Seq(Seq[java.lang.Double](0.0, 0.0), Seq[java.lang.Double](0.0, 0.0, 0.0)))
    val a = zeros.where(col("id") === 0).select(col("v").as("va"))
    val b = zeros.where(col("id") === 1).select(col("v").as("vb"))
    val cos = a.crossJoin(b).select(
      graft.ann.Similarity.cosine(col("va"), col("vb")).as("nat"),
      HofRefs.cosineHof(col("va"), col("vb")).as("hof")).collect()
    assert(cos.length == 1 && cos(0).isNullAt(0) && cos(0).isNullAt(1), cos.toSeq)
    val cl = b.select(array(struct(lit(7L).as("cid"), col("vb").as("c"))).as("__cl"))
    val cid = a.crossJoin(cl).select(
      graft.expr.vecops.nearest_cid(col("va"), col("__cl")).as("nat"),
      HofRefs.nearestCidHof(col("va"), col("__cl")).as("hof")).collect()
    assert(cid.length == 1 && cid(0).getLong(0) == -1L && cid(0).getLong(1) == -1L, cid.toSeq)
  }}

  test("NearestCentroid == HOF argmax fold on real embeddings + adversarial centroids") { CodegenOnly(spark) {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"), col("embedding").cast("array<double>").as("v"))
    val cents = graft.ann.Similarity.trainIvfCentroids(emb, "id", "v", k = 8, trainN = 256)
    val cl = cents.agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("__cl"))
    val assigned = emb.crossJoin(broadcast(cl))
      .select(col("id"),
        graft.expr.vecops.nearest_cid(col("v"), col("__cl")).as("nat"),
        HofRefs.nearestCidHof(col("v"), col("__cl")).as("hof"))
      .collect()
    assert(assigned.nonEmpty)
    assigned.foreach { r =>
      assert(r.get(1) == r.get(2), s"nearest_cid mismatch at id=${r.get(0)}")
    }
    // adversarial: centroid list containing NaN/null-element/length-skewed
    // vectors, duplicate-cosine centroids (tie must keep the FIRST in cid
    // order). Computable zero-norm vectors are excluded on both sides:
    // under ANSI both formulations throw on those (pinned separately).
    def zeroNorm(v: org.apache.spark.sql.Column) =
      !exists(v, x => x.isNull) && aggregate(transform(v, x => x * x), lit(0.0), _ + _) === 0.0
    val fz = fuzzVectors(24, 8)
    val cRows = fz.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    val cSchema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("c", ArrayType(DoubleType, containsNull = true), nullable = true)))
    val fuzzCents = spark.createDataFrame(spark.sparkContext.parallelize(cRows, 2), cSchema)
      .where(!zeroNorm(col("c")))
    val dupCents = fuzzCents.unionByName(
      fuzzCents.select((col("cid") + 100L).as("cid"), col("c"))) // exact-duplicate vectors
    val cl2 = dupCents.agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("__cl"))
    val probe = vecDf(fuzzVectors(40, 8))
      .where(col("v").isNull || !zeroNorm(col("v")))
    val out = probe.crossJoin(broadcast(cl2))
      .select(col("id"),
        graft.expr.vecops.nearest_cid(col("v"), col("__cl")).as("nat"),
        HofRefs.nearestCidHof(col("v"), col("__cl")).as("hof"))
      .collect()
    out.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"nearest_cid adversarial mismatch at id=${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }}

  test("SignLshBucket == HOF bucket on real embeddings + adversarial vectors") { CodegenOnly(spark) {
    val weights = graft.ann.Similarity.planeWeights(nPlanes = 6, dim = 64)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val got = emb.select(col("vec_id"),
      graft.ann.Similarity.lshBucket(col("v"), weights).as("nat"),
      HofRefs.lshBucketHof(col("v"), weights).as("hof")).collect()
    assert(got.nonEmpty)
    got.foreach { r => assert(r.get(1) == r.get(2), s"bucket mismatch at ${r.get(0)}") }
    val w8 = graft.ann.Similarity.planeWeights(nPlanes = 5, dim = 8)
    val fz = vecDf(fuzzVectors(64, 8))
    val got2 = fz.select(col("id"),
      graft.ann.Similarity.lshBucket(col("v"), w8).as("nat"),
      HofRefs.lshBucketHof(col("v"), w8).as("hof")).collect()
    got2.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"bucket adversarial mismatch at id=${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }}

  test("interpreted eval path matches codegen (expressions used inside HOF lambdas)") { CodegenOnly(spark) {
    // probeScores in ivfTopK evaluates cosine_sim INSIDE a transform lambda,
    // i.e. via Expression.eval — pin that path against the codegen'd one.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"), col("embedding").cast("array<double>").as("v"))
    val cents = graft.ann.Similarity.trainIvfCentroids(emb, "id", "v", k = 4, trainN = 64)
    val cl = cents.agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("__cl"))
    val viaLambda = emb.where(col("id") < 20).crossJoin(broadcast(cl))
      .withColumn("cs", transform(col("__cl"),
        ct => graft.ann.Similarity.cosine(col("v"), ct.getField("c"))))
      .select("id", "cs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).map(bits)).toMap
    val direct = emb.where(col("id") < 20).crossJoin(broadcast(cl))
      .select(col("id"), col("v"), explode(col("__cl")).as("ct"))
      .select(col("id"), graft.ann.Similarity.cosine(col("v"), col("ct.c")).as("c"))
      .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(r => bits(r.get(1))).toSeq }
    viaLambda.foreach { case (id, cs) =>
      assert(direct(id).sorted(Ordering.by((x: Any) => x.toString)) ==
        cs.sorted(Ordering.by((x: Any) => x.toString)), s"lambda-vs-codegen mismatch at id=$id")
    }
  }}
}
