package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // cap-drop observability: every KeyCaps/maxBucket guard reports how
    // many keys/rows its cap removed (CapMetrics scaladoc) — dumped per
    // query below so silent truncation shows up in the round artifacts
    val caps = graft.skew.CapMetrics.register(spark)
    val capsByQuery = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.registry.foreach { query =>
      val name = query.name
      caps.clear()
      try {
        query.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
        val snap = caps.snapshot()
        if (snap.nonEmpty) capsByQuery(name) = graft.skew.CapMetrics.toJson(snap)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/cap_metrics.json"),
      capsByQuery.map { case (k, v) => s""""$k": $v""" }.mkString("{", ",", "}"))
    import graft.io.Manifests.{jsonString => q}
    val json = SparkEntry.registry
      .map(query => s"${q(query.name)}: ${q(query.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
