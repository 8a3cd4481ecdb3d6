package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Regenerates the committed golden parquet oracles for the engine-level
 * queries (q18/q19/q20): runs each query at every test scale factor, tags
 * each slice with that sf's turn count (the oracle's selection key), and
 * writes ONE parquet file per query under src/test/resources/golden/.
 *
 * Run ONLY after a parity-verified semantic change (same policy as
 * GoldenGen): `sbt -batch "Test/runMain graft.GoldenParquetGen"`, then
 * re-run the parity + oracle harnesses before committing the new files.
 */
object GoldenParquetGen {
  private val queries = Seq("q18_extract_turns", "q19_extract_items", "q20_wratio_match")
  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("src/test/resources/golden")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outBase))
    queries.foreach { name =>
      val slices = sfDirs.map { dir =>
        SparkEntry.byName(name).build(spark, dir)
          .withColumn("n_turns", lit(SparkEntry.nTurns(dir)))
      }
      val tmp = Files.createTempDirectory(s"golden-$name").toString
      slices.reduce(_ unionByName _).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val dest = Paths.get(outBase, s"$name.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      println(s"golden $name -> $dest (${Files.size(dest)} bytes)")
    }
    spark.stop()
  }
}
