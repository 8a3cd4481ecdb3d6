package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession

/** S2 streaming analog: file-source extraction with checkpointed progress —
  * new files are processed exactly once across restarts. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("file-source stream extracts new drops exactly once (durable dedup)") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    // drop 1: first 100 turns
    graft.io.Transcripts.generateDF(spark, 100L)
      .write.mode("append").parquet(inDir)
    graft.streaming.StreamingExtract.run(spark, inDir, outDir, ckpt).start()
      .awaitTermination()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == 100L)
    // drop 2: next batch appended; restarting the query processes ONLY new files
    graft.io.Transcripts.generate(spark, 150L).toDF()
      .where("turn_idx >= 0").limit(150).write.mode("append").parquet(inDir)
    graft.streaming.StreamingExtract.run(spark, inDir, outDir, ckpt).start()
      .awaitTermination()
    val n2 = spark.read.parquet(outDir).count()
    assert(n2 == 250L, s"expected 250 rows after second drop, got $n2")
    // third restart with no new data: nothing reprocessed
    graft.streaming.StreamingExtract.run(spark, inDir, outDir, ckpt).start()
      .awaitTermination()
    assert(spark.read.parquet(outDir).count() == 250L)
  }

  test("mapGroupsWithState tracks per-conversation running state across micro-batches") {
    val base = java.nio.file.Files.createTempDirectory("graft-state").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
    graft.io.Transcripts.generateDF(spark, 80L).write.mode("append").parquet(inDir)
    val updDir = s"$base/updates"
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(graft.streaming.StreamingExtract.transcriptSchema).parquet(inDir)
      val q = graft.streaming.StreamingExtract.statefulConvTracker(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingExtract.ConvUpdate], _: Long) =>
          df.write.mode("append").parquet(updDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val rows = spark.read.parquet(updDir).collect()
    val hot = rows.filter(_.getAs[String]("conv_id") == "conv-hot-00000000")
    assert(hot.nonEmpty)
    assert(hot.map(_.getAs[Long]("n_turns")).max == 4L) // 5% of 80
    // second drop: checkpointed state carries over, counts grow past 4
    graft.io.Transcripts.generate(spark, 160L).toDF().write.mode("append").parquet(inDir)
    runOnce()
    val rows2 = spark.read.parquet(updDir).collect()
    val hot2 = rows2.filter(_.getAs[String]("conv_id") == "conv-hot-00000000")
    assert(hot2.map(_.getAs[Long]("n_turns")).max > 4L)
  }

  test("windowed per-conversation stats run with watermark (stateful shape)") {
    val turns = graft.io.Transcripts.generateDF(spark, 200L)
    val stats = graft.streaming.StreamingExtract.windowedConvStats(turns).collect()
    assert(stats.nonEmpty)
    assert(stats.map(_.getAs[Long]("n_turns")).sum == 200L)
  }

  test("streaming exact dedup drops duplicate fingerprints within the watermark") {
    val base = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val turns = graft.io.Transcripts.generateDF(spark, 60L)
    // duplicate every turn's text (same ts window) — stream must emit one per fp
    turns.union(turns.withColumn("turn_idx", turns("turn_idx") + 1000))
      .write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema(graft.streaming.StreamingExtract.transcriptSchema).parquet(inDir)
    graft.streaming.StreamingExtract.streamingDedup(stream)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt).option("path", outDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").start().awaitTermination()
    val out = spark.read.parquet(outDir)
    val distinctFps = out.select("fp").distinct().count()
    assert(out.count() == distinctFps, "no duplicate fingerprints may survive")
    // the 60 unique texts (minus any natural dups inside the batch) all present
    assert(distinctFps ==
      turns.select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.trim(
          org.apache.spark.sql.functions.regexp_replace(turns("text"), "\\s+", " ")))))
        .distinct().count())
  }

  test("flatMapGroupsWithState sessionization equals batch session_window on closed sessions") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime // ms, UTC session
    def ev(u: Long, minutes: Long) = (u, new java.sql.Timestamp(t0 + minutes * 60000L))
    val data = Seq(
      ev(1, 0), ev(1, 10), ev(1, 20), ev(1, 60), ev(1, 75), // two sessions (20 -> 60 gap 40m)
      ev(2, 5), ev(2, 34), ev(2, 64), ev(2, 200), // 64 - 34 = exactly 30m -> still MERGES
      ev(3, 0))
    data.toDF("user_id", "ts").write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("user_id BIGINT, ts TIMESTAMP"))
        .parquet(inDir)
      graft.streaming.StreamingExtract.streamingSessions(stream, gapMinutes = 30)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingExtract.SessionOut], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    runOnce()
    // a far-future sentinel event advances the GLOBAL watermark so every
    // real user's open session times out and closes
    Seq(ev(999L, 100000L)).toDF("user_id", "ts").write.mode("append").parquet(inDir)
    runOnce()
    val got = spark.read.parquet(outDir).where("user_id <> 999")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = data.toDF("user_id", "ts")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"sw.start"), unix_micros($"sw.end"), $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got.size >= 5, "fixture must produce several sessions incl. the exact-gap merge")
  }

  test("streaming sessionization merges two open sessions when a bridging event arrives late") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-sessmerge").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ev(u: Long, minutes: Long) = (u, new java.sql.Timestamp(t0 + minutes * 60000L))
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("user_id BIGINT, ts TIMESTAMP"))
        .parquet(inDir)
      graft.streaming.StreamingExtract
        .streamingSessions(stream, gapMinutes = 30, lateness = "2 hours")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingExtract.SessionOut], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    // batch 1: two open sessions [0,30) and [40,70); nothing closes (2h lateness)
    Seq(ev(7, 0), ev(7, 40)).toDF("user_id", "ts").write.mode("append").parquet(inDir)
    runOnce()
    // batch 2: the bridge at minute 25 ([25,55)) overlaps BOTH open sessions
    Seq(ev(7, 25)).toDF("user_id", "ts").write.mode("append").parquet(inDir)
    runOnce()
    Seq(ev(999L, 100000L)).toDF("user_id", "ts").write.mode("append").parquet(inDir)
    runOnce()
    val got = spark.read.parquet(outDir).where("user_id = 7")
      .select("session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val us = 60000000L
    val t0us = t0 * 1000L
    assert(got == Set((t0us, t0us + 70L * us, 3L)),
      s"bridge must merge the two open sessions into [t0, t0+70min): $got")
  }

  test("streaming near-dup candidates equal batch MinHash candidates; horizon evicts state") {
    val sq = spark; import sq.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-sneardup").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def doc(id: Long, text: String, minutes: Long) =
      (id, text, new java.sql.Timestamp(t0 + minutes * 60000L))
    val baseText = (1 to 60).map(i => s"token$i").mkString(" ")
    val near = (1 to 57).map(i => s"token$i").mkString(" ") + " tokenx tokeny tokenz"
    val far = (100 to 160).map(i => s"token$i").mkString(" ")
    val phase1 = Seq(doc(1, baseText, 0), doc(2, near, 1), doc(3, far, 2))
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, ts TIMESTAMP"))
        .parquet(inDir)
      graft.streaming.StreamingExtract
        .streamingNearDup(stream, "doc_id", "text", "ts", horizon = "60 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingExtract.CandPair], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    phase1.toDF("doc_id", "text", "ts").write.mode("append").parquet(inDir)
    runOnce()
    def gotPairs() = spark.read.parquet(outDir)
      .select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def batchPairs(docs: Seq[(Long, String, java.sql.Timestamp)]) =
      graft.dedup.Dedup.minhashCandidates(
        docs.toDF("doc_id", "text", "ts"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b1 = batchPairs(phase1)
    assert(b1.contains((1L, 2L)) && !b1.exists(p => p._1 == 3L || p._2 == 3L))
    assert(gotPairs() == b1, "same-horizon stream must equal batch candidates")
    // advance the watermark far past phase 1 + horizon with a sentinel doc
    // that shares no bucket with anything (unique tokens, >= k so it is
    // not filtered before the watermark operator)
    Seq(doc(900, "sentinelalpha sentinelbeta sentinelgamma sentineldelta", 50000L))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(inDir)
    runOnce()
    // identical texts re-arrive under NEW ids far beyond the horizon: they
    // must pair with each other, never with the evicted phase-1 docs
    val phase2 = Seq(doc(11, baseText, 100000L), doc(12, near, 100001L))
    phase2.toDF("doc_id", "text", "ts").write.mode("append").parquet(inDir)
    runOnce()
    val finalPairs = gotPairs()
    assert(finalPairs == b1 ++ batchPairs(phase2),
      s"cross-horizon pairs must not appear: $finalPairs")
    assert(batchPairs(phase2) == Set((11L, 12L)))
  }

  test("streaming dedup with an unbounded horizon equals batch Dedup.exact") {
    // the differential: the same input through the batch operator and the
    // stream (horizon so wide no state is ever evicted) must keep the same
    // survivor FINGERPRINT set — which row survives per fp is arbitrary in
    // both (batch keeps min id, stream keeps first seen), so fp sets are
    // the contract
    val base = java.nio.file.Files.createTempDirectory("graft-sdiff").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val turns = graft.io.Transcripts.generateDF(spark, 120L)
    val withDups = turns.union(turns.withColumn("turn_idx", turns("turn_idx") + 5000))
    withDups.write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema(graft.streaming.StreamingExtract.transcriptSchema).parquet(inDir)
    graft.streaming.StreamingExtract.streamingDedup(stream, horizon = "3650 days")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt).option("path", outDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").start().awaitTermination()
    val streamFps = spark.read.parquet(outDir)
      .select("fp").collect().map(_.getString(0)).toSet
    val batchFps = graft.dedup.Dedup.exact(withDups, "turn_idx", "text")
      .select("norm_hash").collect().map(_.getString(0)).toSet
    assert(streamFps == batchFps)
    assert(spark.read.parquet(outDir).count() == batchFps.size.toLong,
      "stream must emit exactly one survivor per fingerprint")
  }

  test("streaming SemDeDup equals batch pairs (cosines bit-exact) with a pre-trained quantizer") {
    val sq = spark; import sq.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ssem").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val vecsBatch = (0L until 120L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat),
        new java.sql.Timestamp(t0 + i * 60000L))
    }
    val static = vecsBatch.toDF("vec_id", "embedding", "ts")
    // epoch-0 quantizer, trained once on the batch corpus
    val cents = graft.ann.Similarity.trainIvfCentroids(static, "vec_id", "embedding", k = 4)
    val batch = graft.ann.Similarity.semDedupPairsWithCentroids(
      static, "vec_id", "embedding", cents, threshold = 0.3)
      .select("id_a", "id_b", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty)
    static.write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, ts TIMESTAMP"))
      .parquet(inDir)
    graft.streaming.StreamingExtract
      .streamingSemDedup(stream, cents, "vec_id", "embedding", "ts",
        horizon = "36500 days", threshold = 0.3)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingExtract.SemPair], _: Long) =>
        df.write.mode("append").parquet(outDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    val got = spark.read.parquet(outDir).select("id_a", "id_b", "cosine").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch,
      s"stream must equal batch incl. exact cosines: missing=${batch -- got} extra=${got -- batch}")
  }

  test("streaming SemDeDup horizon evicts state: no cross-horizon pairs") {
    val sq = spark; import sq.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ssemev").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def vec(id: Long, minutes: Long) =
      (id, Array.tabulate(8)(d => math.sin((id % 3) * 8 + d).toFloat), // 3 near-dup shapes
        new java.sql.Timestamp(t0 + minutes * 60000L))
    val all = (Seq(vec(1, 0), vec(2, 1), vec(4, 2)) // 1 & 4 same shape -> pair
      ++ Seq(vec(900, 50000))                        // sentinel advances watermark
      ++ Seq(vec(10, 100000), vec(13, 100001)))      // same shape as 1/4, far later
    val static = all.toDF("vec_id", "embedding", "ts")
    val cents = graft.ann.Similarity.trainIvfCentroids(static, "vec_id", "embedding", k = 2)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>, ts TIMESTAMP"))
        .parquet(inDir)
      graft.streaming.StreamingExtract
        .streamingSemDedup(stream, cents, "vec_id", "embedding", "ts",
          horizon = "60 minutes", threshold = 0.99)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingExtract.SemPair], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    def gotPairs() = spark.read.parquet(outDir).select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(vec(1, 0), vec(2, 1), vec(4, 2)).toDF("vec_id", "embedding", "ts")
      .write.mode("append").parquet(inDir)
    runOnce()
    assert(gotPairs() == Set((1L, 4L)), s"phase-1 in-horizon pair: ${gotPairs()}")
    Seq(vec(900, 50000)).toDF("vec_id", "embedding", "ts")
      .write.mode("append").parquet(inDir)
    runOnce()
    // identical-shape vectors re-arrive far past the horizon: they pair
    // with each other, never with the evicted phase-1 members
    Seq(vec(10, 100000), vec(13, 100001)).toDF("vec_id", "embedding", "ts")
      .write.mode("append").parquet(inDir)
    runOnce()
    assert(gotPairs() == Set((1L, 4L), (10L, 13L)),
      s"cross-horizon pairs must not appear: ${gotPairs()}")
  }

  test("streaming near-dup tombstones an over-cap bucket BEFORE materializing pairs") {
    val sq = spark; import sq.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-scap").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def doc(id: Long, text: String, minutes: Long) =
      (id, text, new java.sql.Timestamp(t0 + minutes * 60000L))
    val hotText = (1 to 40).map(i => s"dense$i").mkString(" ")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, ts TIMESTAMP"))
        .parquet(inDir)
      graft.streaming.StreamingExtract
        .streamingNearDup(stream, "doc_id", "text", "ts", horizon = "60 minutes",
          maxBucket = 5)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingExtract.CandPair], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    def gotPairs() =
      if (!new java.io.File(outDir).exists()) Set.empty[(Long, Long)]
      else spark.read.parquet(outDir).select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 12 identical docs land in one microbatch at maxBucket=5: the cap
    // check fires before the pairing loop, so the degenerate bucket emits
    // ZERO pairs (the old order would have built all 66 pairs first)
    (1L to 12L).map(i => doc(i, hotText, i)).toDF("doc_id", "text", "ts")
      .write.mode("append").parquet(inDir)
    runOnce()
    assert(gotPairs().isEmpty, s"over-cap bucket must emit nothing: ${gotPairs()}")
    // docs arriving while the bucket is still tombstoned emit nothing either
    // (the pre-fix reset semantics would have paired 13 with 14 immediately)
    Seq(doc(13, hotText, 20), doc(14, hotText, 21)).toDF("doc_id", "text", "ts")
      .write.mode("append").parquet(inDir)
    runOnce()
    assert(gotPairs().isEmpty, s"tombstoned bucket must stay silent: ${gotPairs()}")
    // a sentinel advances the watermark far past the drain point...
    Seq(doc(900, "sentinelalpha sentinelbeta sentinelgamma sentineldelta", 50000L))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(inDir)
    runOnce()
    // ...after which the SAME bucket keys pair again (the bucket drained)
    Seq(doc(21, hotText, 100000L), doc(22, hotText, 100001L))
      .toDF("doc_id", "text", "ts").write.mode("append").parquet(inDir)
    runOnce()
    assert(gotPairs() == Set((21L, 22L)),
      s"pairing must resume after the tombstone drains: ${gotPairs()}")
  }

  test("streaming SemDeDup tombstones an over-cap cluster BEFORE materializing pairs") {
    val sq = spark; import sq.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ssemcap").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val hot = Array.tabulate(8)(d => math.sin(d + 1.0))
    // sign +1: the hot cluster; sign -1: the opposite cluster
    def vec(id: Long, sign: Double, minutes: Long) =
      (id, hot.map(x => (sign * x).toFloat), new java.sql.Timestamp(t0 + minutes * 60000L))
    // a fixed two-centroid quantizer: the hot direction and its opposite
    val cents = Seq((0L, hot), (1L, hot.map(-_))).toDF("cid", "c")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>, ts TIMESTAMP"))
        .parquet(inDir)
      graft.streaming.StreamingExtract
        .streamingSemDedup(stream, cents, "vec_id", "embedding", "ts",
          horizon = "60 minutes", threshold = 0.3, maxBucket = 5)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.StreamingExtract.SemPair], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    def gotPairs() =
      if (!new java.io.File(outDir).exists()) Set.empty[(Long, Long)]
      else spark.read.parquet(outDir).select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 12 identical vectors land in one cluster in one microbatch at
    // maxBucket=5: the cap check fires before any cosine is computed, so
    // the degenerate cluster emits ZERO pairs (not 66)
    (1L to 12L).map(i => vec(i, 1.0, i)).toDF("vec_id", "embedding", "ts")
      .write.mode("append").parquet(inDir)
    runOnce()
    assert(gotPairs().isEmpty, s"over-cap cluster must emit nothing: ${gotPairs()}")
    // arrivals while the cluster is tombstoned emit nothing either
    Seq(vec(13, 1.0, 20), vec(14, 1.0, 21)).toDF("vec_id", "embedding", "ts")
      .write.mode("append").parquet(inDir)
    runOnce()
    assert(gotPairs().isEmpty, s"tombstoned cluster must stay silent: ${gotPairs()}")
    // a sentinel in the OTHER cluster advances the watermark past the drain point...
    Seq(vec(900, -1.0, 50000L)).toDF("vec_id", "embedding", "ts")
      .write.mode("append").parquet(inDir)
    runOnce()
    // ...after which the same cluster pairs again (it drained)
    Seq(vec(21, 1.0, 100000L), vec(22, 1.0, 100001L))
      .toDF("vec_id", "embedding", "ts").write.mode("append").parquet(inDir)
    runOnce()
    assert(gotPairs() == Set((21L, 22L)),
      s"pairing must resume after the tombstone drains: ${gotPairs()}")
  }
}
