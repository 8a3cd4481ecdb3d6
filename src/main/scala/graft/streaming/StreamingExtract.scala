package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.expr.VecCore

/**
 * Streaming analog of the reference's inbox watcher (S2,
 * app/pipeline/ingest.py:26-98): instead of a watchdog Observer pushing
 * files into a per-process `processed_files` set, Structured Streaming's
 * file source discovers new transcript files and the checkpoint makes the
 * dedup durable — exactly the "manifest instead of in-memory set" upgrade
 * SURVEY.md §3 E3 calls for.
 *
 * The extraction itself is the same map-only transform, so it is trivially
 * streamable (no state, no watermark needed); per-conversation rolling
 * stats use a watermarked sliding window as the optional stateful layer.
 */
object StreamingExtract {

  val transcriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** File-source stream of transcript parquet drops -> per-turn results. */
  def extractStream(spark: SparkSession, inDir: String): DataFrame =
    graft.Pipeline.extractTurns(
      spark.readStream.schema(transcriptSchema).parquet(inDir)).toDF()

  /** Continuous extraction job with durable progress (checkpointed). */
  def run(spark: SparkSession, inDir: String, outDir: String, checkpoint: String): DataStreamWriter[Row] =
    extractStream(spark, inDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .option("path", outDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")

  /** Watermarked per-conversation windowed counts (stateful shape:
    * 10-minute windows, 5-minute lateness). */
  def windowedConvStats(turns: DataFrame): DataFrame =
    turns
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("conv_id"))
      .agg(count(lit(1)).as("n_turns"), sum(length(col("text"))).as("n_chars"))

  /** Streaming exact dedup: drop turns whose normalized-text fingerprint
    * was already seen within the watermark horizon — the streaming analog
    * of graft.dedup.Dedup.exact. State is bounded by the watermark (Spark
    * evicts fingerprints older than the horizon), which is the only
    * tractable contract at an unbounded 10^12-turn stream; exact corpus-
    * lifetime dedup stays a batch job over the accumulated table. */
  def streamingDedup(turns: DataFrame, horizon: String = "10 minutes"): DataFrame =
    turns
      .withColumn("fp", md5(graft.dedup.Dedup.normText(col("text"))))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  // ---- watermark-bounded in-bucket pairing ---------------------------------

  /** A live bucket member: id, event time and (SemDeDup only) its vector. */
  final case class BucketDoc(id: Long, tsUs: Long, v: Array[Double])
  /** `overCapUntilUs` > 0 marks a tombstoned (over-cap) bucket: pairing is
    * suspended until the watermark passes the bucket's latest arrival —
    * the bucket has actually DRAINED, not merely been forgotten. */
  final case class BucketState(docs: List[BucketDoc], overCapUntilUs: Long = 0L)
  final case class CandPair(id_a: Long, id_b: Long)
  final case class SemPair(id_a: Long, id_b: Long, cosine: Double)

  /**
   * The one per-bucket state machine behind [[streamingNearDup]] and
   * [[streamingSemDedup]]: a pair is emitted when a later document
   * arrives in a bucket an earlier one still occupies, `pair(lo, hi)`
   * (lo.id < hi.id) deciding what — if anything — the pair becomes.
   *
   * Contracts:
   *  - State is bounded by the horizon (docs with ts below the watermark
   *    are evicted; idle buckets flush via EventTimeTimeout) — the only
   *    tractable contract on an unbounded stream; corpus-lifetime dedup
   *    stays the batch chain.
   *  - In-batch order is deterministic: a pair is emitted by its later
   *    (ts, id) member against everything live before it.
   *  - `maxBucket` mirrors the batch degenerate-bucket cap as the bucket
   *    GROWS, and the check runs BEFORE any pair materializes: when
   *    live + incoming docs would exceed the cap, the pairing loop never
   *    starts (a 100k-identical-doc microbatch costs O(n) state, not
   *    O(n^2) pair objects) and the bucket is TOMBSTONED — it emits
   *    nothing further until the watermark passes its latest arrival
   *    (i.e. it has actually drained), arrivals during the tombstone
   *    extending the drain point. Pairs emitted before the crossing are
   *    not retracted (append streams cannot retract) — the batch
   *    operator is the authority for exact cap semantics.
   */
  private def pairLiveBucket[P](rows: Iterator[BucketDoc], state: GroupState[BucketState],
                                maxBucket: Int)
                               (pair: (BucketDoc, BucketDoc) => Option[P]): Iterator[P] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val st = state.getOption
    val incoming = rows.toList.sortBy(d => (d.tsUs, d.id))
    def tombstone(untilUs: Long): Iterator[P] = {
      if (wmUs >= untilUs) state.remove() // drained — pairing may resume
      else {
        state.update(BucketState(Nil, overCapUntilUs = untilUs))
        state.setTimeoutTimestamp(math.max(untilUs / 1000L + 1L,
          state.getCurrentWatermarkMs() + 1L))
      }
      Iterator.empty
    }
    if (st.exists(_.overCapUntilUs > 0L)) {
      // still hot: arrivals extend the drain point; emit nothing
      tombstone((st.get.overCapUntilUs +: incoming.map(_.tsUs + 1L)).max)
    } else {
      val prev = st.map(_.docs).getOrElse(Nil).filter(_.tsUs >= wmUs)
      if (prev.size + incoming.size > maxBucket) {
        tombstone(((prev ++ incoming).map(_.tsUs + 1L) :+ (wmUs + 1L)).max)
      } else {
        val out = List.newBuilder[P]
        var live = prev
        incoming.foreach { d =>
          live.foreach { o =>
            if (o.id != d.id) out ++= (if (o.id < d.id) pair(o, d) else pair(d, o))
          }
          live = d :: live
        }
        val keep = live.filter(_.tsUs >= wmUs)
        if (keep.isEmpty) state.remove()
        else {
          state.update(BucketState(keep))
          state.setTimeoutTimestamp(math.max(keep.map(_.tsUs).max / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
        }
        out.result().distinct.iterator
      }
    }
  }

  /**
   * Streaming MinHash-LSH near-duplicate candidates — the watermark-
   * bounded analog of graft.dedup.Dedup.minhashCandidates: each document
   * is signed map-side with the same codegen'd minhash_sig expression and
   * banded into the same (band, bucket) keys; every bucket is paired by
   * [[pairLiveBucket]] (its state, horizon and cap contracts).
   *
   * A pair sharing several bands is emitted once per shared bucket;
   * consumers dedupe downstream (the batch operator ends in distinct() —
   * a streaming global distinct would itself need unbounded state). With
   * a horizon wider than the data span, the distinct pair set EQUALS
   * batch minhashCandidates (StreamingSpec differential).
   */
  def streamingNearDup(docs: DataFrame, idCol: String, textCol: String, tsCol: String,
                       horizon: String = "10 minutes",
                       k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                       maxBucket: Int = 10000): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = docs
      .withWatermark(tsCol, horizon)
      .where(size(graft.expr.textops.tokens_of(col(textCol))) >= k)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("__ts"),
        graft.expr.signatures.minhash_sig(
          graft.expr.textops.shingles_of(col(textCol), k), bands * rowsPerBand).as("sig"))
    val banded = sigs.select(col("id"), col("__ts"), unix_micros(col("__ts")).as("us"),
        posexplode(graft.dedup.Dedup.minhashBuckets(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bucket")))
      .select(concat_ws("#", col("band"), col("bucket")).as("bkey"),
        col("id"), col("us"), col("__ts"))
      .as[(String, Long, Long, java.sql.Timestamp)]
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_, rows, state) =>
          pairLiveBucket(rows.map(r => BucketDoc(r._2, r._3, null)), state, maxBucket) {
            (lo, hi) => Some(CandPair(lo.id, hi.id))
          }
      }
  }

  // ---- watermark-bounded streaming SemDeDup --------------------------------

  /**
   * Streaming SemDeDup pairs — the semantic sibling of
   * [[streamingNearDup]]: each embedding is assigned map-side to its
   * nearest centroid of a FIXED pre-trained quantizer (the static
   * `cents` table rides in as a stream-static broadcast — the paper
   * trains k-means once, and a streaming job reuses the persisted epoch
   * quantizer, exactly like [[graft.ann.Similarity.semDedupPairsIncremental]]);
   * every cluster is paired by [[pairLiveBucket]] (its state, horizon and
   * cap contracts), keeping a pair when its cosine, computed by the
   * batch kernel [[graft.expr.VecCore.cosineBoxed]], clears `threshold`. With a horizon wider than the
   * data span the pair set (cosines included, bit-exact) EQUALS batch
   * [[graft.ann.Similarity.semDedupPairsWithCentroids]].
   */
  def streamingSemDedup(emb: DataFrame, cents: DataFrame,
                        idCol: String, vecCol: String, tsCol: String,
                        horizon: String = "10 minutes",
                        threshold: Double = 0.3, maxBucket: Int = 10000): Dataset[SemPair] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val assigned = graft.ann.Similarity.assignNearest(
      emb.withWatermark(tsCol, horizon)
        .select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v"), col(tsCol).as("__ts")),
      "v", cents)
      .select(col("cid"), col("id"), col("v"), unix_micros(col("__ts")).as("us"), col("__ts"))
      .as[(Long, Long, Array[Double], Long, java.sql.Timestamp)]
    assigned.groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, SemPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_, rows, state) =>
          pairLiveBucket(rows.map(r => BucketDoc(r._2, r._4, r._3)), state, maxBucket) {
            (lo, hi) =>
              // the batch side computes cosine(v_a, v_b) with id_a < id_b
              // ansi = false: a zero vector's cosine is NaN, never a pair
              val c: Double = VecCore.cosineBoxed(
                ArrayData.toArrayData(lo.v), ArrayData.toArrayData(hi.v), ansi = false)
              if (c > threshold) Some(SemPair(lo.id, hi.id, c)) else None
          }
      }
  }

  // ---- gap sessionization with custom state --------------------------------

  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class SessionBuf(open: List[OpenSession])
  final case class SessionOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long)

  /** Streaming gap sessionization via flatMapGroupsWithState +
    * EventTimeTimeout — the custom-state formulation of the batch
    * `session_window` query (q49), for when a pipeline needs to enrich or
    * act on each session as it CLOSES rather than aggregate it. Events are
    * merged into open [start, last+gap] intervals (merge at exactly-gap,
    * split strictly beyond it — the session_window convention, pinned by
    * the StreamingSpec boundary fixture); a session finalizes once the
    * watermark passes strictly beyond its end — sound because a later
    * event could only merge if ts <= last+gap < watermark, and
    * post-watermark events are dropped.
    * State per user is the handful of currently-open sessions; the timeout
    * is set to the earliest open end so idle users flush without new
    * input. StreamingSpec asserts equality with batch session_window on
    * the same bounded input. */
  def streamingSessions(events: DataFrame, gapMinutes: Int = 30,
                        lateness: String = "0 seconds"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val evs = events
      .withWatermark("ts", lateness)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
    // interval merge over sessions sorted by start; acc head is the most
    // recent interval, merged while next.start <= head.last + gap (an
    // event exactly gap after the last one still merges — session_window
    // semantics)
    def merge(open: List[OpenSession], tsUs: Seq[Long]): List[OpenSession] = {
      val all = (open ++ tsUs.map(t => OpenSession(t, t, 1L)))
        .sortBy(s => (s.startUs, s.lastUs))
      all.foldLeft(List.empty[OpenSession]) { (acc, s) =>
        acc match {
          case h :: t if s.startUs <= h.lastUs + gapUs =>
            OpenSession(h.startUs, math.max(h.lastUs, s.lastUs), h.n + s.n) :: t
          case _ => s :: acc
        }
      }.reverse
    }
    evs.groupByKey(_._1)
      .flatMapGroupsWithState[SessionBuf, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user, rows, state) =>
          val open0 = state.getOption.map(_.open).getOrElse(Nil)
          val incoming = rows.map(_._3).toSeq
          val merged = if (incoming.isEmpty) open0 else merge(open0, incoming)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, stillOpen) = merged.partition(s => s.lastUs + gapUs < wmUs)
          if (stillOpen.isEmpty) state.remove()
          else {
            state.update(SessionBuf(stillOpen))
            // fire once the watermark is STRICTLY past the earliest end
            val earliestEndMs = stillOpen.map(s => (s.lastUs + gapUs) / 1000L).min + 1L
            state.setTimeoutTimestamp(math.max(earliestEndMs, state.getCurrentWatermarkMs() + 1L))
          }
          closed.sortBy(_.startUs).iterator
            .map(s => SessionOut(user, s.startUs, s.lastUs + gapUs, s.n))
      }
  }

  /** Per-conversation running state (custom stateful operator shape):
    * tracks turns seen, item count and the max turn_idx per conv via
    * mapGroupsWithState — the durable analog of the reference watcher's
    * in-memory `processed_files` bookkeeping (ingest.py:24-58). */
  final case class ConvState(n_turns: Long, n_items: Long, max_turn_idx: Int)
  final case class ConvUpdate(conv_id: String, n_turns: Long, n_items: Long, max_turn_idx: Int)

  def statefulConvTracker(turns: DataFrame): Dataset[ConvUpdate] = {
    val spark = turns.sparkSession
    import spark.implicits._
    graft.Pipeline.extractTurns(turns)
      .groupByKey(_.conv_id)
      .mapGroupsWithState[ConvState, ConvUpdate](GroupStateTimeout.NoTimeout()) {
        case (conv, rows, state) =>
          val prev = state.getOption.getOrElse(ConvState(0L, 0L, -1))
          var n = prev.n_turns; var items = prev.n_items; var mx = prev.max_turn_idx
          rows.foreach { r =>
            n += 1; items += r.best_count.toLong
            if (r.turn_idx > mx) mx = r.turn_idx
          }
          val next = ConvState(n, items, mx)
          state.update(next)
          ConvUpdate(conv, next.n_turns, next.n_items, next.max_turn_idx)
      }
  }
}
