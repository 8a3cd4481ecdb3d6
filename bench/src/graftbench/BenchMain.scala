package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side: builds one workload's seeded input, warms up by
 * a fixed number of passes, runs passes for the timed window and writes the
 * raw record (pass times, heap, JVM and Spark counters, spans) as JSON.
 * `run.py` launches it with pinned JVM flags and turns the record into
 * metrics.
 *
 * Usage: BenchMain <workload> <seed> <seconds> <trace 0|1> <cores> <work dir> <out.json>
 */
object BenchMain {

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", 4 * cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the status store keeps every job, stage, task and SQL execution in
      // the heap; bounded, so that heap_mb does not grow with the pass count
      .config("spark.ui.retainedJobs", 10)
      .config("spark.ui.retainedStages", 10)
      .config("spark.ui.retainedTasks", 500)
      .config("spark.sql.ui.retainedExecutions", 10)
      // Spark's generated-code cache holds 100 classes by default; one
      // corpus_dedup pass generates about 160, so at the default every pass
      // compiled ~136 classes anew and the JIT compiled them again, and pass
      // time followed the CPU the host left free. Sized so that passes reuse
      // the classes warm-up compiled.
      .config("spark.sql.codegen.cache.maxEntries", 1000)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** (steal, total) jiffies from the first line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val v = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    }
  }

  final case class PassRec(i: Int, traced: Boolean, wallS: Double, rows: Long, ok: Boolean,
                           heapMb: Double, gcS: Double, jitS: Double, allocB: Long, error: String)

  /** A short run over every workload's calls, so that the build's
    * class-data archive holds the classes the benchmark loads. */
  def train(work: Path): Unit = {
    val spark = session(2, work)
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    Trace.enabled = true
    Trace.span(spark.sparkContext, "train") {
      val turns = Inputs.transcripts(spark, 300, 1, 4).cache()
      graft.io.Manifests.resumableExtract(spark, turns, work.resolve("out").toString, 1, 4, 2)
      Extract.check(spark, work.resolve("out").toString, 300, Extract.direct(spark,
        turns.select("conv_id", "turn_idx", "text").head(4).map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq))
      graft.matching.Matching.topMatches(Inputs.items(spark, 100, 1, 4), graft.io.Transcripts.productsDim(spark),
        Seq("conv_id", "turn_idx", "item_idx")).collect()
      val docs = Inputs.corpus(spark, 400, 1, 4)
      graft.text.CorpusChain.corpusChain(docs, "doc_id", "text", "lang", "n_chars").collect()
      graft.dedup.Dedup.minhashCandidates(docs, "doc_id", "text", 3, 16, 2).count()
    }
    Json.render(Map("flush" -> probe.flush(spark).keys, "spans" -> Trace.spans))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("train")) return train(Paths.get(args(1)))
    require(args.length == 7, "usage: BenchMain <workload> <seed> <seconds> <trace 0|1> <cores> <work dir> <out.json>")
    val Array(name, seedS, secondsS, traceS, coresS, workS, outS) = args
    val (seed, seconds, trace, cores, work) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt, Paths.get(workS))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val wl = Workloads(name, spark, seed, cores, work.resolve("out"))

    // input set-up three times, keeping the last; setup_s counts the
    // median build once
    val builds = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      wl.build()
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < 3) wl.release()
      dt
    }
    wl.prepare()
    val props = wl.props

    val probe = new SparkProbe
    val sparkByPass = scala.collection.mutable.LinkedHashMap.empty[Int, PassSpark]
    val caps = if (trace) Some(graft.skew.CapMetrics.register(spark)) else None
    def runPass(i: Int, traced: Boolean, warmup: Boolean = false): PassRec = {
      val persisted = sc.getPersistentRDDs.keySet
      if (traced) { sc.addSparkListener(probe); Trace.pass = i; Trace.enabled = true }
      val (g0, j0, a0) = (gcMs, jitMs, threads.getTotalThreadAllocatedBytes)
      val t0 = System.nanoTime()
      val out = try Right(Trace.span(sc, "pass")(wl.pass(i))) catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val (g1, j1, a1) = (gcMs, jitMs, threads.getTotalThreadAllocatedBytes)
      Trace.enabled = false
      if (traced) { probe.flush(spark).foreach { case (p, s) => sparkByPass(p) = s }; sc.removeSparkListener(probe) }
      val verdict: Either[Throwable, Boolean] = out.flatMap { o =>
        try { val ok = (warmup && i != -1) || wl.check(o); wl.cleanup(o); Right(ok) }
        catch { case e: Exception => Left(e) }
      }
      (sc.getPersistentRDDs.keySet -- persisted).foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
      System.gc()
      // the ContextCleaner frees the pass's broadcasts and shuffles only
      // after a GC has found them unreachable; the second GC collects what
      // it freed, so the reading is the heap the workload keeps
      if (!warmup) { Thread.sleep(300); System.gc() }
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      verdict.left.foreach(e => System.err.println(s"[graftbench] pass $i failed: $e"))
      PassRec(i, traced, wall, wl.rows, verdict.getOrElse(false), heap,
        (g1 - g0) / 1e3, (j1 - j0) / 1e3, a1 - a0, verdict.left.toOption.map(_.toString).orNull)
    }

    // warm-up: fixed work, then a fixed number of passes; only the first
    // pass is checked (it fixes the corpus output hash and stops a broken
    // build early)
    val preWarmS = { val t0 = System.nanoTime(); wl.preWarm(); (System.nanoTime() - t0) / 1e9 }
    val warmup = (0 until wl.warmupPasses).map(i => runPass(-1 - i, traced = false, warmup = true))
    val setupEndMs = System.currentTimeMillis()

    caps.foreach(_.clear())
    val (st0, tot0) = cpuJiffies()
    // the timed window is pass time: passes run until their summed wall
    // time reaches `seconds`, and at least three, for a median (a traced
    // run then has untraced and traced passes); checks and heap readings
    // between passes are not in it
    val windowStart = System.nanoTime()
    val passes = ArrayBuffer.empty[PassRec]
    while (passes.map(_.wallS).sum < seconds || passes.size < 3)
      passes += runPass(passes.size, traced = trace && passes.size % 2 == 1)
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val (st1, tot1) = cpuJiffies()
    val capDropped = caps.map(_.snapshot().values.map(_._2).sum).getOrElse(0L)

    // layer probes of a traced run: three repetitions after the window
    val probes = if (!trace) Nil else (0 until 3).map { r =>
      sc.addSparkListener(probe)
      Trace.pass = 10000 + r; Trace.enabled = true
      val m = Trace.span(sc, "probe")(wl.probes())
      Trace.enabled = false
      probe.flush(spark).foreach { case (p, s) => sparkByPass(p) = s }
      sc.removeSparkListener(probe)
      m
    }

    val rt = ManagementFactory.getRuntimeMXBean
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "jvm_processors" -> Runtime.getRuntime.availableProcessors,
      "master" -> sc.master,
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "collectors" -> gcBeans.map(_.getName),
      "input" -> props,
      "setup" -> Map("session_s" -> sessionS, "jvm_to_first_pass_s" -> (setupEndMs - jvmStartMs) / 1e3,
        "input_builds_s" -> builds, "prewarm_s" -> preWarmS, "warmup_pass_s" -> warmup.map(_.wallS)),
      "warmup_checked_ok" -> warmup.head.ok,
      "window_s" -> windowS,
      "steal_share" -> (if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0),
      "passes" -> passes.map(p => Map("i" -> p.i, "traced" -> p.traced, "wall_s" -> p.wallS,
        "rows" -> p.rows, "ok" -> p.ok, "heap_mb" -> p.heapMb, "gc_s" -> p.gcS, "jit_s" -> p.jitS,
        "alloc_b" -> p.allocB, "error" -> p.error)),
      "spark" -> sparkByPass.map { case (p, s) => p.toString -> Map("jobs" -> s.jobs,
        "stages" -> s.stages, "tasks" -> s.tasks, "executor_run_s" -> s.runS,
        "executor_cpu_s" -> s.cpuS, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "widest_stage_task_ms" -> s.widestStageTaskMs) },
      "cap_dropped_rows" -> capDropped,
      "probes" -> probes,
      "spans" -> Trace.spans)
    Files.writeString(Paths.get(outS), Json.render(record))
    spark.stop()
  }
}
