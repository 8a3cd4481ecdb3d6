package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge

/** Per-query profile (dev) in Bench's session, after Bench's sf0.001
  * warm-up. Usage: `Test/runMain graft.QuickQ [q...]`, each q a registry
  * name or its bare `qNN` (no names: the benched set); SPARK_GRAFT_SF_DIR
  * and SPARK_GRAFT_CPUS as for Bench.
  * Each query runs 3 times; every run prints its wall time, the Spark
  * jobs, completed stages and finished tasks it ran, and the driver JVM's
  * GC ms, JIT ms and generated classes compiled (CodegenMetrics) it added.
  * The last run also prints one line per job with its call site. */
object QuickQ {
  private final class Job(val callSite: String, val stages: Int, val tasks: Int, val start: Long) {
    @volatile var end = 0L
  }

  /** A registry entry by its name or by its bare `qNN` (the key of
    * PLANS.md and tools/plan_diff.py); an unknown argument fails. */
  private def lookup(arg: String): SparkEntry.Query =
    SparkEntry.byName.get(arg).orElse(
        if (arg.matches("q\\d+")) SparkEntry.registry.find(_.name.startsWith(arg + "_")) else None)
      .getOrElse(throw new IllegalArgumentException(
        s"QuickQ: unknown query '$arg' (give a registry name, e.g. q21_minhash_candidates, or q21)"))

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.envSfDir
    val queries = if (args.isEmpty) SparkEntry.benched else args.toSeq.map(lookup)
    val spark = Bench.session(Bench.envCpus)
    val jobs = new ConcurrentHashMap[Int, Job]()
    val sites = new ConcurrentHashMap[Long, String]() // SQL execution id -> its action's call site
    val stages = new AtomicInteger()
    val tasks = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.put(s.executionId, s.description)
        case _ =>
      }
      // AQE runs a query's stages as jobs on its own threads: name them by
      // the call site of the Dataset action that started the execution,
      // other jobs by their result stage (the highest stage id)
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(sites.get(id.toLong))).getOrElse(e.stageInfos.maxBy(_.stageId).name)
        jobs.put(e.jobId, new Job(site, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    Bench.warmUp(spark, queries, sfDir)
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (q <- queries; run <- 1 to 3) {
      Bridge.waitListenerBus(spark)
      jobs.clear(); stages.set(0); tasks.set(0)
      val (gc0, jit0, cg0, t0) = (gcMs, jitMs, compiles, System.nanoTime())
      val failure = try { Bench.runNoop(spark, q, sfDir); "" } catch { case NonFatal(e) => s" FAILED: ${e.getMessage}" }
      val wall = (System.nanoTime() - t0) / 1e9
      val (gc, jit, cg) = (gcMs - gc0, jitMs - jit0, compiles - cg0)
      Bridge.waitListenerBus(spark)
      println(f"[quickq] ${q.name}%-26s run$run wall=$wall%.3f s jobs=${jobs.size} stages=${stages.get} " +
        f"tasks=${tasks.get} gc=+$gc ms jit=+$jit ms compiles=+$cg$failure")
      if (run == 3) jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, j) =>
        println(f"[job] ${q.name}%-26s id=$id%4d ${(j.end - j.start) / 1e3}%7.3f s stages=${j.stages} " +
          s"tasks=${j.tasks} cs=${j.callSite}")
      }
    }
    spark.stop()
  }
}
