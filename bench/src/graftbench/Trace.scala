package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval: `start`/`end` in epoch microseconds, `parent` 0 for
  * a root, `pass` shared by every span of one pass (-1 outside passes). */
final case class Span(id: Long, parent: Long, pass: Int, name: String, start: Long, end: Long)

/**
 * In-memory span recorder. Driver-side spans wrap each call the benchmark
 * makes into a layer; the [[SparkProbe]] adds Spark job and task spans
 * under them. Nothing is written until the run ends.
 */
object Trace {
  private val ids = new AtomicLong(0)
  private val buf = ArrayBuffer.empty[Span]
  // nanoTime is monotonic; the offset puts it on the epoch clock the
  // Spark listener events use, so driver and task spans share one axis
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowUs: Long = (System.nanoTime() + offsetNs) / 1000L

  @volatile var enabled = false
  @volatile var pass = -1
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized { buf.toList }

  /** Run `f` inside a span named `name`; Spark jobs it starts carry the
    * span id as their parent. A no-op wrapper while tracing is off. */
  def span[A](sc: SparkContext, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId()
      val parent = current.get()
      val prevProp = sc.getLocalProperty(SparkProbe.SpanKey)
      current.set(id)
      sc.setLocalProperty(SparkProbe.SpanKey, id.toString)
      sc.setLocalProperty(SparkProbe.PassKey, pass.toString)
      val t0 = nowUs
      try f
      finally {
        add(Span(id, parent, pass, name, t0, nowUs))
        current.set(parent)
        sc.setLocalProperty(SparkProbe.SpanKey, prevProp)
      }
    }
}

/** Per-pass Spark totals from the listener. */
final case class PassSpark(jobs: Int, stages: Int, tasks: Int, runS: Double, cpuS: Double,
                           shuffleWriteBytes: Long, spillBytes: Long,
                           widestStageTaskMs: Seq[Long])

/**
 * SparkListener registered by the benchmark: turns each job started under a
 * traced span into a `spark.job` span and each of its tasks into a
 * `spark.task` span, and keeps per-pass totals of the task metrics.
 */
final class SparkProbe extends SparkListener {
  private final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
                                   cpuNs: Long, shuffleWrite: Long, spill: Long)
  private final case class JobRec(spanId: Long, parent: Long, pass: Int, startMs: Long,
                                  var endMs: Long = -1L, tasks: ArrayBuffer[TaskRec] = ArrayBuffer.empty,
                                  stagesRun: ArrayBuffer[Int] = ArrayBuffer.empty)
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val parent = p.flatMap(x => Option(x.getProperty(SparkProbe.SpanKey))).map(_.toLong)
    parent.foreach { par =>
      val pass = p.flatMap(x => Option(x.getProperty(SparkProbe.PassKey))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(Trace.nextId(), par, pass, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stagesRun += e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); job <- jobs.get(jobId)) {
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, 0L, 0L, 0L, 0L)
        else TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      job.tasks += rec
    }
  }

  /** Wait for every queued event, then move the jobs and tasks seen so
    * far into the trace as spans; returns the totals of each pass. */
  def flush(spark: SparkSession): Map[Int, PassSpark] = {
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
    val done = synchronized {
      val d = jobs.values.toList
      jobs.clear(); stageJob.clear()
      d
    }
    done.foreach { j =>
      val end = if (j.endMs >= 0) j.endMs else j.tasks.map(_.finishMs).maxOption.getOrElse(j.startMs)
      Trace.add(Span(j.spanId, j.parent, j.pass, "spark.job", j.startMs * 1000L, end * 1000L))
      j.tasks.foreach { t =>
        Trace.add(Span(Trace.nextId(), j.spanId, j.pass, "spark.task", t.launchMs * 1000L, t.finishMs * 1000L))
      }
    }
    done.groupBy(_.pass).map { case (pass, js) =>
      val tasks = js.flatMap(_.tasks)
      val widest = tasks.groupBy(_.stage).values.maxByOption(_.size).getOrElse(Nil)
      pass -> PassSpark(js.size, js.map(_.stagesRun.size).sum, tasks.size,
        tasks.map(_.runMs).sum / 1e3, tasks.map(_.cpuNs).sum / 1e9,
        tasks.map(_.shuffleWrite).sum, tasks.map(_.spill).sum,
        widest.map(t => t.finishMs - t.launchMs))
    }
  }
}

object SparkProbe {
  val SpanKey = "graftbench.span"
  val PassKey = "graftbench.pass"
}

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case sp: Span =>
      render(Map("id" -> sp.id, "parent" -> sp.parent, "pass" -> sp.pass, "name" -> sp.name,
        "start_us" -> sp.start, "end_us" -> sp.end))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
