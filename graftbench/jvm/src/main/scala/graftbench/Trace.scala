package graftbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One interval of a run: a call into a layer, or a Spark job or stage.
  * Times are epoch milliseconds; `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Double, end: Double, attrs: Map[String, Any]) {
  def toJson(run: String): String = Json.obj(
    "id" -> id, "parent" -> parent, "run" -> run, "name" -> name, "kind" -> kind,
    "start_ms" -> start, "end_ms" -> end, "attrs" -> attrs)
}

/** Spans kept in memory and written out when the run ends. When disabled,
  * `span` only runs its body: no listener, no local property, no record. */
final class Trace(val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var sc: Option[SparkContext] = None

  def newId(): Long = ids.incrementAndGet()
  /** Id of the innermost open span on this thread, 0 if none. */
  def current: Long = stack.get().headOption.getOrElse(0L)
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Follow jobs and stages of `ctx`, linking each job to the span that was
    * open on the submitting thread. */
  def attach(ctx: SparkContext): Unit = if (enabled) {
    sc = Some(ctx)
    ctx.addSparkListener(new Trace.JobListener(this))
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = sc.foreach(org.apache.spark.graftbench.Internals.drainListenerBus)

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      sc.foreach(_.setLocalProperty(Trace.SpanProp, id.toString))
      val start = nowMs
      try body
      finally {
        add(Span(id, parent, name, "call", start, nowMs, attrs))
        stack.set(outer)
        sc.foreach(_.setLocalProperty(Trace.SpanProp, outer.headOption.map(_.toString).orNull))
      }
    }
}

object Trace {
  val SpanProp = "graftbench.span"

  /** Jobs become spans under the caller's span, stages under their job.
    * Task totals are aggregated per stage; the per-task run times are kept
    * only until the stage completes (for its max and median). */
  final class JobListener(trace: Trace) extends SparkListener {
    private case class Job(span: Long, parent: Long, start: Long)
    private val jobs = mutable.Map[Int, Job]()
    private val jobSpan = mutable.Map[Int, Long]()
    private val stageJob = mutable.Map[Int, Int]()
    private val taskRun = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

    private def parentOf(p: Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = Job(trace.newId(), parentOf(e.properties), e.time)
      jobs(e.jobId) = j
      jobSpan(e.jobId) = j.span
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        trace.add(Span(j.span, j.parent, s"job ${e.jobId}", "job", j.start.toDouble,
          e.time.toDouble, Map("job_id" -> e.jobId, "ok" -> (e.jobResult == JobSucceeded))))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null)
        taskRun.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
          .append(e.taskMetrics.executorRunTime)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val runs = taskRun.remove((si.stageId, si.attemptNumber())).getOrElse(mutable.ArrayBuffer()).sorted
      val m = si.taskMetrics
      val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).getOrElse(0L)
      val attrs: Map[String, Any] =
        if (m == null) Map("tasks" -> si.numTasks)
        else Map(
          "tasks" -> si.numTasks,
          "run_ms" -> m.executorRunTime,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "task_max_ms" -> runs.lastOption.getOrElse(0L),
          "task_median_ms" -> (if (runs.isEmpty) 0L else runs(runs.size / 2)))
      trace.add(Span(trace.newId(), parent, s"stage ${si.stageId}", "stage",
        si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble, attrs))
    }
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(collection.immutable.ListMap(kv: _*))
}
