package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of work: `parent` is the enclosing span (0 = none);
  * `tag` names the operation instance (a query name, a pass index). */
final case class Span(id: Long, parent: Long, name: String, tag: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` is a plain call. Enabled, it
  * records the interval and tags every Spark job submitted from inside
  * the span with the span id (a local property of the calling thread,
  * which Spark copies onto the job, its stages and broadcast threads),
  * so the listener can attribute scheduler work to the innermost span.
  * Nothing is written until the run ends. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var nextId = 1L
  /** Wall-clock anchor, to place listener events (epoch ms) on the
    * span timeline (monotonic ns). */
  val anchorNs: Long = System.nanoTime()
  val anchorMs: Long = System.currentTimeMillis()

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val outer = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, outer)
        spans += Span(id, parent, name, tag, t0, t1)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  val Prop = "perfbench.span"

  def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)
      .getOrElse(0L)
}

/** Per-stage scheduler totals, keyed by (stage id, attempt). */
final class StageAgg(val span: Long) {
  var submittedMs = 0L
  var completedMs = 0L
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
}

/** The benchmark's own SparkListener and QueryExecutionListener. Both
  * are called on Spark's listener-bus threads; the collections are only
  * read after `SparkContext.stop()` has drained the bus. */
final class Counters extends SparkListener with QueryExecutionListener {
  /** job id -> (span id, submission epoch ms, end epoch ms) */
  val jobs = mutable.LinkedHashMap[Int, (Long, Long, Long)]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageAgg]()
  /** (optimization start epoch ms, optimization ms, planning ms) per
    * successful action, from Catalyst's own phase tracker. */
  val phases = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val stageSpan = mutable.Map[Int, Long]()

  private def agg(stage: Int, attempt: Int): StageAgg = synchronized {
    stages.getOrElseUpdate((stage, attempt),
      new StageAgg(stageSpan.getOrElse(stage, 0L)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Tracer.spanOf(e.properties)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    jobs(e.jobId) = (span, e.time, 0L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, t0, _) => jobs(e.jobId) = (s, t0, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      val span = Tracer.spanOf(e.properties)
      if (span != 0L) stageSpan(i.stageId) = span
      agg(i.stageId, i.attemptNumber()).submittedMs =
        i.submissionTime.getOrElse(0L)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val a = agg(i.stageId, i.attemptNumber())
      a.submittedMs = i.submissionTime.getOrElse(a.submittedMs)
      a.completedMs = i.completionTime.getOrElse(0L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(e.stageId, e.stageAttemptId)
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.failedTasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    ph.get("optimization").foreach { o =>
      phases += ((o.startTimeMs, o.durationMs,
        ph.get("planning").map(_.durationMs).getOrElse(0L)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
