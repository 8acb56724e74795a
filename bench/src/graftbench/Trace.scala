package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Epoch milliseconds with sub-millisecond resolution, comparable with the epoch-ms times
  * Spark's listener events and streaming progress reports carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans around the benchmark's calls into graft (name, start, end, parent, run id), kept
  * in memory and written out with the run's observations. While a span is open its id is
  * the Spark local property [[Tracer.Prop]], so every job Spark starts inside it carries
  * the id and [[StageRecorder]] can attribute its stages. `enabled` marks the traced run;
  * spans are recorded only while `active`, so a traced run can still interleave untraced
  * passes, and the untraced run, which measures the end-to-end metrics, records none. */
final class Tracer(val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var open = List.empty[String]
  var active = false

  def span[A](sc: SparkContext, name: String)(body: => A): A =
    if (!active) body
    else {
      val id = s"$runId.${spans.size}"
      val parent = open.headOption.orNull
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      open = id :: open
      sc.setLocalProperty(Tracer.Prop, id)
      val idx = spans.size
      spans += Map.empty
      val start = Clock.ms()
      try body
      finally {
        spans(idx) = Map("id" -> id, "name" -> name, "parent" -> parent, "run" -> runId,
          "start_ms" -> start, "end_ms" -> Clock.ms())
        open = open.tail
        sc.setLocalProperty(Tracer.Prop, prevProp)
      }
    }

  /** Id the next span will get: lets a caller name the span it is about to open. */
  def nextId: String = s"$runId.${spans.size}"

  def all: Seq[Map[String, Any]] = spans.toSeq
}

object Tracer {
  val Prop = "graftbench.span"
}

/** Per-stage task metrics from Spark's public listener API, tagged with the span that
  * started the stage's job. Registered only for traced work. */
final class StageRecorder extends SparkListener {
  private final class Acc(val id: Int, val span: String) {
    val sums = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
    var name = ""
    var submitMs = 0L
    var completeMs = 0L
    var accumulables = Map.empty[String, Long]
  }

  private val stageSpan = mutable.Map.empty[Int, String]
  private val stages = mutable.LinkedHashMap.empty[Int, Acc]
  private var jobsStarted = 0
  private var jobsEnded = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def acc(stageId: Int): Acc = synchronized {
    stages.getOrElseUpdate(stageId, new Acc(stageId, stageSpan.getOrElse(stageId, null)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(Tracer.Prop)).orNull
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    jobsStarted += 1
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(e.stageId)
      val s = a.sums
      s("run_ms") += m.executorRunTime
      s("cpu_ns") += m.executorCpuTime
      s("input_records") += m.inputMetrics.recordsRead
      s("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      s("shuffle_write_records") += m.shuffleWriteMetrics.recordsWritten
      s("shuffle_write_ns") += m.shuffleWriteMetrics.writeTime
      s("shuffle_read_records") += m.shuffleReadMetrics.recordsRead
      s("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      s("spill_disk_bytes") += m.diskBytesSpilled
      a.taskRunMs += m.executorRunTime
    }
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = acc(info.stageId)
    a.name = info.name
    a.submitMs = info.submissionTime.getOrElse(0L)
    a.completeMs = info.completionTime.getOrElse(0L)
    // SQL metrics (e.g. SortExec's "sort time", in ns) reach the stage as named
    // accumulables; Spark's own task metrics are already summed above.
    a.accumulables = info.accumulables.values.toSeq.flatMap { ai =>
      (ai.name, ai.value) match {
        case (Some(n), Some(v: Long)) if !n.startsWith("internal.") => Some(n -> v)
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)
    lastEventNs = System.nanoTime()
  }

  /** Waits until every job seen has ended and the bus has been quiet for a moment, so
    * the stage records of work that just returned are complete. */
  def quiesce(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized(jobsEnded == jobsStarted) &&
      System.nanoTime() - lastEventNs > 150L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def records: Seq[Map[String, Any]] = synchronized {
    stages.values.toSeq.map { a =>
      Map("stage" -> a.id, "span" -> a.span, "name" -> a.name, "submit_ms" -> a.submitMs,
        "complete_ms" -> a.completeMs, "task_run_ms" -> a.taskRunMs.toSeq,
        "accumulables" -> a.accumulables) ++ a.sums
    }
  }
}
