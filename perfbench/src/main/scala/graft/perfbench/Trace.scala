package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Spans around the benchmark's calls into graft's public functions, plus
  * the Spark jobs, stages and tasks that ran while each span was open.
  *
  * A span is opened by [[Tracer.span]]: it sets the Spark local property
  * `perfbench.span` (and the job description) on the calling thread, so
  * every job submitted inside it carries the span id; the listener files
  * each job under that id. Jobs carry the id in their own properties, so
  * the asynchronous delivery of listener events cannot file a job under
  * the wrong span. Everything is kept in memory and written out once, when
  * the run ends, after the session has stopped (stopping drains the
  * listener bus, so every job and task event has arrived). Self time, idle
  * time and skew are derived from this raw record by the benchmark's
  * Python side.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, (String, Long)]
  private var stack: List[Span] = Nil
  private var nextId = 0
  // epoch milliseconds as a double with sub-millisecond resolution, on the
  // same clock the listener's task and job timestamps use
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse("")
      jobStart(e.jobId) = (span, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) =>
        if (span.nonEmpty) jobs += Job(e.jobId, span, t0, e.time)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val job = stageJob.getOrElse(e.stageId, -1)
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks += Task(job, e.stageId, info.launchTime, info.finishTime,
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        !info.successful)
    }
  }
  sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name` of traced run `run`. */
  def span[A](name: String, run: Int)(body: => A): A = {
    val s = synchronized {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(-1), run, name,
        nowMs)
      nextId += 1; spans += s; stack = s :: stack; s
    }
    sc.setLocalProperty(SpanKey, s.id.toString)
    sc.setJobDescription(name)
    try body
    finally {
      synchronized {
        s.endMs = nowMs
        stack = stack.tail
      }
      val parent = stack.headOption
      sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      sc.setJobDescription(parent.map(_.name).orNull)
    }
  }

  /** Attaches a named measure (a row count, bytes written…) to the most
    * recently closed span called `name`.
    */
  def note(name: String, key: String, value: Double): Unit = synchronized {
    spans.reverseIterator.find(_.name == name).foreach(_.notes(key) = value)
  }

  /** The raw record: spans with their notes, jobs as [id, span, start,
    * end] and tasks as [job, stage, launch, finish, shuffle_write_bytes,
    * shuffle_records, spill_bytes, failed].
    */
  def toMap: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "run" -> s.run, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "notes" -> s.notes.toMap)),
      "jobs" -> jobs.toSeq.map(j => Seq(j.id, j.span.toInt, j.startMs, j.endMs)),
      "tasks" -> tasks.toSeq.map(t => Seq(t.job, t.stage, t.launchMs, t.finishMs,
        t.shuffleBytes, t.shuffleRecords, t.spillBytes, if (t.failed) 1 else 0)))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, run: Int, name: String,
      startMs: Double) {
    var endMs: Double = Double.NaN
    val notes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  }
  final case class Job(id: Int, span: String, startMs: Long, endMs: Long)
  final case class Task(job: Int, stage: Int, launchMs: Long, finishMs: Long,
      shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long,
      failed: Boolean)
}
