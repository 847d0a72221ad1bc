package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** JSON for the harness's protocol lines and trace file. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
  def obj(fields: (String, Any)*): String = apply(mutable.LinkedHashMap(fields: _*))
}

/** One timed call at a layer boundary. `parent` is the enclosing span's
  * id (-1 for an operation); `attrs` holds counts read at the boundary.
  */
final case class Span(id: Int, parent: Int, pass: Int, op: String,
    layer: String, startNs: Long, endNs: Long, attrs: Map[String, Any])

/** In-memory span recorder plus the SparkListener that attributes jobs,
  * stages and tasks to spans. Jobs carry the enclosing span's id through
  * the `perfbench.span` local property, which Spark copies onto every job
  * a thread submits (including broadcast and subquery jobs).
  *
  * While `active` is false no job is recorded, and stages and tasks are
  * kept only for recorded jobs, so an untraced run pays only the bus
  * delivery Spark does anyway. The harness drains the bus before it
  * flips `active`, so no event lands on the wrong side of a flip. The
  * tracer times its own code, on the pass thread and on the bus, as
  * the tracing overhead.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var active = false
  val SpanKey = "perfbench.span"
  private val nextId = new AtomicInteger(0)
  private val ownNs = new AtomicLong(0)

  /** Time spent in the tracer's own code so far, on any thread. */
  def overheadNs: Long = ownNs.get

  private def own[T](f: => T): T = {
    val t = System.nanoTime()
    try f finally ownNs.addAndGet(System.nanoTime() - t)
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  /** Time `body` as a span of `layer`; traced or not, `body` runs the
    * same way. Extra counts for the span come from `attrs`.
    */
  def span[T](pass: Int, op: String, layer: String)(body: => T)
      (attrs: T => Map[String, Any] = (_: T) => Map.empty[String, Any]): T = {
    if (!active) return body
    val e0 = System.nanoTime()
    val id = nextId.getAndIncrement()
    val parent = stack.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(SpanKey)
    stack = id :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    ownNs.addAndGet(t0 - e0)
    var out: Option[T] = None
    try { out = Some(body); out.get }
    finally {
      val t1 = System.nanoTime()
      val extra = out.map(attrs).getOrElse(Map.empty)
      spans.synchronized {
        spans += Span(id, parent, pass, op, layer, t0, t1,
          extra + ("gc_ms" -> (gcMs() - gc0)) + ("ok" -> out.isDefined))
      }
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prevProp)
      ownNs.addAndGet(System.nanoTime() - t1)
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private case class JobRec(id: Int, span: Int, stageIds: Seq[Int],
      start: Long, var end: Long = -1, var ok: Boolean = false)
  private case class StageRec(id: Int, attempt: Int, job: Int, name: String,
      numTasks: Int, rdds: Seq[Seq[Any]], submitted: Long,
      completed: Long, failed: Boolean, inputBytes: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, outputBytes: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val taskMs =
    new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) own {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.stageIds, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j => own {
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }}

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId) && e.taskInfo != null) own {
      val buf = taskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => mutable.ArrayBuffer.empty[Long])
      buf.synchronized { buf += e.taskInfo.duration }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = stageJob.getOrDefault(i.stageId, -1)
    if (job >= 0) own {
      val m = Option(i.taskMetrics)
      stages.add(StageRec(i.stageId, i.attemptNumber(), job, i.name, i.numTasks,
        i.rddInfos.map(r => Seq(r.id, r.parentIds, r.storageLevel.isValid)),
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
        i.failureReason.isDefined,
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(t => t.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L),
        m.map(_.outputMetrics.bytesWritten).getOrElse(0L)))
    }
  }

  /** Everything recorded, as one JSON document. Call after draining the
    * listener bus so no event is still in flight.
    */
  def toJson(cores: Int): String = {
    val spanJs = spans.synchronized(spans.toList).map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "pass" -> s.pass, "op" -> s.op, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)
    }
    val jobJs = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      mutable.LinkedHashMap[String, Any]("id" -> j.id, "span" -> j.span,
        "stages" -> j.stageIds, "start_ms" -> j.start, "end_ms" -> j.end,
        "ok" -> j.ok)
    }
    val stageJs = stages.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map { s =>
      val tasks = Option(taskMs.get((s.id, s.attempt)))
        .map(b => b.synchronized(b.toList)).getOrElse(Nil)
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "attempt" -> s.attempt,
        "job" -> s.job, "name" -> s.name, "num_tasks" -> s.numTasks,
        "rdds" -> s.rdds,
        "submitted_ms" -> s.submitted, "completed_ms" -> s.completed,
        "failed" -> s.failed, "input_bytes" -> s.inputBytes,
        "shuffle_read_bytes" -> s.shuffleRead,
        "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
        "output_bytes" -> s.outputBytes, "task_ms" -> tasks)
    }
    Json.obj("cores" -> cores, "spans" -> spanJs, "jobs" -> jobJs,
      "stages" -> stageJs)
  }
}
