package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: the pass it belongs to, `name` (e.g.
  * `exec`), the `layer` it enters, the span that caused it and its wall
  * interval.
  */
final case class Span(pass: Int, id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listener keeps per task: the span its job was tagged with and
  * the task's own metrics. Times in ms as Spark reports them, except CPU.
  */
final case class TaskRec(pass: Int, span: Long, op: String, stage: Int, launchMs: Long,
    finishMs: Long, runMs: Long, cpuNs: Long, schedDelayMs: Long, inputBytes: Long,
    inputRecords: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    peakMemBytes: Long)

/** A job as the listener saw it: wall-clock bounds in ms as Spark posts
  * them, and the latency from the listener's receipt of its start to the
  * receipt of its end in ns (Spark's own job times are whole ms).
  */
final case class JobRec(pass: Int, span: Long, op: String, startMs: Long, endMs: Long,
    stages: Int, latencyNs: Long) {
  def seconds: Double = latencyNs / 1e9
}

/** Where a job came from: the pass, span and operation that submitted it. */
final case class Origin(pass: Int, span: Long, op: String)

/** In-memory tracer. Spans are recorded by the harness around each call
  * into the library; the calling thread's pass number, span id and
  * operation travel to Spark as the local properties `perfbench.pass`,
  * `perfbench.span` and `perfbench.op`, so the listener attributes every
  * job, stage and task to the call that caused it.
  *
  * The listener always records job start/end (the solver's superstep
  * latency is a job latency); stage and task records are kept only while
  * `detailed` is on, i.e. in traced passes.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var detailed = false
  @volatile var spansOn = false
  private var pass = 0
  private val nextId = new AtomicLong(1)
  private val spanStack = mutable.Stack[Long](0L)
  private val opStack = mutable.Stack[String]("")
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Origin, Long, Int, Long)]()
  private val stageOrigin = new java.util.concurrent.ConcurrentHashMap[Int, Origin]()
  private val noOrigin = Origin(0, 0L, "")

  sc.addSparkListener(this)

  /** Starts pass `no`: later spans and jobs are attributed to it. */
  def beginPass(no: Int, traced: Boolean): Unit = {
    pass = no
    detailed = traced
    spansOn = traced
    sc.setLocalProperty("perfbench.pass", no.toString)
  }

  /** Times `body` as a child span of the current one. Spark jobs it starts
    * on this thread carry the span id and the operation label `op`.
    */
  def span[A](name: String, layer: String, op: String = null)(body: => A): A = {
    val id = nextId.getAndIncrement()
    val parent = spanStack.top
    val label = if (op == null) opStack.top else op
    spanStack.push(id); opStack.push(label)
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setLocalProperty("perfbench.op", label)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spanStack.pop(); opStack.pop()
      sc.setLocalProperty("perfbench.span", spanStack.top.toString)
      sc.setLocalProperty("perfbench.op", opStack.top)
      if (spansOn) spans.add(Span(pass, id, parent, name, layer, t0, t1))
    }
  }

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def num(k: String) = prop(e.properties, k) match { case "" => 0L; case v => v.toLong }
    val o = Origin(num("perfbench.pass").toInt, num("perfbench.span"),
      prop(e.properties, "perfbench.op"))
    jobStart.put(e.jobId, (o, e.time, e.stageIds.size, System.nanoTime()))
    e.stageIds.foreach(s => stageOrigin.put(s, o))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (o, t0, stages, ns0) =>
      jobs.add(JobRec(o.pass, o.span, o.op, t0, e.time, stages, System.nanoTime() - ns0))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detailed) {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      val sr = m.shuffleReadMetrics
      val o = stageOrigin.getOrDefault(e.stageId, noOrigin)
      tasks.add(TaskRec(o.pass, o.span, o.op, e.stageId, info.launchTime,
        info.finishTime, m.executorRunTime, m.executorCpuTime, delay, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def spanList: Seq[Span] = spans.asScala.toSeq
  def jobList: Seq[JobRec] = jobs.asScala.toSeq
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
}
