package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

import scala.jdk.CollectionConverters._

/** What the Spark jobs of one traced block did: stages per job (in job
  * start order), stages submitted (skipped stages are not), and the
  * shuffle bytes their tasks wrote and read.
  */
final case class JobTrace(stagesPerJob: Seq[Int], stagesSubmitted: Int,
    shuffleWriteBytes: Long, shuffleReadBytes: Long) {
  def jobs: Int = stagesPerJob.size
}

/** The job-attribution listener: runs a block and reports its jobs.
  *
  * A job belongs to the block when it carries the local property
  * [[Key]] with this trace's id. The property is set on the calling thread
  * for the block and then restored; threads the block starts inherit it,
  * and job groups and descriptions leave it alone, so the block may set
  * its own. Task-end events count through the stage ids of the traced
  * jobs. Once the block returns, a fence job tagged with the same key is
  * run: the listener bus delivers events in order, so by the time the
  * fence job's start arrives, every event of the block has been seen.
  */
object JobTrace {
  private[graft] val Key = "graft.jobTrace"
  private val ids = new AtomicLong

  def run[A](sc: SparkContext)(body: => A): (A, JobTrace) = {
    val id = s"trace-${ids.incrementAndGet()}"
    val fenceId = s"$id-fence"
    val fenced = new CountDownLatch(1)
    val stagesPerJob = new ConcurrentLinkedQueue[Int]
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val submitted = new AtomicInteger
    val written = new AtomicLong
    val read = new AtomicLong
    def tag(p: java.util.Properties): String = if (p == null) null else p.getProperty(Key)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = tag(s.properties) match {
        case `id` =>
          stagesPerJob.add(s.stageInfos.size)
          s.stageIds.foreach(stageIds.add)
        case `fenceId` => fenced.countDown()
        case _ =>
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (tag(s.properties) == id) submitted.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stageIds.contains(e.stageId)) {
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
    }
    val saved = sc.getLocalProperty(Key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, id)
      val result = try body finally sc.setLocalProperty(Key, fenceId)
      sc.parallelize(Seq(1), 1).count()
      if (!fenced.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("JobTrace: listener bus stalled")
      (result, JobTrace(stagesPerJob.asScala.toSeq, submitted.get, written.get, read.get))
    } finally {
      sc.setLocalProperty(Key, saved)
      sc.removeSparkListener(listener)
    }
  }
}
