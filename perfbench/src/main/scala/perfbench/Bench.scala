package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.Tables

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cpus: Int, workDir: String, dataDir: String, outDir: String, expected: String,
    corrupt: Boolean, record: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt, need("workdir"), need("datadir"),
      need("outdir"), need("expected"), kv.get("corrupt").contains("1"), kv.get("record"))
  }
}

/** What one pass measured. The wall and CPU seconds cover the timed regions
  * only: the calls into the library and their actions, never the result
  * checks or the session and directory housekeeping around them. `cpu` is
  * the whole process; `threadCpu` (user and kernel) and `threadUser` (user
  * mode) count the Java threads alone (the caller, Spark's scheduler,
  * listener and task threads), without the JIT compiler and GC threads,
  * which are not Java threads.
  */
final case class PassStats(no: Int, traced: Boolean, wall: Double,
    cpu: Double, threadCpu: Double, threadUser: Double, ops: Seq[OpSample],
    gcSeconds: Double, jitSeconds: Double, planNodes: Long,
    planExchanges: Long, filesWritten: Long, bytesWritten: Long)

/** Runs one workload: set-up, warm-up to a plateau, then timed passes,
  * checking every operation's result outside the timed regions.
  */
final class Bench(val args: Args, val wl: Workload) {
  val workDir: String = args.workDir
  /** The input tables, one `<name>.parquet` file each. */
  val dataDir: String = args.dataDir
  val corrupt: Boolean = args.corrupt
  var spark: SparkSession = _
  var tracer: Tracer = _
  var passNo = 0
  var laplaceIterations = 0
  var attempted = 0
  var failed = 0
  private val expected: Map[String, Expected] =
    if (args.record.isDefined) Map.empty else Expected.load(args.expected, wl.name)

  // per-pass accumulators
  private var traced = false
  private var wall = 0.0
  private var cpu = 0.0
  private var threadCpu = 0.0
  private var threadUser = 0.0
  private val samples = ArrayBuffer[OpSample]()
  private var planNodes = 0L
  private var planExchanges = 0L
  private var filesWritten = 0L
  private var bytesWritten = 0L

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow(): Long = osBean.getProcessCpuTime
  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU ns (user and kernel) and user-mode ns of every live Java thread,
    * by thread id.
    */
  private def threadTimesNow(): Map[Long, (Long, Long)] = {
    val ids = threadBean.getAllThreadIds
    ids.lazyZip(threadBean.getThreadCpuTime(ids)).lazyZip(threadBean.getThreadUserTime(ids))
      .collect { case (id, c, u) if c >= 0 && u >= 0 => id -> (c, u) }.toMap
  }
  /** CPU and user-mode seconds the Java threads spent since `before`; a
    * thread born in between counts from zero, one that ended in between is
    * lost.
    */
  private def threadTimesSince(before: Map[Long, (Long, Long)]): (Double, Double) = {
    val d = threadTimesNow().toSeq.map { case (id, (c, u)) =>
      val (c0, u0) = before.getOrElse(id, (0L, 0L))
      (c - c0, u - u0)
    }
    (d.map(_._1).sum / 1e9, d.map(_._2).sum / 1e9)
  }
  private val jitBean = ManagementFactory.getCompilationMXBean
  /** Wall ms the JIT compiler threads have spent compiling, all threads. */
  private def jitMillis(): Long =
    if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
      jitBean.getTotalCompilationTime
    else 0L
  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Seconds of the last timed region, also when its body threw. */
  private var lastSecs = 0.0

  /** Runs `body` inside the timed region. */
  private def timed[A](body: => A): A = {
    val tt0 = threadTimesNow()
    val c0 = cpuNow()
    val t0 = System.nanoTime()
    try body
    finally {
      lastSecs = (System.nanoTime() - t0) / 1e9
      wall += lastSecs
      cpu += (cpuNow() - c0) / 1e9
      val (tc, tu) = threadTimesSince(tt0)
      threadCpu += tc
      threadUser += tu
    }
  }

  /** One operation that is a single call: timed as span `spanName` in
    * `layer`, then checked.
    */
  def call[A](name: String, spanName: String, layer: String)(action: => A)(
      check: A => Boolean): Option[A] = {
    lastSecs = 0.0
    val r = attempt(name) {
      tracer.span(name, "op", op = name)(timed(tracer.span(spanName, layer)(action)))
    }
    finish(name, r, check)
  }

  /** One operation that builds a DataFrame through a public entry point
    * (span `build`), plans it in traced passes (span `plan`) and runs
    * `action` on it (span `actName` in `layer`), then checks the result.
    */
  def query[A](name: String, actName: String, layer: String)(build: => DataFrame)(
      action: DataFrame => A)(check: A => Boolean): Option[A] = {
    lastSecs = 0.0
    val r = attempt(name) {
      tracer.span(name, "op", op = name) {
        timed {
          val df = tracer.span("build", "operators")(build)
          if (traced) tracer.span("plan", "plans")(df.queryExecution.executedPlan)
          (df, tracer.span(actName, layer)(action(df)))
        }
      }
    }
    r.foreach { case (df, _) => if (traced) countPlan(df.queryExecution.executedPlan) }
    finish(name, r.map(_._2), check)
  }

  private def attempt[A](name: String)(body: => A): Option[A] =
    try Some(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name FAILED: $e")
        None
    }

  /** Checks `r` outside the timed region; a failed call or a wrong result
    * counts in `failed`, its sample keeps the time it took.
    */
  private def finish[A](name: String, r: Option[A], check: A => Boolean): Option[A] = {
    samples += OpSample(name, lastSecs)
    attempted += 1
    val ok = r.exists { a =>
      tracer.span("check", "check", op = "check")(attempt(s"$name check")(check(a)).contains(true))
    }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $name: wrong or missing result (pass $passNo)")
    }
    r
  }

  /** Hash check against `expected.tsv`; in record mode, records instead. */
  def matches(op: String, delivered: Seq[Row]): Boolean = {
    val rows = if (corrupt) delivered.dropRight(1) else delivered
    args.record match {
      case Some(dir) => Recorder.record(this, dir, op, rows); true
      case None => expected.get(op).exists { e =>
        e.rows == rows.size && e.hash == ResultHash.of(rows, e.mode == "sorted")
      }
    }
  }

  def recordWritten(dir: File): Unit = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val data = walk(dir).filter(f => f.getName.startsWith("part-"))
    filesWritten += data.size
    bytesWritten += data.map(_.length).sum
  }

  private def countPlan(p: SparkPlan): Unit = {
    planNodes += PlanStats.nodes(p)
    planExchanges += PlanStats.exchanges(p)
  }

  def newSpark(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Bench.taskThreads(args.cpus)}]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.default.parallelism", args.cpus.toString)
      .config("spark.ui.enabled", "false")
      // the status store still records every job for the (disabled) UI; a
      // short history keeps its size, and its cost per job, level over a run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSpark(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
    tracer = null
  }

  /** One pass over every operation, in this pass's seed order. */
  def pass(tracedPass: Boolean): PassStats =
    pass(tracedPass, wl.runPass(this,
      wl.order(new scala.util.Random(args.seed * 1000003L + passNo + 1).shuffle(wl.ops))))

  private def pass(tracedPass: Boolean, body: => Unit): PassStats = {
    passNo += 1
    traced = tracedPass
    wall = 0.0; cpu = 0.0; threadCpu = 0.0; threadUser = 0.0; samples.clear()
    planNodes = 0; planExchanges = 0; filesWritten = 0; bytesWritten = 0
    tracer.beginPass(passNo, tracedPass)
    val gc0 = gcMillis()
    val jit0 = jitMillis()
    tracer.span("pass", "harness", op = "")(body)
    val gcS = (gcMillis() - gc0) / 1e3
    val jitS = (jitMillis() - jit0) / 1e3
    tracer.drain()
    tracer.beginPass(0, traced = false)
    // no carry-over: whatever the pass dropped (e.g. a curation session and
    // its memo) is collected before the next pass starts
    System.gc()
    PassStats(passNo, tracedPass, wall, cpu, threadCpu, threadUser, samples.toVector, gcS,
      jitS, planNodes, planExchanges, filesWritten, bytesWritten)
  }

  /** Session start plus table preparation (every table the workload reads
    * is opened through `graft.Tables` and counted: file listing, footers,
    * a full scan) plus the workload's first call in the new session.
    */
  def setUp(): Double = {
    val t0 = System.nanoTime()
    spark = newSpark()
    tracer = new Tracer(spark.sparkContext)
    wl.tables.foreach(t => Tables.table(spark, dataDir, t).count())
    val prep = (System.nanoTime() - t0) / 1e9
    prep + pass(tracedPass = false, wl.probe(this)).wall
  }

  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
  }
}

object Bench {
  /** Spark task threads: half the cores, so that the caller, Spark's
    * scheduler and the JIT and GC threads have cores of their own and a
    * pass does not wait on the operating system's scheduler. Shuffle
    * partitions and default parallelism stay at the core count.
    */
  def taskThreads(cpus: Int): Int = math.max(1, cpus / 2)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Node and exchange counts of an executed plan, descending into adaptive
  * query stages and subqueries.
  */
object PlanStats extends AdaptiveSparkPlanHelper {
  private def wrapper(p: SparkPlan) =
    p.isInstanceOf[AdaptiveSparkPlanExec] || p.isInstanceOf[QueryStageExec]
  def nodes(p: SparkPlan): Long = collectWithSubqueries(p) { case n if !wrapper(n) => 1L }.sum
  def exchanges(p: SparkPlan): Long = collectWithSubqueries(p) { case _: Exchange => 1L }.sum
}
