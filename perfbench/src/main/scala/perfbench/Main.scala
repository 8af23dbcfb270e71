package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Benchmark entry point, started by `run.py`:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *     --workdir DIR --outdir DIR --expected FILE [--corrupt 1] [--record DIR]
  *
  * Prints a human summary on stderr and, as the last stdout line, one JSON
  * object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`).
  */
object Main {
  /** Warm-up ends once the passes' user-mode CPU seconds (`threadUser`,
    * the measured figure) have levelled off: the mean of the last `window`
    * passes is no more than 10% below the mean of the `window` passes
    * before them (means, so that no single pass decides), after at least
    * `minWarmupSeconds` of passes. It stops at `maxWarmupSeconds` whether
    * or not they levelled off, and the run reports that.
    */
  val window = 2
  val plateau = 0.90
  val minWarmupSeconds = 10.0
  val maxWarmupSeconds = 20.0

  def levelledOff(passes: Seq[PassStats]): Boolean =
    passes.size >= 2 * window && passes.map(_.wall).sum >= minWarmupSeconds && {
      val cpu = passes.map(_.threadUser)
      val last = cpu.takeRight(window).sum
      val before = cpu.takeRight(2 * window).take(window).sum
      last >= plateau * before
    }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val wl = Workload(args.workload)
    val b = new Bench(args, wl)
    if (args.record.isDefined) { Recorder.run(b); return }

    val cg0 = b.codegen
    // the JVM-cold set-up and the cold first pass (class loading, first
    // codegen, file listing)
    val cold = b.setUp() + b.pass(tracedPass = false).wall
    val warm = ArrayBuffer[PassStats]()
    val w0 = System.nanoTime()
    while (!levelledOff(warm.toSeq) && (System.nanoTime() - w0) / 1e9 < maxWarmupSeconds)
      warm += b.pass(tracedPass = false)
    val settled = levelledOff(warm.toSeq)
    if (!settled) Main.log(s"warm-up reached its cap of $maxWarmupSeconds s before the pass CPU times levelled off")
    val cg1 = b.codegen
    Main.log("set-up and warm-up done")

    val minPasses = if (args.trace) 4 else 3
    val timedPasses = ArrayBuffer[PassStats]()
    val t0 = System.nanoTime()
    val cpu0 = HostCpu.sample()
    while (timedPasses.size < minPasses || (System.nanoTime() - t0) / 1e9 < args.seconds)
      timedPasses += b.pass(tracedPass = args.trace && timedPasses.size % 2 == 0)
    val steal = HostCpu.stealShare(cpu0, HostCpu.sample())

    val untraced = timedPasses.filterNot(_.traced).toSeq
    val report = new Report(b, cold, warm.toSeq, settled, timedPasses.toSeq,
      cg1._1 - cg0._1, cg1._2 - cg0._2, steal)
    report.summary(untraced)
    val metrics = if (args.trace) report.perLayer() else report.endToEnd(untraced)
    if (args.trace) report.writeTrace()
    b.stopSpark()
    println(Json.result(b.failed == 0, b.attempted, b.failed, metrics))
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $msg")
}

/** Turns the passes of one run into metrics. */
final class Report(b: Bench, cold: Double, warm: Seq[PassStats],
    settled: Boolean, timed: Seq[PassStats], compiles: Long, compileSeconds: Double,
    steal: Double) {
  import Stats._

  private def jobLatencies(passes: Seq[PassStats], op: String): Seq[Double] = {
    val ids = passes.map(_.no).toSet
    b.tracer.jobList.filter(j => ids(j.pass) && j.op == op).map(_.seconds)
  }

  /** Operation latencies by operation. The solver's operations are its
    * supersteps: each is one Spark job issued inside `BlockSolver.solve`.
    * Elsewhere an operation is one query call plus its action.
    */
  private def opLatencies(passes: Seq[PassStats]): Map[String, Seq[Double]] =
    if (b.wl == Solver) Map("superstep" -> jobLatencies(passes, "solve"))
    else passes.flatMap(_.ops).groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds) }

  /** Each operation's median latency over the passes, then the median over
    * operations (their costs differ, so a pooled median would jump between
    * them from run to run).
    */
  private def typicalLatency(passes: Seq[PassStats]): Double =
    median(opLatencies(passes).values.map(median).toSeq)

  /** `cpu_s` is the median over the run's passes: a single pass can be
    * disturbed either way, and the median is the steadiest figure across
    * runs. Wall times and kernel CPU time are per-layer figures: on a
    * shared virtual machine the first follow the CPU time the hypervisor
    * gives to other guests, the second the shared disk.
    */
  def endToEnd(passes: Seq[PassStats]): Seq[(String, Double, String)] = Seq(
    ("setup_s", cold, "s"),
    ("cpu_s", median(passes.map(_.threadUser)), "s"))

  def perLayer(): Seq[(String, Double, String)] = {
    val tp = timed.filter(_.traced)
    val n = tp.size.toDouble
    val ids = tp.map(_.no).toSet
    val spans = b.tracer.spanList.filter(s => ids(s.pass))
    val tasks = b.tracer.taskList.filter(t => ids(t.pass) && t.op != "check")
    val jobs = b.tracer.jobList.filter(j => ids(j.pass) && j.op != "check")
    val mb = 1024.0 * 1024.0
    def spanSecs(names: String*) = spans.filter(s => names.contains(s.name)).map(_.seconds).sum / n
    val childSecs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    val harnessSelf = spans.filter(_.name == "pass")
      .map(s => s.seconds - childSecs.getOrElse(s.id, 0.0)).sum / n
    val idle = tp.map { p =>
      val busy = union(tasks.filter(_.pass == p.no).map(t => (t.launchMs, t.finishMs))) / 1e3
      math.max(0.0, p.wall - busy)
    }.sum / n
    val solve = tasks.filter(_.op == "solve")
    val untracedPass = median(timed.filterNot(_.traced).map(_.wall))
    val tracedPass = median(tp.map(_.wall))
    val heapAfterGc = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / mb
    val untraced = timed.filterNot(_.traced)
    Seq(
      ("pass_s", untracedPass, "s"),
      ("query_s.p50", typicalLatency(untraced), "s"),
      ("query.build_s", spanSecs("build", "solve"), "s"),
      ("query.plan_s", spanSecs("plan"), "s"),
      ("query.exec_s", spanSecs("exec", "write"), "s"),
      ("self.harness_s", harnessSelf, "s"),
      ("query_s.p90", quantile(opLatencies(tp).values.flatten.toSeq, 0.9), "s"),
      ("cpu.sys_s", median(untraced.map(p => p.threadCpu - p.threadUser)), "s"),
      ("cpu.process_s", median(untraced.map(_.cpu)), "s"),
      ("cpu.jit_s", median(untraced.map(_.jitSeconds)), "s"),
      ("job_s.p50", quantile(jobs.map(_.seconds), 0.5), "s"),
      ("job_s.p99", quantile(jobs.map(_.seconds), 0.99), "s"),
      ("sched.jobs", jobs.size / n, "count"),
      ("sched.stages", tasks.map(_.stage).distinct.size / n, "count"),
      ("sched.tasks", tasks.size / n, "count"),
      ("sched.delay_s", tasks.map(_.schedDelayMs).sum / 1e3 / n, "s"),
      ("sched.idle_s", idle, "s"),
      ("exec.run_s", tasks.map(_.runMs).sum / 1e3 / n, "s"),
      ("exec.cpu_s", tasks.map(_.cpuNs).sum / 1e9 / n, "s"),
      ("exec.peak_mem_mb", (0L +: tasks.map(_.peakMemBytes)).max / mb, "MB"),
      ("tables.scan_mb", tasks.map(_.inputBytes).sum / mb / n, "MB"),
      ("tables.scan_records", tasks.map(_.inputRecords).sum / n, "count"),
      ("shuffle.write_mb", tasks.map(_.shuffleWriteBytes).sum / mb / n, "MB"),
      ("shuffle.read_mb", tasks.map(_.shuffleReadBytes).sum / mb / n, "MB"),
      ("shuffle.spill_mb", tasks.map(_.spillBytes).sum / mb / n, "MB"),
      ("plan.nodes", tp.map(_.planNodes).sum / n, "count"),
      ("plan.exchanges", tp.map(_.planExchanges).sum / n, "count"),
      ("codegen.compiles", compiles.toDouble, "count"),
      ("codegen.compile_s", compileSeconds, "s"),
      ("laplace.iterations", b.laplaceIterations.toDouble, "count"),
      ("laplace.jobs", jobs.count(_.op == "solve") / n, "count"),
      ("laplace.ghost_mb", solve.map(_.shuffleWriteBytes).sum / mb / n, "MB"),
      ("sources.files_written", tp.map(_.filesWritten).sum / n, "count"),
      ("sources.bytes_written_mb", tp.map(_.bytesWritten).sum / mb / n, "MB"),
      ("jvm.gc_s", tp.map(_.gcSeconds).sum / n, "s"),
      ("jvm.heap_after_gc_mb", heapAfterGc, "MB"),
      ("warmup.passes", warm.size.toDouble, "count"),
      ("warmup.levelled", if (settled) 1.0 else 0.0, "count"),
      ("trace.pass_s", tracedPass, "s"),
      ("trace.overhead", tracedPass / untracedPass, "ratio"),
      ("trace.spans", spans.size / n, "count"),
      ("host.steal_share", steal, "ratio"))
  }

  /** Wall, CPU (`cpu_s`), kernel, process CPU and JIT seconds of each pass. */
  private def series(passes: Seq[PassStats]): String = {
    def col(f: PassStats => Double) = passes.map(p => f"${f(p)}%.3f").mkString(" ")
    s"wall ${col(_.wall)} s, cpu ${col(_.threadUser)} s, sys ${col(p => p.threadCpu - p.threadUser)} s," +
      s" process cpu ${col(_.cpu)} s, jit ${col(_.jitSeconds)} s"
  }

  /** Per-operation medians and the pass series, on stderr. */
  def summary(untraced: Seq[PassStats]): Unit = {
    val err = System.err
    val all = warm ++ timed
    err.println(f"[perfbench] ${b.wl.name}: cold $cold%.3f s;" +
      f" warm-up ${series(warm)};" +
      f" timed ${series(timed)}")
    untraced.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (op, ss) =>
      err.println(f"[perfbench]   $op%-24s median ${median(ss.map(_.seconds))}%.4f s over ${ss.size}")
    }
    err.println(f"[perfbench] host CPU stolen by the hypervisor during timed passes: ${steal * 100}%.1f%%")
    err.println(f"[perfbench] error_rate ${b.failed.toDouble / math.max(1, b.attempted)}%.4f" +
      s" (${b.failed} failed of ${b.attempted} checked operations, ${all.size} passes)")
  }

  /** Spans and job records of the traced passes, written once at exit. */
  def writeTrace(): Unit = {
    val dir = new File(b.args.outDir)
    dir.mkdirs()
    val f = new File(dir, s"trace-${b.wl.name}-seed${b.args.seed}.json")
    val ids = timed.filter(_.traced).map(_.no).toSet
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("{\"spans\": [")
      w.println(b.tracer.spanList.filter(s => ids(s.pass)).map { s =>
        s"""  {"pass": ${s.pass}, "id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)},""" +
          s""" "layer": ${Json.str(s.layer)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
      }.mkString(",\n"))
      w.println("], \"jobs\": [")
      w.println(b.tracer.jobList.filter(j => ids(j.pass)).map { j =>
        s"""  {"pass": ${j.pass}, "span": ${j.span}, "op": ${Json.str(j.op)}, "start_ms": ${j.startMs},""" +
          s""" "end_ms": ${j.endMs}, "stages": ${j.stages}}"""
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
    System.err.println(s"[perfbench] trace written to $f")
  }
}

/** The machine-wide CPU counters of /proc/stat (zeros where it does not
  * exist): a run on a shared virtual machine loses the "steal" share to
  * other guests, which inflates every wall time of that run.
  */
object HostCpu {
  def sample(): Array[Long] = {
    val f = new File("/proc/stat")
    if (!f.exists()) Array.fill(8)(0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    }
  }

  /** Steal jiffies over all jiffies between two samples. */
  def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val d = a.zip(b).map { case (x, y) => y - x }
    if (d.sum <= 0) 0.0 else d(7).toDouble / d.sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"
}

/** Record mode (`record.py`): runs each operation once in canonical order
  * and writes, per operation, the delivered rows as one parquet file plus
  * its DuckDB oracle SQL (the layout `tools/compare.py` reads) and the
  * candidate `expected.tsv` line.
  */
object Recorder {
  private val lines = ArrayBuffer[String]()
  private val oracles = ArrayBuffer[(String, String)]()

  def record(b: Bench, dir: String, op: String, rows: Seq[Row]): Unit = {
    val sorted = op == Curation.shardOp
    val df = b.spark.createDataFrame(
      (if (sorted) rows.sortBy(_.getAs[Long]("doc_id")) else rows).asJava,
      rows.headOption.map(_.schema).getOrElse(sys.error(s"$op returned no rows")))
    df.coalesce(1).write.mode("overwrite").parquet(new File(dir, s"results/$op").getPath)
    val sql = if (sorted) shardOracle else SparkEntry.oracleSql.getOrElse(op, "")
    oracles += op -> sql
    lines += Seq(b.wl.name, op, if (sorted) "sorted" else "ordered", rows.size,
      ResultHash.of(rows, sorted)).mkString("\t")
  }

  /** The shard round trip re-read: the p05 assignment joined to the corpus. */
  private def shardOracle: String =
    s"""SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, p.shard
       |FROM (${SparkEntry.oracleSql("p05_shuffle_shard")}) p
       |JOIN documents d ON p.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin

  def run(b: Bench): Unit = {
    val dir = b.args.record.get
    if (b.spark == null) b.spark = b.newSpark()
    b.tracer = new Tracer(b.spark.sparkContext)
    b.pass(tracedPass = false)
    val w = new PrintWriter(new File(dir, "results/oracle_sql.json"), "UTF-8")
    try w.println(oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",\n", "}"))
    finally w.close()
    val h = new PrintWriter(new File(dir, "expected.tsv"), "UTF-8")
    try lines.foreach(h.println) finally h.close()
    b.stopSpark()
    System.err.println(s"[perfbench] recorded ${lines.size} operations in $dir")
  }
}
