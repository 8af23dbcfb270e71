package graft.laplace

import graft.operators.Iterate
import org.apache.spark.{NarrowDependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

import scala.collection.mutable.ArrayBuffer

/** Elementwise-max accumulator over a fixed-length vector: slot t holds
  * the global max |diff| of iteration t within a superstep — the
  * Spark-native analogue of the reference's per-rank partial max +
  * `MPI_Allreduce(MPI_MAX)` (`laplace-par.c:469-472,503-505`), batched
  * over k iterations. Task retries can re-add values, but max is
  * idempotent, so the result is still exact.
  */
final class MaxVecAccumulator(k: Int)
    extends AccumulatorV2[(Int, Double), Array[Double]] {
  private var m: Array[Double] = Array.fill(k)(Double.NegativeInfinity)
  override def isZero: Boolean = m.forall(_ == Double.NegativeInfinity)
  override def copy(): MaxVecAccumulator = {
    val a = new MaxVecAccumulator(k); System.arraycopy(m, 0, a.m, 0, k); a
  }
  override def reset(): Unit = java.util.Arrays.fill(m, Double.NegativeInfinity)
  override def add(v: (Int, Double)): Unit = if (v._2 > m(v._1)) m(v._1) = v._2
  override def merge(o: AccumulatorV2[(Int, Double), Array[Double]]): Unit =
    o match {
      case x: MaxVecAccumulator =>
        var i = 0
        while (i < k) { if (x.m(i) > m(i)) m(i) = x.m(i); i += 1 }
    }
  /** NegativeInfinity (no interior cells updated) reads as diff 0.0 —
    * the N=2 all-boundary case converges in 1 iteration with diff 0.
    */
  override def value: Array[Double] =
    m.map(x => if (x == Double.NegativeInfinity) 0.0 else x)
}

/** Contiguous 1-D block-row layout: block b owns rows [lo(b), hi(b)],
  * sizes differing by at most one — the reference's decomposition
  * (`laplace-par.c:245-251`) made explicit so halo routing is closed-form
  * arithmetic (no driver lookups).
  */
final case class BlockLayout(n: Int, blocks: Int) {
  private val base = n / blocks
  private val rem = n % blocks
  def lo(b: Int): Int = b * base + math.min(b, rem)
  def hi(b: Int): Int = lo(b + 1) - 1
  def blockOf(i: Int): Int =
    if (i < rem * (base + 1)) i / (base + 1)
    else rem + (i - rem * (base + 1)) / base
  /** Blocks whose row range intersects block b's ghost-extended range
    * [lo(b)-ghost, hi(b)+ghost] (b itself included): a contiguous id
    * range, spanning several thin blocks when block size < ghost.
    */
  def haloBlocks(b: Int, ghost: Int): Range =
    blockOf(math.max(0, lo(b) - ghost)) to blockOf(math.min(n - 1, hi(b) + ghost))
  /** Rows in block b's ghost-extended range [lo(b)-ghost, hi(b)+ghost],
    * clipped to the grid: the rows task b relaxes.
    */
  def extRows(b: Int, ghost: Long): Int =
    (math.min(n - 1L, hi(b) + ghost) - math.max(0L, lo(b) - ghost) + 1).toInt
  /** Rows relaxed per iteration over all tasks at ghost depth `ghost`. */
  def extRowsTotal(ghost: Long): Long = (0 until blocks).map(extRows(_, ghost).toLong).sum
}

/** A contiguous run of grid rows starting at row `lo`: a whole block of
  * the solver state, or one edge band of a block. The performance
  * representation from SURVEY.md §1.4 — mirrors the reference's 1-D
  * block-row partitioning (`laplace-par.c:245-251`) so the 5-point
  * stencil's east/west neighbors are intra-row array reads and only
  * north/south cross rows.
  */
private[laplace] final case class RowBand(lo: Int, rows: Array[Array[Double]]) {
  def hi: Int = lo + rows.length - 1
}

/** Block b's halo sources: the partitions of the edge RDD whose blocks
  * overlap b's ghost zone of depth `ghost` — the reference's neighbour
  * sends (`laplace-par.c:371-417`) as a closed-form narrow dependency.
  */
private final class HaloDependency(edges: RDD[RowBand], layout: BlockLayout, ghost: Int)
    extends NarrowDependency[RowBand](edges) {
  override def getParents(b: Int): Seq[Int] = layout.haloBlocks(b, ghost).filter(_ != b)
}

/** Block b of layout `to` reads the blocks of layout `from` that overlap
  * its rows: all of them when `to` has one block, one when `from` does.
  */
private final class ReblockDependency(state: RDD[RowBand], from: BlockLayout, to: BlockLayout)
    extends NarrowDependency[RowBand](state) {
  override def getParents(b: Int): Seq[Int] = from.blockOf(to.lo(b)) to from.blockOf(to.hi(b))
}

/** Partition b's inputs, resolved on the driver: the state partitions its
  * [[ReblockDependency]] names.
  */
private final class ReblockPartition(val index: Int, val parts: Array[Partition])
    extends Partition

/** `state`, one [[RowBand]] per block of `from`, re-cut into the blocks of
  * `to`: partition b reads the `from` blocks its [[ReblockDependency]]
  * names and emits their rows in b's range. Gathers the blocks into one, or
  * cuts one into blocks, in the stage that reads it: no shuffle and no job
  * of its own. Row arrays are shared, not copied.
  */
private final class ReblockRDD(private var state: RDD[RowBand], from: BlockLayout,
    to: BlockLayout)
    extends RDD[RowBand](state.context, Seq(new ReblockDependency(state, from, to))) {

  override protected def getPartitions: Array[Partition] = {
    val dep = dependencies.head.asInstanceOf[ReblockDependency]
    Array.tabulate(to.blocks)(b =>
      new ReblockPartition(b, dep.getParents(b).map(state.partitions).toArray))
  }

  override def compute(split: Partition, ctx: TaskContext): Iterator[RowBand] = {
    val b = split.index
    val rows = new Array[Array[Double]](to.hi(b) - to.lo(b) + 1)
    for (p <- split.asInstanceOf[ReblockPartition].parts; band <- state.iterator(p, ctx);
         i <- math.max(band.lo, to.lo(b)) to math.min(band.hi, to.hi(b)))
      rows(i - to.lo(b)) = band.rows(i - band.lo)
    Iterator.single(RowBand(to.lo(b), rows))
  }

  override protected def clearDependencies(): Unit = {
    super.clearDependencies()
    state = null
  }
}

/** Task b's inputs, resolved on the driver: block b of the state and the
  * edge partitions its [[HaloDependency]] names.
  */
private final class SuperstepPartition(val index: Int, val own: Partition,
    val halo: Array[Partition]) extends Partition

/** One superstep: partition b runs `kk` red-black iterations on block b
  * plus its ghost rows. Reads block b of `state` (one-to-one, listed first
  * so the scheduler places task b where block b is cached) and the edge
  * bands of its [[HaloDependency]] parents; both dependencies are narrow,
  * so a superstep is a single stage with no shuffle files.
  */
private final class SuperstepRDD(
    private var state: RDD[RowBand],
    private var edges: RDD[RowBand],
    layout: BlockLayout,
    kk: Int,
    omega: Double,
    private var acc: MaxVecAccumulator,
    private var kernelNs: LongAccumulator,
    private var cells: LongAccumulator)
    extends RDD[RowBand](state.context,
      Seq(new OneToOneDependency(state), new HaloDependency(edges, layout, 2 * kk))) {

  // `edges` maps `state` one-to-one, so the edge partitions are the
  // state's. Taken from the checkpointed state, not from `edges`, which
  // keeps the partitions it saw before the checkpoint: superstep partitions
  // naming the previous edge partitions, a chain back to the first
  // superstep that every task would carry (a StackOverflowError in task
  // serialization after about a thousand supersteps).
  override protected def getPartitions: Array[Partition] = {
    val halo = dependencies(1).asInstanceOf[HaloDependency]
    state.partitions.map(p =>
      new SuperstepPartition(p.index, p, halo.getParents(p.index).map(state.partitions).toArray))
  }

  override def compute(split: Partition, ctx: TaskContext): Iterator[RowBand] = {
    val part = split.asInstanceOf[SuperstepPartition]
    val n = layout.n
    val ghost = 2 * kk
    val own = state.iterator(part.own, ctx).next()
    val extLo = math.max(0, own.lo - ghost)
    val extHi = math.min(n - 1, own.hi + ghost)
    // private working copy: the cached inputs stay intact for a tail redo
    val work = new Array[Array[Double]](extHi - extLo + 1)
    var r = 0
    while (r < own.rows.length) { work(own.lo + r - extLo) = own.rows(r).clone(); r += 1 }
    for (p <- part.halo; band <- edges.iterator(p, ctx);
         i <- math.max(band.lo, extLo) to math.min(band.hi, extHi))
      work(i - extLo) = band.rows(i - band.lo).clone()
    val t0 = System.nanoTime()
    val localMax = relax(work, extLo, own.lo, own.hi)
    kernelNs.add(System.nanoTime() - t0)
    // relax updates every row of the extended range but its first and last
    cells.add(kk.toLong * math.max(0, extHi - extLo - 1) * (n - 2))
    var t = 0
    while (t < kk) {
      if (localMax(t) != Double.NegativeInfinity) acc.add((t, localMax(t)))
      t += 1
    }
    Iterator.single(RowBand(own.lo, work.slice(own.lo - extLo, own.hi - extLo + 1)))
  }

  /** `kk` red-black iterations in place over `work` (row r at index
    * r - extLo); returns the per-iteration max |diff| over the owned rows
    * [lo, hi] (NegativeInfinity where no owned cell moved).
    */
  private def relax(work: Array[Array[Double]], extLo: Int, lo: Int, hi: Int): Array[Double] = {
    val n = layout.n
    val oneMinusOmega = 1.0 - omega
    val extHi = extLo + work.length - 1
    val localMax = Array.fill(kk)(Double.NegativeInfinity)
    val rStart = math.max(extLo + 1, 1)
    val rEnd = math.min(extHi - 1, n - 2)
    var t = 0
    while (t < kk) {
      var color = 0
      while (color <= 1) {
        var r = rStart
        while (r <= rEnd) {
          val up = work(r - 1 - extLo)
          val cur = work(r - extLo)
          val down = work(r + 1 - extLo)
          val ownedRow = r >= lo && r <= hi
          var j = 1 + (if (r % 2 == color) 1 else 0)
          while (j < n - 1) {
            val tmp = (up(j) + down(j) + cur(j - 1) + cur(j + 1)) / 4.0
            val v2 = oneMinusOmega * cur(j) + omega * tmp
            if (ownedRow) {
              val diff = math.abs(cur(j) - v2)
              if (diff > localMax(t)) localMax(t) = diff
            }
            cur(j) = v2
            j += 2
          }
          r += 1
        }
        color += 1
      }
      t += 1
    }
    localMax
  }

  // once the local checkpoint truncates the lineage, drop the parents too,
  // so later task binaries do not carry the chain of earlier supersteps
  override protected def clearDependencies(): Unit = {
    super.clearDependencies()
    state = null
    edges = null
    acc = null
    kernelNs = null
    cells = null
  }
}

/** Block-row SOR solver with TEMPORAL BLOCKING: each superstep runs k
  * full red-black iterations per task using a 2k-row ghost zone on each
  * block edge.
  *
  * Why: the reference exchanges one halo per half-sweep
  * (`laplace-par.c:371-417`); a naive Spark port pays a full job launch
  * per half-sweep, so scheduling overhead dominates any realistic grid.
  * Classic ghost-zone (trapezoidal) blocking amortizes that. The state is
  * one [[RowBand]] record per block, block b in partition b, locally
  * checkpointed; beside it a persisted EDGE RDD holds, in partition d, the
  * first and last 2k' rows of block d (the whole block when it has at most
  * 4k' rows), k' being the deepest next superstep it must serve. Per
  * superstep,
  *
  *  1. task b reads block b through a one-to-one dependency on the state —
  *     listed first, so the scheduler prefers the executor caching block b —
  *     and the edge partitions of the blocks overlapping [lo(b)-2k,
  *     hi(b)+2k] through a narrow [[HaloDependency]] (closed-form in
  *     [[BlockLayout.haloBlocks]], several hops deep when blocks are thin).
  *     At most 2·2k rows per neighbour move executor-to-executor through
  *     the block manager, as the reference's point-to-point halo does; the
  *     driver never sees a cell value and nothing is shuffled;
  *  2. the task runs 2k half-sweeps in place, locally, and emits its new
  *     block; one action on the new edge RDD — taken after the new state
  *     is marked for local checkpoint — materialises both in ONE stage.
  *
  * Correctness of the redundant compute: each half-sweep invalidates one
  * more row at each ghost edge (its neighbor is missing), so after k
  * iterations the stale band is exactly the 2k ghost rows — every OWNED
  * row has seen only valid data and equals the sequential result
  * bit-for-bit (same per-cell arithmetic order as `laplace-seq.c:196`).
  * In-place updates are safe because a half-sweep writes only the active
  * color and reads only the opposite color (red-black independence), and
  * across half-sweeps in-place is precisely the reference's Gauss-Seidel
  * semantics (`laplace-seq.c:198`).
  *
  * Convergence stays per-iteration exact: each task records the max
  * |diff| of its OWNED rows for every iteration t of the superstep on a
  * [[MaxVecAccumulator]] (ghost updates are duplicates of the owner's —
  * and max is idempotent anyway). The driver finds the first t with
  * maxDiff <= epsilon; if it lands mid-superstep, the tail is re-run
  * from the previous materialized state for exactly t+1 iterations, so
  * the final grid/#iters/diff match the reference's stop-after-that-
  * iteration semantics exactly.
  *
  * Choosing k (`stepK = 0`, the default; `stepK > 0` fixes every k). Each
  * iteration of a superstep costs jobNs / k (one job floor shared by k
  * iterations) plus cellNs · N · Σ_b extRows(b, 2k) (every task relaxes
  * its whole ghost-extended range), so a deeper superstep trades job floors
  * for redundant ghost compute. The solve measures both terms on itself:
  * a `laplace.kernel_ns` accumulator times `relax`, and the driver times
  * each job, taking the job floor as its wall time beyond the kernel's
  * share; the floors are the minima over the supersteps so far. The first
  * superstep runs at k = 16 as the first measurement; [[chooseK]] picks
  * each later k, bounded by [[WorkBudgetBytes]] of per-task arrays.
  * Landing: the remaining iterations are predicted from the decay of
  * `history`, and a superstep never runs past that prediction, so the last
  * one usually ends on the converging iteration; when it does not, the
  * tail redo above keeps the bits exact. Edges are materialised before the
  * next k is known, so they are cut as deep as the model would go with no
  * landing bound, and the next k is capped at that depth.
  *
  * When every ghost-extended range of a superstep spans the grid (at N=64
  * with 4 blocks, from k = 24 on), every block's task would relax all N
  * rows, so the solve coarsens to one block instead: one task gathers the
  * blocks through a narrow all-to-one dependency ([[ReblockRDD]]) and
  * relaxes the grid once, and the solve stays on one block to the end. A
  * one-block superstep is the sequential loop, bit for bit, and runs
  * through the same superstep, chooser, landing and checkpoint code; with
  * one block the chooser's k is the predicted remainder. `Result.grid` is
  * cut back to the requested blocks from the last state, in the stage that
  * reads it. Before coarsening the chooser still prices a spanning k at
  * one whole grid per block. A `laplace.cells` accumulator counts the
  * interior cells relaxed, ghost copies included.
  *
  * At P executors on a 10^6-point dimension, a superstep is P tasks in
  * one stage, each reading its own cached block plus O(k·N) halo doubles
  * from at most a few neighbouring executors (the reference's MPI halo
  * volume, amortized over k iterations); job count drops 2k-fold vs
  * per-sweep exchange, and driver traffic per superstep is one
  * accumulator vector of k doubles per task, independent of N.
  */
object BlockSolver {

  /** Block b as one record in partition b. */
  private def initialState(sc: SparkContext, layout: BlockLayout): RDD[RowBand] = {
    val n = layout.n
    sc.parallelize(0 until layout.blocks, layout.blocks).mapPartitionsWithIndex { (b, _) =>
      Iterator.single(RowBand(layout.lo(b),
        Array.tabulate(layout.hi(b) - layout.lo(b) + 1, n)((r, j) =>
          Laplace.initialValue(layout.lo(b) + r, j, n))))
    }
  }

  /** The first and last `depth` rows of a block, or the whole block when
    * those overlap. Row arrays are shared with the state, never copied. A
    * named function rather than a lambda: `ClosureCleaner` returns at once
    * for it instead of parsing class files on every superstep.
    */
  private final class EdgeBands(depth: Int) extends (RowBand => Iterator[RowBand])
      with Serializable {
    def apply(block: RowBand): Iterator[RowBand] =
      if (block.rows.length <= 2 * depth) Iterator.single(block)
      else Iterator(RowBand(block.lo, block.rows.take(depth)),
        RowBand(block.hi - depth + 1, block.rows.takeRight(depth)))
  }

  /** Per-task byte budget of a superstep's arrays: the `work` rows
    * (extended rows × N × 8) plus the k-slot max vector. Bounds k where the
    * ghost zones are thin enough for it to matter; at N=64 the whole grid is
    * 32 KB and it never binds.
    */
  private[laplace] val WorkBudgetBytes: Long = 64L << 20

  /** k of the first superstep, whose run is the cost model's first
    * measurement.
    */
  private val FirstK = 16

  /** Spark's job description property (`SparkContext.setJobDescription`). */
  private val JobDescription = "spark.job.description"

  /** The largest k in [1, remaining] whose per-task arrays fit in
    * `budgetBytes`, or 1.
    */
  private def maxK(layout: BlockLayout, remaining: Int, budgetBytes: Long): Int = {
    def taskBytes(k: Int): Long =
      ((0 until layout.blocks).map(layout.extRows(_, 2L * k)).max.toLong * layout.n + k) * 8
    var lo = 1
    var hi = math.max(1, remaining)
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (taskBytes(mid) <= budgetBytes) lo = mid else hi = mid - 1
    }
    lo
  }

  /** The superstep depth k in [1, remaining] that minimises the cost per
    * iteration, jobNs / k + cellNs · N · Σ_b extRows(b, 2k): one job floor
    * shared by k iterations against every task relaxing its ghost-extended
    * block once per iteration. k is further bounded by `budgetBytes` of
    * per-task arrays (see [[WorkBudgetBytes]]), and is at least 1.
    */
  private[laplace] def chooseK(layout: BlockLayout, jobNs: Double, cellNs: Double,
      remaining: Int, budgetBytes: Long): Int = {
    val kMax = maxK(layout, remaining, budgetBytes)
    // from kSat on every extended range is the whole grid, so the cost only
    // falls with k: kMax is the best k at or beyond it
    val n = layout.n
    val kSat = math.max(1, (math.max(n - 1 - layout.hi(0), layout.lo(layout.blocks - 1)) + 1) / 2)
    def cost(k: Int): Double = jobNs / k + cellNs * n * layout.extRowsTotal(2L * k)
    ((1 to math.min(kMax, kSat)) :+ kMax).minBy(cost)
  }

  /** The layout a superstep of depth k runs on from a state in `layout`:
    * one block when every block's ghost-extended range spans the grid
    * (with one block it always does), else `layout`.
    */
  private def runLayout(layout: BlockLayout, k: Int): BlockLayout =
    if ((0 until layout.blocks).forall(layout.extRows(_, 2L * k) == layout.n))
      BlockLayout(layout.n, 1)
    else layout

  /** Iterations still needed to reach `eps`, extrapolating the decay rate
    * of the later half of `history` (SOR at its optimal omega decays at a
    * near-constant rate); None while the history is too short or not
    * decaying.
    */
  private[laplace] def predictRemaining(history: collection.IndexedSeq[Double],
      eps: Double): Option[Int] = {
    val t = history.length
    val m = t / 2
    if (m == 0) None
    else {
      val last = history(t - 1)
      val rate = math.pow(last / history(t - 1 - m), 1.0 / m)
      if (!(rate < 1.0) || !(last > eps)) None
      else Some(math.max(1, math.ceil(math.log(eps / last) / math.log(rate)).toInt))
    }
  }

  /** Solves the N×N problem. `stepK > 0` fixes every superstep's k; `0`
    * (the default) lets the cost model choose k per superstep and land the
    * last one on the predicted converging iteration.
    */
  def solve(spark: SparkSession, n: Int, numBlocks: Int = 0,
            maxIterations: Int = Int.MaxValue, stepK: Int = 0): Laplace.Result =
    solveWith(spark, n, numBlocks, maxIterations, stepK, costs = None)

  /** [[solve]], with `costs` = Some((jobNs, cellNs)) standing in for the
    * measured floors in every choice of k, which makes the choices a
    * function of the history alone. `fault` runs on the driver after the
    * job of every superstep, with the superstep's number: a test throws
    * from it to check what a failed solve leaves behind.
    */
  private[laplace] def solveWith(spark: SparkSession, n: Int, numBlocks: Int,
      maxIterations: Int, stepK: Int, costs: Option[(Double, Double)],
      fault: Int => Unit = _ => ()): Laplace.Result = {
    // the reference rejects N < 2 (`laplace-seq.c:154-161`)
    require(n >= 2, s"n must be >= 2, got $n")
    require(stepK >= 0, s"stepK must be >= 0, got $stepK")
    require(numBlocks >= 0, s"numBlocks must be >= 0, got $numBlocks")
    require(maxIterations >= 0, s"maxIterations must be >= 0, got $maxIterations")
    val sc = spark.sparkContext
    val requested = BlockLayout(n,
      math.max(1, math.min(if (numBlocks > 0) numBlocks else sc.defaultParallelism, n)))
    val om = Laplace.omega(n)
    val eps = Laplace.epsilon(n)
    val kernelNs = sc.longAccumulator("laplace.kernel_ns")
    val cells = sc.longAccumulator("laplace.cells")
    // measured floors: driver wall time of a superstep job beyond its share
    // of kernel time, and kernel ns per extended-range cell per iteration
    var jobNs = Double.PositiveInfinity
    var cellNs = Double.PositiveInfinity
    def model(layout: BlockLayout, remaining: Int): Int = {
      val (j, c) = costs.getOrElse((jobNs, cellNs))
      chooseK(layout, j, c, remaining, WorkBudgetBytes)
    }
    val savedDescription = sc.getLocalProperty(JobDescription)
    // every RDD the solve has persisted and not yet released: a failed
    // solve releases them all
    val held = scala.collection.mutable.LinkedHashSet.empty[RDD[RowBand]]
    def release(rdds: RDD[RowBand]*): Unit = rdds.foreach { r =>
      held -= r; Iterate.releaseRDD(r)
    }

    /** Marks `state` for local checkpoint and materialises it together
      * with its edge RDD, cut for supersteps of up to `kDepth` iterations,
      * in one single-stage job labelled `label`: computing edge partition b
      * computes, caches and checkpoints block b on the way.
      */
    def materialize(state: RDD[RowBand], kDepth: Int, label: String): RDD[RowBand] = {
      sc.setLocalProperty(JobDescription, s"laplace n=$n $label")
      state.localCheckpoint()
      held += state
      val depth = math.min(2L * kDepth, n.toLong).toInt
      val edges = state.flatMap(new EdgeBands(depth)).persist(StorageLevel.MEMORY_AND_DISK)
      held += edges
      Iterate.drain(edges)
      edges
    }

    /** Runs `kk` iterations from (`state`, `edges`) in `layout` on the
      * blocks of `run`, leaving edges deep enough for a next superstep of
      * up to `kDepth` iterations.
      */
    def superstep(state: RDD[RowBand], layout: BlockLayout, edges: RDD[RowBand],
        run: BlockLayout, kk: Int, kDepth: Int, s: Int,
        label: String): (RDD[RowBand], RDD[RowBand], Array[Double]) = {
      val acc = new MaxVecAccumulator(kk)
      sc.register(acc, s"laplaceMaxDiff $label")
      // on one block the halo dependency names no edge partition
      val input = if (run == layout) state else new ReblockRDD(state, layout, run)
      val next = new SuperstepRDD(input, edges, run, kk, om, acc, kernelNs, cells)
      val kernel0 = kernelNs.value
      val t0 = System.nanoTime()
      val nextEdges = materialize(next, kDepth, label)
      val wallNs = (System.nanoTime() - t0).toDouble
      val kernel = (kernelNs.value - kernel0).toDouble
      // tasks of one superstep run in waves of at most this many at a time
      val parallel = math.max(1, math.min(run.blocks, sc.defaultParallelism))
      jobNs = math.min(jobNs, math.max(0.0, wallNs - kernel / parallel))
      cellNs = math.min(cellNs, kernel / (kk.toDouble * n * run.extRowsTotal(2L * kk)))
      fault(s)
      (next, nextEdges, acc.value)
    }

    try {
      // `k` is the next superstep's depth and `kDepth` the deepest one the
      // current edges serve (2·kDepth rows); `layout` is the state's
      var k = if (stepK > 0) stepK else FirstK
      var kDepth = k
      var layout = requested
      var state = initialState(sc, layout)
      var edges = materialize(state, kDepth, "init")
      var iterations = 0
      var maxDiff = 0.0
      var converged = false
      val history = ArrayBuffer.empty[Double]
      val steps = Seq.newBuilder[Laplace.Superstep]
      var s = 0
      while (!converged && iterations < maxIterations) {
        s += 1
        val kk = math.min(k.toLong, maxIterations.toLong - iterations).toInt
        val run = runLayout(layout, kk)
        // edges for the superstep after this one, as deep as the model could
        // want it (landing only shortens a superstep); before any
        // measurement, as deep as the budget allows
        val kNextDepth =
          if (stepK > 0) stepK
          else if (s > 1) model(run, Int.MaxValue)
          else maxK(run, Int.MaxValue, WorkBudgetBytes)
        val (next, nextEdges, maxes) =
          superstep(state, layout, edges, run, kk, kNextDepth, s, s"superstep $s k=$kk")
        val idx = maxes.indexWhere(_ <= eps)
        if (idx < 0 || idx == kk - 1) {
          release(state, edges)
          state = next; edges = nextEdges; layout = run; kDepth = kNextDepth; iterations += kk
          history ++= maxes; steps += Laplace.Superstep(kk, run.blocks)
          maxDiff = maxes(kk - 1); converged = idx >= 0
          if (stepK == 0) {
            val left = math.min(predictRemaining(history, eps).getOrElse(kk),
              maxIterations - iterations)
            k = math.min(kDepth, model(layout, left))
          }
        } else {
          // converged mid-superstep: redo exactly idx+1 iterations so the
          // materialized grid is the state right after the converging
          // iteration (the reference stops there: `laplace-seq.c:209`)
          release(next, nextEdges)
          val kk2 = idx + 1
          val tailRun = runLayout(layout, kk2)
          // no superstep reads the tail's edges
          val (tail, tailEdges, tailMaxes) =
            superstep(state, layout, edges, tailRun, kk2, 1, s, s"superstep $s k=$kk2 tail")
          release(state, edges)
          state = tail; edges = tailEdges; layout = tailRun
          iterations += kk2; history ++= tailMaxes
          steps += Laplace.Superstep(kk2, tailRun.blocks, tail = true)
          maxDiff = tailMaxes(kk2 - 1); converged = true
        }
      }
      release(edges)
      import spark.implicits._
      // the canonical (i, j, v) cell table, straight from the blocks, in the
      // requested blocks whatever the last superstep ran on
      val table = new ReblockRDD(state, layout, requested).flatMap(b =>
        for (r <- b.rows.indices.iterator; j <- b.rows(r).indices.iterator)
          yield (b.lo + r, j, b.rows(r)(j)))
      Laplace.Result(spark.createDataset(table).toDF("i", "j", "v"), iterations, maxDiff,
        history.toSeq, steps.result())
    } catch {
      case e: Throwable => release(held.toSeq: _*); throw e
    } finally sc.setLocalProperty(JobDescription, savedDescription)
  }
}
