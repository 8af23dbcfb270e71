package graft.laplace

import graft.operators.Iterate
import org.apache.spark.{NarrowDependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.AccumulatorV2

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
    private var acc: MaxVecAccumulator)
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
    val localMax = relax(work, extLo, own.lo, own.hi)
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
  * first and last 2k rows of block d (the whole block when it has at most
  * 4k rows). Per superstep,
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
    * those overlap. Row arrays are shared with the state, never copied.
    */
  private def edgeBands(block: RowBand, depth: Int): Iterator[RowBand] =
    if (block.rows.length <= 2 * depth) Iterator.single(block)
    else Iterator(RowBand(block.lo, block.rows.take(depth)),
      RowBand(block.hi - depth + 1, block.rows.takeRight(depth)))

  /** Marks `state` for local checkpoint and materialises it together with
    * its edge RDD in one single-stage job: computing edge partition b
    * computes, caches and checkpoints block b on the way.
    */
  private def materialize(state: RDD[RowBand], depth: Int): RDD[RowBand] = {
    state.localCheckpoint()
    val edges = state.flatMap(edgeBands(_, depth)).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    edges
  }

  def solve(spark: SparkSession, n: Int, numBlocks: Int = 0,
            maxIterations: Int = Int.MaxValue, stepK: Int = 16): Laplace.Result = {
    // the reference rejects N < 2 (`laplace-seq.c:154-161`)
    require(n >= 2, s"n must be >= 2, got $n")
    require(stepK >= 1, s"stepK must be >= 1, got $stepK")
    require(numBlocks >= 0, s"numBlocks must be >= 0, got $numBlocks")
    require(maxIterations >= 0, s"maxIterations must be >= 0, got $maxIterations")
    val sc = spark.sparkContext
    val requested = if (numBlocks > 0) numBlocks else sc.defaultParallelism
    val layout = BlockLayout(n, math.max(1, math.min(requested, n)))
    val om = Laplace.omega(n)
    val eps = Laplace.epsilon(n)
    // every superstep runs at most stepK iterations, so needs ghosts at
    // most 2*stepK rows deep
    val depth = math.min(2L * stepK, n.toLong).toInt

    def superstep(state: RDD[RowBand], edges: RDD[RowBand], kk: Int, at: Int,
        name: String): (RDD[RowBand], RDD[RowBand], Array[Double]) = {
      val acc = new MaxVecAccumulator(kk)
      sc.register(acc, s"$name@$at")
      val next = new SuperstepRDD(state, edges, layout, kk, om, acc)
      val nextEdges = materialize(next, depth)
      (next, nextEdges, acc.value)
    }

    var state = initialState(sc, layout)
    var edges = materialize(state, depth)
    var iterations = 0
    var maxDiff = 0.0
    var converged = false
    val history = Seq.newBuilder[Double]
    while (!converged && iterations < maxIterations) {
      val kk = math.min(stepK.toLong, maxIterations.toLong - iterations).toInt
      val (next, nextEdges, maxes) = superstep(state, edges, kk, iterations, "laplaceMaxDiff")
      val idx = maxes.indexWhere(_ <= eps)
      if (idx < 0 || idx == kk - 1) {
        Iterate.releaseRDD(state); Iterate.releaseRDD(edges)
        state = next; edges = nextEdges; iterations += kk
        history ++= maxes
        maxDiff = maxes(kk - 1); converged = idx >= 0
      } else {
        // converged mid-superstep: redo exactly idx+1 iterations so the
        // materialized grid is the state right after the converging
        // iteration (the reference stops there: `laplace-seq.c:209`)
        Iterate.releaseRDD(next); Iterate.releaseRDD(nextEdges)
        val kk2 = idx + 1
        val (tail, tailEdges, tailMaxes) =
          superstep(state, edges, kk2, iterations, "laplaceMaxDiffTail")
        Iterate.releaseRDD(state); Iterate.releaseRDD(edges)
        state = tail; edges = tailEdges
        iterations += kk2; history ++= tailMaxes
        maxDiff = tailMaxes(kk2 - 1); converged = true
      }
    }
    Iterate.releaseRDD(edges)
    import spark.implicits._
    // the canonical (i, j, v) cell table, straight from the blocks
    val cells = state.flatMap(b =>
      for (r <- b.rows.indices.iterator; j <- b.rows(r).indices.iterator)
        yield (b.lo + r, j, b.rows(r)(j)))
    Laplace.Result(spark.createDataset(cells).toDF("i", "j", "v"), iterations, maxDiff,
      history.result())
  }
}
