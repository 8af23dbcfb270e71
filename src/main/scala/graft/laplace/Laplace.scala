package graft.laplace

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Problem constants and scalar config functions of the reference solver.
  *
  * Reference semantics (studied, not copied): an N×N grid of doubles where
  * row 0 is 4.56, row N-1 is 9.85, then col 0 is 7.32, col N-1 is 6.88
  * (row conditions win at corners), interior 0.0
  * (`/root/reference/laplace-common-impl.h:11-33`); relaxation factor
  * omega(N) = 1.6 / (1 + sqrt(1 - cos^2(pi/N))) and tolerance
  * epsilon(N) = 2e-6 / (2 - 1.25*omega(N))
  * (`laplace-common-impl.h:37-48`). Both are computed driver-side with
  * `java.lang.Math` so the doubles are bit-identical to the C build, and
  * passed into plans as literals (never re-derived inside Catalyst, which
  * could constant-fold differently).
  */
object Laplace {
  val I0 = 4.56; val IN = 9.85; val J0 = 7.32; val JN = 6.88; val XX = 0.0

  def omega(n: Int): Double = {
    val p = math.cos(math.Pi / n.toDouble)
    1.6 / (1.0 + math.sqrt(1.0 - p * p))
  }

  def epsilon(n: Int): Double = 0.000002 / (2.0 - 1.25 * omega(n))

  def initialValue(i: Int, j: Int, n: Int): Double =
    if (i == 0) I0 else if (i == n - 1) IN
    else if (j == 0) J0 else if (j == n - 1) JN
    else XX

  /** Solver result: final grid as a cell table (i, j, v), plus the stats the
    * reference prints (`Statistics: ... #iters=.. diff=..`) and the full
    * per-iteration max-diff series (the loop-condition signal of
    * `laplace-seq.c:184-209` — O(iterations) doubles on the driver, the
    * same footprint as the stats themselves). `supersteps` lists the k of
    * each superstep a block solve kept, in order; they sum to `iterations`.
    * A last entry marked `tail` re-ran, from the state before it, a
    * superstep that converged part-way.
    */
  final case class Result(grid: DataFrame, iterations: Int, finalDiff: Double,
      history: Seq[Double] = Nil, supersteps: Seq[Superstep] = Nil)

  /** One kept superstep of a block solve: its k, and whether it was the
    * tail redo.
    */
  final case class Superstep(k: Int, tail: Boolean = false)
}

/** O1: distributed grid generation — the reference's scatter step (rank 0
  * initializes and MPI_Sends blocks, `laplace-par.c:305-337`) is unnecessary
  * in Spark: every partition generates its own rows, so the "scatter" never
  * touches a single node. `spark.range` is already range-partitioned into
  * contiguous blocks — the same 1-D row-block layout the reference uses
  * (`laplace-par.c:245-251`) — and scales to any N without driver memory.
  */
object GridGen {
  /** Cell table: one row per (i, j) with the boundary/interior init value. */
  def cells(spark: SparkSession, n: Int, numBlocks: Int = 0): DataFrame = {
    val blocks = if (numBlocks > 0) numBlocks
      else spark.sparkContext.defaultParallelism
    val rows = spark.range(0, n.toLong, 1, math.min(blocks, n))
      .select(col("id").cast("int").as("i"))
    val cols = spark.range(0, n.toLong).select(col("id").cast("int").as("j"))
    rows.crossJoin(cols).select(col("i"), col("j"),
      when(col("i") === 0, Laplace.I0)
        .when(col("i") === n - 1, Laplace.IN)
        .when(col("j") === 0, Laplace.J0)
        .when(col("j") === n - 1, Laplace.JN)
        .otherwise(Laplace.XX).as("v"))
  }
}
