package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.laplace.{BlockSolver, CellSolver, GridGen, Laplace, LaplaceOracle}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from the operator modules; every SQL-expressible
  * query carries DuckDB oracle SQL — including the iterative Laplace
  * solves, whose oracles unroll the red-black SOR loop as a recursive CTE
  * ([[LaplaceOracle]]) on top of the bit-exact scalar checks in
  * LaplaceSpec.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  private def laplaceDefs: Seq[QueryDef] = Seq(
    // O1/O2: distributed grid generation — fully SQL-expressible.
    QueryDef("laplace_grid_init",
      (s, _) => GridGen.cells(s, 32).orderBy("i", "j"),
      Some("""
        SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
               CASE WHEN i = 0 THEN 4.56 WHEN i = 31 THEN 9.85
                    WHEN j = 0 THEN 7.32 WHEN j = 31 THEN 6.88
                    ELSE 0.0 END AS v
        FROM range(32) t(i) CROSS JOIN range(32) s(j)
        ORDER BY i, j""")),
    // O1 again through the DataSource V2 connector: the same grid served
    // by a first-class TableProvider with partition planning + column
    // pruning (sources/GridSource.scala); same oracle as the DataFrame
    // generator above proves connector parity.
    QueryDef("laplace_grid_dsv2",
      (s, _) => s.read.format("graft.sources.GridSourceProvider")
        .option("n", "32").option("partitions", "8").load()
        .orderBy("i", "j"),
      Some("""
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
               CASE WHEN i = 0 THEN 4.56 WHEN i = 31 THEN 9.85
                    WHEN j = 0 THEN 7.32 WHEN j = 31 THEN 6.88
                    ELSE 0.0 END AS v
        FROM range(32) t(i) CROSS JOIN range(32) s(j)
        ORDER BY i, j""")),
    // O3-O7: red-black SOR on the canonical cell-table plan. Capped at 6
    // iterations: this entry demonstrates the declarative sweep (one
    // job/iteration = pure scheduling overhead on a 64-cell demo grid);
    // convergence-to-epsilon is exercised by the block queries + LaplaceSpec.
    // The oracle unrolls the same 6 capped iterations.
    QueryDef("laplace_solve_cell_n8",
      (s, _) => CellSolver.solve(s, 8, maxIterations = 6).grid.orderBy("i", "j"),
      Some(LaplaceOracle.gridSql(8, maxIterations = 6))),
    // O3-O12: block-row solver (the MPI-shaped scale path), to convergence.
    QueryDef("laplace_solve_block_n32",
      (s, _) => BlockSolver.solve(s, 32, numBlocks = 8).grid.orderBy("i", "j"),
      Some(LaplaceOracle.gridSql(32))),
    // O5/O6 observable: the per-iteration global max-diff series (the
    // reference loop's convergence signal, laplace-seq.c:184-209) as a
    // table — one row per full red-black iteration, bit-exact against
    // the recursive CTE's own `d` column. The history rides the block
    // solver's existing max-vector accumulator: zero extra jobs.
    QueryDef("laplace_convergence_n16",
      (s, _) => {
        val r = BlockSolver.solve(s, 16, numBlocks = 4)
        val sp = s
        import sp.implicits._
        r.history.zipWithIndex
          .map { case (dv, i) => (i + 1, dv) }
          .toDF("iteration", "max_diff")
          .select(col("iteration").cast("int").as("iteration"), col("max_diff"))
          .orderBy("iteration")
      },
      Some(LaplaceOracle.convergenceSql(16))),
    // O15: metrics sink — the reference's `Statistics:` line as one row.
    QueryDef("laplace_stats_n16",
      (s, _) => {
        val r = BlockSolver.solve(s, 16, numBlocks = 4)
        val sp = s
        import sp.implicits._
        Seq((16, r.iterations, r.finalDiff, Laplace.epsilon(16), Laplace.omega(16)))
          .toDF("n", "num_iterations", "final_diff", "epsilon", "omega")
      }, Some(LaplaceOracle.statsSql(16)))
  )

  // built once: the defs and their oracle strings are pure, and every
  // `queries(name)` / `oracleSql` lookup reads these
  private lazy val allDefs: Seq[QueryDef] =
    laplaceDefs ++ graft.operators.Relational.defs ++
      graft.operators.TpcH.defs ++
      graft.operators.Dedup.defs ++ graft.operators.TextAnalysis.defs ++
      graft.operators.Bpe.defs ++
      graft.operators.Similarity.defs ++ graft.operators.Pca.defs ++
      graft.operators.Multimodal.defs ++
      graft.operators.Pipeline.defs ++ graft.operators.Clustering.defs ++
      graft.operators.Graph.defs ++
      graft.operators.Skew.defs ++ graft.streaming.Streams.defs

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] =
    allDefs.collect { case QueryDef(n, _, Some(sql)) => n -> sql.trim }.toMap
}
