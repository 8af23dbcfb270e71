package graft.laplace

import graft.SparkSpec

/** Differential tests: both Spark solvers must match the scalar oracle
  * BIT-FOR-BIT (per-cell arithmetic order is fixed; max is exact), per
  * SURVEY.md §5. Grid sizes cover: all-boundary (N=2), single interior
  * cell (N=3), even/odd parity (N=4,5), and a golden run (N=16).
  */
class LaplaceSpec extends SparkSpec {

  private def cellsOf(res: Laplace.Result): Map[(Int, Int), Double] =
    res.grid.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap

  private def checkAgainstOracle(n: Int, res: Laplace.Result,
      maxIterations: Int = Int.MaxValue): Unit = {
    val oracle = ScalarOracle.solve(n, maxIterations)
    assert(res.iterations === oracle.iterations, s"N=$n iterations")
    assert(res.finalDiff === oracle.finalDiff, s"N=$n finalDiff (exact)")
    val got = cellsOf(res)
    assert(got.size === n * n)
    for (i <- 0 until n; j <- 0 until n)
      assert(got((i, j)) === oracle.grid(i)(j), s"N=$n cell ($i,$j) exact")
  }

  test("omega/epsilon formulas match hand-computed doubles") {
    val p = math.cos(math.Pi / 16)
    assert(Laplace.omega(16) === 1.6 / (1.0 + math.sqrt(1.0 - p * p)))
    assert(Laplace.epsilon(16) === 0.000002 / (2.0 - 1.25 * Laplace.omega(16)))
  }

  test("grid generator: boundary precedence and interior zeros (N=5)") {
    val g = GridGen.cells(spark, 5).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(g((0, 0)) === 4.56)   // i==0 wins at corners
    assert(g((4, 0)) === 9.85)   // i==N-1 wins over j==0
    assert(g((2, 0)) === 7.32)
    assert(g((2, 4)) === 6.88)
    assert(g((2, 2)) === 0.0)
    assert(g.size === 25)
  }

  test("N=2: all boundary, converges in 1 iteration with diff 0") {
    val res = BlockSolver.solve(spark, 2, numBlocks = 2)
    assert(res.iterations === 1)
    assert(res.finalDiff === 0.0)
    checkAgainstOracle(2, res)
    import org.apache.spark.sql.types._
    assert(res.grid.schema === StructType(Seq(StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false), StructField("v", DoubleType, nullable = false))))
  }

  test("cell solver matches scalar oracle bit-for-bit (N=3,4,5)") {
    for (n <- Seq(3, 4, 5)) checkAgainstOracle(n, CellSolver.solve(spark, n))
  }

  test("block solver matches scalar oracle bit-for-bit (N=3,4,5, varying blocks)") {
    checkAgainstOracle(3, BlockSolver.solve(spark, 3, numBlocks = 2))
    checkAgainstOracle(4, BlockSolver.solve(spark, 4, numBlocks = 3))
    checkAgainstOracle(5, BlockSolver.solve(spark, 5, numBlocks = 4))
  }

  test("multi-hop ghosts over several supersteps and a tail (N=24, 6 blocks)") {
    // blocks of 4 rows under ghost zones 8 (k=4) and 14 (k=7) rows deep:
    // each block reads edge bands from two and four blocks on each side.
    // N=24 converges after 240 iterations, a multiple of 4, so only k=7
    // ends in a mid-superstep tail redo
    checkAgainstOracle(24, BlockSolver.solve(spark, 24, numBlocks = 6, stepK = 4))
    val res = BlockSolver.solve(spark, 24, numBlocks = 6, stepK = 7)
    assert(res.iterations > 2 * 7 && res.iterations % 7 != 0,
      s"${res.iterations} iterations: want several full supersteps plus a tail")
    checkAgainstOracle(24, res)
  }

  test("iteration cap: a full superstep then a capped one (N=16, 20 iterations, k=16)") {
    checkAgainstOracle(16, BlockSolver.solve(spark, 16, numBlocks = 4,
      maxIterations = 20, stepK = 16), maxIterations = 20)
  }

  test("1500 supersteps stay bit-exact (N=128, 2 blocks, k=1, 1500 iterations)") {
    // superstep partitions once named the previous superstep's, so every
    // task carried a chain back to the first superstep and task
    // (de)serialization overflowed the stack after about a thousand. An
    // overflow on the driver leaves the job hanging, hence the time limit
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val solve = Future(BlockSolver.solve(spark, 128, numBlocks = 2,
      maxIterations = 1500, stepK = 1))
    val res = try Await.result(solve, 300.seconds) catch {
      case e: TimeoutException => spark.sparkContext.cancelAllJobs(); throw e
    }
    checkAgainstOracle(128, res, maxIterations = 1500)
  }

  test("golden N=16: block solver, partition-count invariant") {
    val r1 = BlockSolver.solve(spark, 16, numBlocks = 1)
    val r4 = BlockSolver.solve(spark, 16, numBlocks = 4)
    checkAgainstOracle(16, r1)
    checkAgainstOracle(16, r4)
  }

  test("boundary cells never change (N=8, block solver)") {
    val res = BlockSolver.solve(spark, 8, numBlocks = 3)
    val got = cellsOf(res)
    for (k <- 0 until 8) {
      assert(got((0, k)) === Laplace.initialValue(0, k, 8))
      assert(got((7, k)) === Laplace.initialValue(7, k, 8))
      assert(got((k, 0)) === Laplace.initialValue(k, 0, 8))
      assert(got((k, 7)) === Laplace.initialValue(k, 7, 8))
    }
  }

  test("GridSink dump matches the scalar oracle's %.10f format byte-for-byte (N=12)") {
    val res = BlockSolver.solve(spark, 12, numBlocks = 3)
    val oracle = ScalarOracle.solve(12)
    val expected = oracle.grid
      .map(_.map(v => f"$v%.10f").mkString(" "))
      .mkString("", "\n", "\n")
    assert(GridSink.format(res, 12) == expected)
    val stats = GridSink.statsLine(res, 12, 1.25)
    assert(stats.startsWith("Statistics: duration(s)=1.25"))
    assert(stats.contains(s"#iters=${oracle.iterations}"))
    assert(stats.contains(f"diff=${oracle.finalDiff}%.10f"))
    assert(stats.contains(f"epsilon=${Laplace.epsilon(12)}%.10f"))
  }

  test("block layout: closed-form ownership + multi-hop ghost routing") {
    for ((n, blocks) <- Seq((16, 4), (5, 4), (17, 3), (3, 2))) {
      val lay = BlockLayout(n, blocks)
      assert(lay.lo(0) === 0)
      assert(lay.hi(blocks - 1) === n - 1)
      for (b <- 0 until blocks; i <- lay.lo(b) to lay.hi(b))
        assert(lay.blockOf(i) === b, s"n=$n blocks=$blocks i=$i")
      // ghost routing: block d reads from block c iff some row of c is
      // within `ghost` rows of d's range — including across thin blocks
      for (ghost <- Seq(1, 2, 32); d <- 0 until blocks; c <- 0 until blocks) {
        val needs = (lay.lo(c) to lay.hi(c)).exists(i =>
          i >= lay.lo(d) - ghost && i <= lay.hi(d) + ghost)
        assert(lay.haloBlocks(d, ghost).contains(c) === needs,
          s"n=$n blocks=$blocks ghost=$ghost d=$d c=$c")
      }
    }
  }

  test("solve writes no shuffle: one stage per job, one job per superstep") {
    // blocks of 4 rows under an 8-row ghost zone: halos two blocks deep
    val (res, trace) = graft.JobTrace.run(spark.sparkContext)(
      BlockSolver.solve(spark, 16, numBlocks = 4, stepK = 4))
    val supersteps = (res.iterations + 3) / 4
    assert(trace.shuffleWriteBytes + trace.shuffleReadBytes === 0L,
      "the halo must not go through a shuffle")
    assert(trace.stagesPerJob.forall(_ == 1), s"stages per job: ${trace.stagesPerJob}")
    assert(trace.stagesSubmitted === trace.jobs)
    // init materialization + one job per superstep + at most one
    // mid-superstep tail redo; a driver-routed halo would add a collect
    // job per superstep and blow this bound
    assert(trace.jobs <= supersteps + 3, s"${trace.jobs} jobs for $supersteps supersteps")
    checkAgainstOracle(16, res)
  }

  test("bad solver arguments fail fast, naming the argument") {
    for ((arg, solve) <- Seq[(String, () => Laplace.Result)](
        "n" -> (() => BlockSolver.solve(spark, 1)),
        "n" -> (() => BlockSolver.solve(spark, 0)),
        "stepK" -> (() => BlockSolver.solve(spark, 8, stepK = -3)),
        "numBlocks" -> (() => BlockSolver.solve(spark, 8, numBlocks = -1)),
        "maxIterations" -> (() => BlockSolver.solve(spark, 8, maxIterations = -1)))) {
      val e = intercept[IllegalArgumentException](solve())
      assert(e.getMessage.contains(s"$arg must be"), e.getMessage)
    }
  }

  test("stepK = 0 lets the model choose k (N=8), bit-exact") {
    val res = BlockSolver.solve(spark, 8, stepK = 0)
    assert(res.supersteps.map(_.k).sum === res.iterations)
    checkAgainstOracle(8, res)
  }

  test("cost model: where every ghost range spans the grid, k reaches the landing bound (N=64)") {
    // J = 20 ms per job, c = 3 ns per cell: a deeper superstep only saves jobs
    assert(BlockSolver.chooseK(BlockLayout(64, 4), 20e6, 3.0, 1029,
      BlockSolver.WorkBudgetBytes) === 1029)
  }

  test("cost model: thin blocks keep k small (N=512, 32 blocks)") {
    val lay = BlockLayout(512, 32)
    val k = BlockSolver.chooseK(lay, 20e6, 3.0, 16000, BlockSolver.WorkBudgetBytes)
    assert(k >= 4 && k <= 32, s"k=$k")
    for (b <- 0 until 32) assert(lay.extRows(b, 2L * k) < 512, s"block $b spans the grid at k=$k")
  }

  test("cost model: a binding work-array budget lowers k") {
    val lay = BlockLayout(64, 4)
    // 48 extended rows of 64 doubles and a 16-slot vector: k=16 at most
    val budget = (48L * 64 + 16) * 8
    val k = BlockSolver.chooseK(lay, 20e6, 3.0, 1029, budget)
    assert(k >= 1 && k < 1029, s"k=$k")
    assert((0 until 4).forall(b => (lay.extRows(b, 2L * k).toLong * 64 + k) * 8 <= budget))
    assert(BlockSolver.chooseK(lay, 20e6, 3.0, 1029, 1L) === 1, "k is at least 1")
  }

  test("model-chosen k at a larger N: bit-exact, below spanning the grid (N=256, 16 blocks), edges cut below a block (N=128, 2 blocks)") {
    // with measured costs the choice here sits near the point where every
    // task relaxing the whole grid becomes cheaper (a job floor of ~50 ms
    // at ~2.5 ns a cell), so the no-spanning check runs on fixed costs:
    // J = 20 ms, c = 3 ns
    val lay = BlockLayout(256, 16)
    val res = BlockSolver.solveWith(spark, 256, numBlocks = 16, maxIterations = 300,
      stepK = 0, costs = Some((20e6, 3.0)))
    assert(res.supersteps.map(_.k).sum === 300)
    for (st <- res.supersteps; b <- 0 until 16)
      assert(lay.extRows(b, 2L * st.k) < 256, s"block $b spans the grid at k=${st.k}: ${res.supersteps}")
    checkAgainstOracle(256, res, maxIterations = 300)
    val measured = BlockSolver.solve(spark, 256, numBlocks = 16, maxIterations = 300)
    assert(measured.supersteps.map(_.k).sum === 300)
    checkAgainstOracle(256, measured, maxIterations = 300)
    // 64-row blocks at a k of about 8: edge bands shallower than half a
    // block, so the halo reads bands cut to the model's depth
    val cut = BlockSolver.solveWith(spark, 128, numBlocks = 2, maxIterations = 200,
      stepK = 0, costs = Some((1e5, 3.0)))
    assert(cut.supersteps.drop(1).forall(st => 4 * st.k < 64), cut.supersteps)
    checkAgainstOracle(128, cut, maxIterations = 200)
  }

  test("superstep jobs carry labels; the caller's description is restored") {
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      // JobTrace's fence job drains the listener bus
      val (res, _) = graft.JobTrace.run(sc)(BlockSolver.solve(spark, 16, numBlocks = 4, stepK = 5))
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      import scala.jdk.CollectionConverters._
      val got = labels.asScala.toSeq.filter(_.startsWith("laplace"))
      // 132 iterations: 26 supersteps of 5, then a tail of 2
      val want = "laplace n=16 init" +: ((1 to 26).map(s => s"laplace n=16 superstep $s k=5") ++
        Seq("laplace n=16 superstep 27 k=5", "laplace n=16 superstep 27 k=2 tail"))
      assert(got === want)
      assert(res.supersteps === Seq.fill(26)(Laplace.Superstep(5)) :+ Laplace.Superstep(2, tail = true))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("single color-0 half-sweep touches only (i+j) even interior cells (N=6)") {
    val n = 6
    val om = Laplace.omega(n)
    val init = GridGen.cells(spark, n)
      .withColumn("d", org.apache.spark.sql.functions.lit(0.0))
    val after = CellSolver.sweep(init, 0, n, om).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (i <- 0 until n; j <- 0 until n) {
      val interior = i >= 1 && i <= n - 2 && j >= 1 && j <= n - 2
      val colour0 = (i + j) % 2 == 0
      if (!(interior && colour0))
        assert(after((i, j)) === Laplace.initialValue(i, j, n), s"($i,$j) must not move")
    }
  }
}
