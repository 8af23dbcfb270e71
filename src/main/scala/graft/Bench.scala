package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Per query: one warm-up (recorded as "first", the cold
  * plan/codegen cost) then 3 timed runs, reporting the MEDIAN as the query's
  * headline number. Single-shot timings in a shared JVM spike 4-10x on
  * individual queries (GC, codegen, file-listing races), which made round-over-
  * round comparison of BENCH_r*.json impossible; medians of warmed runs agree
  * within ~10% run-to-run.
  *
  * Output is one JSON line: {"metric":"total","value":<sum of medians over
  * SUCCESSFUL queries>,"unit":"sec","failed":N,"queries":{name:median,...},
  * "first":{name:coldSecs,...},"sf":...}. "queries" keeps the flat
  * name->seconds shape the driver harness parses; failed queries are reported
  * as negative medians there but EXCLUDED from "value" (a failure must not
  * deflate the headline total).
  */
object Bench {
  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up JIT / codegen / file-listing so the first measured query
    // reflects steady state rather than session startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // dev-only: SPARK_GRAFT_WITNESS_ONLY=1 skips the 362-query sweep so a
    // witness change can be exercised in isolation (the driver never sets it)
    val queryList = if (sys.env.contains("SPARK_GRAFT_WITNESS_ONLY")) Nil
      else SparkEntry.queries.toSeq.sortBy(_._1)
    // In-run DRIFT SENTINEL: a fixed, memo-free probe (codegen agg over
    // a synthetic range + a small parquet scan-agg) timed before the
    // sweep and after every 25th query. Three rounds running, the
    // driver-box artifact has shown a contiguous run-order inflation
    // cluster that a different box couldn't reproduce; the sentinel
    // series makes each artifact self-adjudicating — inflated sentinels
    // around inflated queries = environmental (GC/page-cache/neighbor),
    // flat sentinels + inflated queries = a real code regression.
    // The whole sentinel apparatus only exists to adjudicate the 362-query
    // sweep: under WITNESS_ONLY (empty queryList) skip its parquet read,
    // warm-up and probes entirely — a 1-2 sample series can't support a
    // drift verdict and would only add jobs (and a supplier.parquet
    // dependency) to the mode whose purpose is exercising one witness in
    // isolation.
    val sentinelOn = queryList.nonEmpty
    lazy val sentinelDf = spark.read.parquet(s"$sfDir/supplier.parquet")
    def sentinel(): Double = time {
      spark.range(4000000).selectExpr("sum(id % 97)").collect()
      sentinelDf.selectExpr("count(*)", "sum(hash(s_name))").collect()
    }
    val sentinels = Seq.newBuilder[(String, Double)]
    if (sentinelOn) {
      sentinel() // warm the probe's own plan/codegen once
      sentinels += (("start", sentinel()))
    }
    val results = queryList.zipWithIndex.map { case ((name, fn), i) =>
      val r = try {
        val first = time(fn(spark, sfDir).count())
        val timed = Seq.fill(3)(time(fn(spark, sfDir).count())).sorted
        (name, first, timed(1), true)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          (name, -1.0, -1.0, false)
      }
      if ((i + 1) % 25 == 0) sentinels += ((name, sentinel()))
      r
    }
    if (queryList.nonEmpty) sentinels += (("end", sentinel()))
    val sentinelSeries = sentinels.result()
    def jmap(vs: Seq[(String, Double)]): String =
      vs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // failure sentinel is ALREADY -1.0 — negate nothing, or the marker
    // flips to a plausible-looking +1.0 "success"
    val qs = jmap(results.map { case (n, _, med, _) => (n, med) })
    val firsts = jmap(results.map { case (n, first, _, _) => (n, first) })
    val total = results.collect { case (_, _, med, true) => med }.sum
    val nFailed = results.count(!_._4)
    val witness = if (sys.env.contains("SPARK_GRAFT_SKIP_WITNESS")) ""
      else "," + solverWitness(spark) + "," + pipelineWitness(spark) +
        "," + knnLadderWitness(spark) + "," + knnSynthWitness(spark) +
        "," + prefixWitness(spark) + "," + invarianceWitness(spark, sfDir)
    // sentinel series: one entry per probe, keyed by the query it ran
    // AFTER (run order = sorted query names), plus summary stats — the
    // max/median ratio is the one-line environmental-drift verdict
    val sentSecs = sentinelSeries.map(_._2).sorted
    val sentMed = if (sentSecs.isEmpty) 0.0 else sentSecs(sentSecs.size / 2)
    val sentMax = if (sentSecs.isEmpty) 0.0 else sentSecs.last
    // one-word adjudication: a probe that inflates >1.5x its own median
    // mid-run means the box drifted DURING this run — per-query movers
    // in the inflated stretch are environmental until isolated-retimed.
    // Fewer than 3 probes (a witness-only or near-empty sweep) can't
    // distinguish drift from probe variance: report "n/a", not a
    // spurious verdict computed from a max/median over <=2 samples.
    val drift =
      if (sentSecs.size < 3 || sentMed <= 0) "n/a"
      else if (sentMax / sentMed > 1.5) "drifting"
      else "flat"
    val sentJson = sentinelSeries
      .map { case (at, sec) => s"""{"after":"$at","sec":$sec}""" }
      .mkString("[", ",", "]")
    val sentStats = s""""sentinel_med":$sentMed,"sentinel_max":$sentMax,"drift_verdict":"$drift""""
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"queries":$qs,"first":$firsts,"sentinel_series":$sentJson,$sentStats$witness,"sf":"$sfDir"}""")
    // The full line above can exceed the driver's tail-truncation window,
    // leaving BENCH_r*.json unparseable. Repeat the headline as ONE compact
    // final line (driver contract keys + per-family median subtotals) so
    // whatever survives truncation is always valid JSON.
    def family(name: String): String = {
      val m = "^([a-z]+?)\\d".r.findFirstMatchIn(name)
      m.map(_.group(1)).getOrElse(name.takeWhile(_ != '_'))
    }
    val fams = results
      .collect { case (n, _, med, true) => (family(n), med) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, vs) => (f, BigDecimal(vs.map(_._2).sum).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    // Per-query warmed medians as a CHECKED-IN artifact: the 351-query map
    // above outgrew the driver's tail window, so round-over-round per-query
    // regression triage reads this file instead (one line per query for
    // reviewable diffs). Written only when the dir exists (i.e. cwd is the
    // repo root, as under `sbt runMain`).
    val docsDir = new java.io.File("docs")
    // never clobber the checked-in per-query medians from a dev
    // witness-only run (its query map is empty)
    if (docsDir.isDirectory && queryList.nonEmpty) {
      val w = new java.io.PrintWriter(new java.io.File(docsDir, "BENCH_QUERIES.json"), "UTF-8")
      try {
        w.println("{")
        w.println(s""" "sf": "$sfDir", "failed": $nFailed, "total_sec": $total,""")
        w.println(s""" "sentinel_series": $sentJson, $sentStats,""")
        w.println(""" "queries": {""")
        val lines = results.map { case (n, first, med, _) =>
          s"""  "$n": {"median_sec": $med, "first_sec": $first}"""
        }
        w.println(lines.mkString(",\n"))
        w.println(" }\n}")
      } finally w.close()
    }
    spark.stop()
    // LAST stdout line, after spark.stop() so no shutdown logging can
    // follow it on stdout (Spark logs to stderr, but keep the ordering
    // airtight): the compact driver-contract summary.
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"families":${jmap(fams)},$sentStats,"sf":"$sfDir"}""")
    System.out.flush()
  }

  /** Partitioning-invariance witness: the determinism contract argued in
    * Ns.scala (exact decimal sums, md5-derived hashing, sequential folds,
    * quantize-then-rank), MEASURED: a representative query per family is
    * executed under three different shuffle-partition counts and the full
    * result set is content-hashed each time. Identical hashes = the result
    * does not depend on how the data was partitioned — the property that
    * makes local[32] results transfer verbatim to a 1000-executor cluster
    * (and that the DuckDB single-threaded oracle silently relies on).
    */
  private def invarianceWitness(spark: SparkSession, sfDir: String): String = {
    // one per family, plus one per NEW determinism-risk class: p14 (array
    // -accumulator fold), st17 (prefix-fold recursion), m08 (typed
    // sequential kernel), c03 (iterative min-label CC through
    // checkpointFresh — the loop a skeptic would most expect to depend
    // on partitioning)
    // r6 additions: d17 (high-cardinality window-hash explode), q168
    // (bounded driver-side collect + exact integer sweeps — the collect
    // order must not leak into the result)
    // r9 additions: q139 (three chained Prefix.orderStats ntiles — the
    // two-pass prefix scan must not depend on the range partitioner's
    // boundary placement) and q124 (Prefix cumulative sweep line)
    // r10 addition: d08 (hot/cold two-path union of the de-skewed
    // blocking join — the salted and plain paths must reassemble the
    // same row set under any partitioning)
    // r11 addition: d12 (a consumer of the session-memoized banded
    // signature frame — the memo key includes the shuffle-partition
    // count, so each rung builds its own frame and the witness pins
    // that neither the memoized frame's content nor its downstream
    // band-curve ranks depend on how it was partitioned)
    val reps = Seq("q01_pricing_summary", "d02_minhash_lsh", "s01_cosine_topk",
      "t01_lang_id", "g01_pagerank",
      "p14_bin_packing", "st17_stream_cusum", "m08_shot_boundary", "c03_dbscan_grid",
      "d17_window_substring_dup", "q168_markov_attribution",
      "q139_rfm_segmentation", "q124_peak_concurrency", "d08_editdist_join",
      "d12_lsh_band_curve")
    val parts = Seq(5, 13, 32)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    def contentHash(name: String): String = {
      val rows = SparkEntry.queries(name)(spark, sfDir).collect()
      val md = java.security.MessageDigest.getInstance("MD5")
      // row order is part of each query's contract (all end in orderBy),
      // so hash rows in the order delivered
      rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    val entries = reps.map { name =>
      val hashes = parts.map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        contentHash(name)
      }
      s""""$name":{"hashes":[${hashes.map("\"" + _ + "\"").mkString(",")}],"invariant":${hashes.distinct.size == 1}}"""
    }
    spark.conf.set("spark.sql.shuffle.partitions", saved)
    s""""invariance_witness":{"partitions":[${parts.mkString(",")}],${entries.mkString(",")}}"""
  }

  /** Pipeline scale ladder: the 100 TB design argument for the near-dup
    * join family, measured instead of claimed. Runs d09 (prefix-filter
    * similarity join — the blocking-equi-join shape every dedup/ANN path
    * shares) across the three fixture scales and reports wall seconds and
    * shuffled bytes per scale. The claim being witnessed: work grows with
    * the BLOCKED candidate pairs (near-linearly with input at fixture
    * densities), not with the all-pairs cross product — if it were
    * all-pairs, bytes would grow ~100x per 10x step.
    */
  /** Run `build(dir).count()` once warm then once metered, reporting wall
    * seconds + shuffle-write MB per fixture scale (measured by [[JobTrace]]).
    */
  private def scaleLadder(spark: SparkSession)(
      build: String => org.apache.spark.sql.DataFrame): Seq[String] =
    Seq("sf0.001", "sf0.01", "sf0.1").map { sf =>
      val dir = s"/root/testdata/$sf"
      build(dir).count() // warm (plan/codegen), unmetered
      val (sec, trace) = JobTrace.run(spark.sparkContext)(time(build(dir).count()))
      s""""$sf":{"sec":$sec,"shuffle_mb":${trace.shuffleWriteBytes / 1e6}}"""
    }

  private def pipelineWitness(spark: SparkSession): String = {
    val fn = SparkEntry.queries("d09_prefix_filter_join")
    val entries = scaleLadder(spark)(dir => fn(spark, dir))
    s""""pipeline_witness":{"query":"d09_prefix_filter_join",${entries.mkString(",")}}"""
  }

  /** Scale ladder for the blocked kNN-graph builder (multi-probe sign-LSH
    * + exact rerank — Graph.knnDirectedBlocked, the build behind ten
    * g/s-family queries). The claim witnessed: wall time and shuffled
    * bytes grow with the probed-bucket CANDIDATE pairs (near-linearly at
    * fixture densities), not with the n² cross product — if the builder
    * were all-pairs, shuffle bytes would grow ~100x per 10x input step.
    * The RAW builder is measured (not the session memo the queries read).
    */
  private def knnLadderWitness(spark: SparkSession): String = {
    val entries = scaleLadder(spark)(dir =>
      graft.operators.Graph.knnDirectedBlocked(spark, dir))
    s""""knn_ladder_witness":{"query":"knnDirectedBlocked",${entries.mkString(",")}}"""
  }

  /** Synthetic-embeddings kNN scale ladder: the fixture embeddings top
    * out at 2000 rows (FIXTURES.md), so every ANN/kNN claim above was
    * exercised at toy n. This witness BUILDS deterministic md5-derived
    * 64-dim vectors at n = 500 / 5k / 50k and runs the SAME blocked
    * builder (Graph.knnDirectedBlockedOn) with the documented at-scale
    * geometry rule h ~ log2(n) - 3 (probed fraction |ball|/2^h keeps
    * falling as n grows), reporting wall seconds + listener-measured
    * shuffle MB per rung. Timed ONCE per rung (the 50k build is
    * minutes; its thousands of tasks self-average) — the claim
    * witnessed: cost grows with blocked candidate pairs, not n².
    * Each rung also reports recall@3 ppm of the blocked builder vs the
    * exact fixed-count sampled arm (Ns.SampleK queries, the g19
    * recipe) so the quality claims no longer rest on the <=2000-row
    * fixtures alone — see the adversarial-floor note at the
    * computation below before reading the absolute numbers.
    *
    * The vectors round-trip through a temp PARQUET table (not fed
    * straight from spark.range): a Range source reports
    * RangePartitioning(vec_id), and Catalyst then correctly proves the
    * whole build partition-local and elides EVERY shuffle — a cute
    * result, but a production corpus is a parquet scan with unknown
    * partitioning, and that is the shape whose shuffle growth this
    * witness exists to measure.
    */
  private def knnSynthWitness(spark: SparkSession): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_synth")
    try knnSynthWitness(spark, tmp.toString)
    finally org.apache.hadoop.fs.FileUtil.fullyDelete(tmp.toFile)
  }

  private def knnSynthWitness(spark: SparkSession, tmp: String): String = {
    import org.apache.spark.sql.functions._
    graft.operators.Ns.registerFast(spark)
    // md5-derived U(-0.5, 0.5) component with a seeded tag
    def u01(seed: String): String =
      s"CAST(conv(substr(md5($seed), 1, 8), 16, 10) AS BIGINT) " +
        "/ CAST(4294967296 AS DOUBLE) - CAST(0.5 AS DOUBLE)"
    // Two geometries, SAME blocked builder and recall protocol:
    //  - uniform: i.i.d. vectors — sign-LSH's documented ADVERSARIAL
    //    floor (true 3-NN cosines fall toward ~0.45 at n=50k, so
    //    banded-Hamming collision odds drop with n by construction);
    //  - clustered: 64 deterministic md5-derived centers + 0.15-scaled
    //    per-point noise — the geometry a real near-dup corpus has
    //    (within-cluster cosine ~0.978, cross-cluster ~0), answering
    //    "will it find MY near-dups at 50k+" from the artifact instead
    //    of from the <=2000-row fixture pins.
    val arms = Seq(
      ("uniform",
        "transform(sequence(1, 64), i -> " +
          u01("concat('sv:', CAST(id AS STRING), ':', CAST(i AS STRING))") + ")"),
      ("clustered",
        "transform(sequence(1, 64), i -> (" +
          u01("concat('ctr:', CAST(id % 64 AS STRING), ':', CAST(i AS STRING))") +
          ") + CAST(0.15 AS DOUBLE) * (" +
          u01("concat('pv:', CAST(id AS STRING), ':', CAST(i AS STRING))") + "))"))
    // dev-only rung override (e.g. SPARK_GRAFT_SYNTH_NS=500,5000 skips
    // the minutes-long 50k builds while iterating on the witness); the
    // driver never sets it, so driver artifacts always carry all rungs
    val rungs = sys.env.get("SPARK_GRAFT_SYNTH_NS")
      .map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Seq(500, 5000, 50000))
    val armEntries = arms.map { case (arm, vecExpr) =>
    val entries = rungs.map { n =>
      val h = math.max(6,
        (math.ceil(math.log(n.toDouble) / math.log(2)) - 3).toInt)
      spark.range(n).select(col("id").as("vec_id"), expr(vecExpr).as("v"))
        .write.mode("overwrite").parquet(s"$tmp/$arm$n")
      val ev = spark.read.parquet(s"$tmp/$arm$n")
        .withColumn("nrm", sqrt(expr(graft.operators.Ns.dot("v", "v"))))
      // timed action: build + materialize (localCheckpoint), so the
      // recall pin below can REUSE the built lists instead of paying
      // the minutes-long 50k build twice; materializing n*3 id pairs
      // adds negligible wall over the count() this replaces
      var blocked: org.apache.spark.sql.DataFrame = null
      val (sec, trace) = JobTrace.run(spark.sparkContext)(time {
        blocked = graft.operators.Graph.knnDirectedBlockedOn(spark, ev, h, 2)
          .localCheckpoint()
      })
      // recall@3 vs the exact arm on the fixed Ns.SampleK query budget
      // (the g19 recipe: 64 smallest-md5-rank ids broadcast against the
      // corpus — O(K·n)) — QUALITY at synthetic scale, not just cost;
      // the fixture recall pins top out at 2000 vectors. Reading note:
      // on the uniform arm recall FALLS with n (~0.82/0.39/0.24
      // measured, vs ~60 ppm for a random-candidate baseline at 50k —
      // still ~4000x above chance) because that geometry is the floor
      // by construction; the clustered arm is the production-shaped
      // counterpoint and should hold the fixture pins' 80-90%+ level
      // at every rung.
      val ns = graft.operators.Ns
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cosine").desc, col("nb"))
      val q = ev.orderBy(expr(ns.sampleRank("vec_id")), col("vec_id"))
        .limit(ns.SampleK)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val exact = ev.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nb"),
          round(expr(ns.dot("qv", "v")) / (col("qn") * col("nrm")), 6).as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).select("qid", "nb").localCheckpoint()
      val hits = blocked.join(exact, Seq("qid", "nb"), "left_semi").count()
      val tot = exact.count()
      val recallPpm = if (tot == 0) 0L else hits * 1000000L / tot
      s""""n$n":{"h":$h,"sec":$sec,"shuffle_mb":${trace.shuffleWriteBytes / 1e6},"recall_ppm":$recallPpm}"""
    }
    s""""$arm":{${entries.mkString(",")}}"""
    }
    s""""knn_synth_witness":{"query":"knnDirectedBlockedOn","dims":64,"recall_at":3,"sample_k":${graft.operators.Ns.SampleK},"centers":64,"noise":0.15,${armEntries.mkString(",")}}"""
  }

  /** Global-order-statistics witness: the single-task `Window.orderBy`
    * spelling vs the range-partitioned two-pass `Prefix.orderStats` on
    * the same deterministic md5-keyed synthetic frame, at two rungs.
    * Three things measured, not claimed:
    *  - `equal`: both arms produce the SAME exact checksums
    *    (Σrn, Σ cumsum) — the lossless-regrouping argument, checked at
    *    a size far above any fixture table;
    *  - wall seconds per arm: the window arm funnels ALL n rows through
    *    ONE task (Spark requires SinglePartition for an unpartitioned
    *    window), so its time grows with n while the prefix arm spreads
    *    n/P per task — the gap IS the straggler the r9 rewrites
    *    removed, and at 100 TB the window arm is not slow but
    *    impossible (one task must hold the corpus);
    *  - each arm reports the MEDIAN of 3 timed runs after a warm run
    *    (plan/codegen excluded) — a one-shot wall clock on this
    *    drifting box can misstate the window-vs-prefix ratio at the
    *    small rung.
    */
  private def prefixWitness(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val entries = Seq(250000, 2000000).map { n =>
      val df = spark.range(n).select(col("id"),
        expr("CAST(conv(substr(md5(concat('pw:', CAST(id AS STRING))), 1, 12), " +
          "16, 10) AS BIGINT)").as("k"),
        expr("id % 97 + 1").as("w"))
      val sort = Seq(col("k"), col("id"))
      // consume rn+cw through an aggregate so column pruning cannot drop
      // the stats; the sums double as the cross-arm equality checksum
      def windowArm() = {
        val wo = Window.orderBy(sort: _*) // bounded: witness-only arm, the shape under test
        df.withColumn("rn", row_number().over(wo).cast("long"))
          .withColumn("cw", sum(col("w")).over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .agg(sum(col("rn")), sum(col("cw"))).collect()(0)
      }
      def prefixArm() = graft.operators.Prefix
        .orderStats(df, sort, rn = Some("rn"), cumSums = Seq(("w", "cw")))
        .agg(sum(col("rn")), sum(col("cw"))).collect()(0)
      windowArm(); prefixArm() // warm (plan/codegen), unmetered
      def med3(f: () => org.apache.spark.sql.Row): (org.apache.spark.sql.Row, Double) = {
        val runs = Seq.fill(3) {
          val t0 = System.nanoTime()
          val r = f()
          (r, (System.nanoTime() - t0) / 1e9)
        }
        (runs.head._1, runs.map(_._2).sorted.apply(1))
      }
      val (wRow, wSec) = med3(() => windowArm())
      val (pRow, pSec) = med3(() => prefixArm())
      s""""n$n":{"window_sec":$wSec,"prefix_sec":$pSec,"equal":${wRow == pRow}}"""
    }
    s""""prefix_witness":{"stats":"rn+cumsum","tasks_window_arm":1,${entries.mkString(",")}}"""
  }

  /** Large-N solver witness: the temporal-blocking design claims argued in
    * BlockSolver.scala, measured at a size where compute dominates
    * scheduling (N=512: 262144 cells, ~16k iterations to convergence).
    * Timed ONCE (not median-of-3 — the convergence run takes tens of
    * seconds and its hundreds of jobs self-average). Reports:
    *  - the convergence run (cells*iterations/sec) and the supersteps it
    *    kept with the min/median/max of their model-chosen k and how many
    *    ran on one block, from `Result.supersteps`, beside the jobs a
    *    listener saw and the interior cells its tasks relaxed (ghost
    *    copies included, from the `laplace.cells` accumulator),
    *  - per-iteration rates of the block path (96 iterations) vs the
    *    declarative cell path (16 iterations) -> the blocking speedup,
    *  - stages per superstep job of the convergence solve, from a listener
    *    (expect 1: the halo is a narrow dependency, not a shuffle stage).
    * Cells-level bit-parity block==cell==oracle is LaplaceSpec's job; this
    * entry is throughput evidence only.
    */
  private def solverWitness(spark: SparkSession): String = {
    val n = 512
    val blocks = 32
    val cells = n.toLong * n
    // jobs and stages of the solve itself; the grid count after it is
    // timed but not traced
    val t0 = System.nanoTime()
    val (r, trace) = JobTrace.run(spark.sparkContext)(
      graft.laplace.BlockSolver.solve(spark, n, numBlocks = blocks))
    r.grid.count()
    val convSec = (System.nanoTime() - t0) / 1e9
    val ks = r.supersteps.filterNot(_.tail).map(_.k).sorted
    val tb0 = System.nanoTime()
    graft.laplace.BlockSolver.solve(spark, n, numBlocks = blocks, maxIterations = 96).grid.count()
    val blockSecPerIter = (System.nanoTime() - tb0) / 1e9 / 96
    val tc0 = System.nanoTime()
    graft.laplace.CellSolver.solve(spark, n, maxIterations = 16).grid.count()
    val cellSecPerIter = (System.nanoTime() - tc0) / 1e9 / 16
    s""""solver_witness":{"n":$n,"conv_sec":$convSec,"iterations":${r.iterations},""" +
      s""""supersteps":${r.supersteps.size},"tail":${r.supersteps.exists(_.tail)},""" +
      s""""one_block_supersteps":${r.supersteps.count(_.blocks == 1)},""" +
      s""""cells":${trace.counters.getOrElse("laplace.cells", 0L)},""" +
      s""""k_min":${ks.head},"k_median":${ks(ks.size / 2)},"k_max":${ks.last},""" +
      s""""cells_iters_per_sec":${(cells * r.iterations / convSec).toLong},""" +
      s""""block_sec_per_iter":$blockSecPerIter,"cell_sec_per_iter":$cellSecPerIter,""" +
      s""""temporal_blocking_speedup":${cellSecPerIter / blockSecPerIter},""" +
      s""""solve_jobs":${trace.jobs},"stages_per_superstep":${trace.stagesSubmitted.toDouble / trace.jobs}}"""
  }
}
