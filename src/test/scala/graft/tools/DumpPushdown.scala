package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generates docs/DSV2_PUSHDOWN.md: the GridSource DataSource-V2 pushdown
  * matrix, each row witnessed by the LIVE physical plan (not hand-claimed).
  * Run after any sources/ change: `sbt "Test/runMain graft.tools.DumpPushdown"`.
  */
object DumpPushdown {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def grid(n: Int = 1024, parts: Int = 16): DataFrame =
      spark.read.format("graft.sources.GridSourceProvider")
        .option("n", n.toString).option("partitions", parts.toString).load()

    // keep only the lines that witness the pushdown (full plans are in
    // docs/PLANS.md; this file is the compact evidence matrix)
    def evidence(df: DataFrame, keys: Seq[String]): String = {
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val always = Seq("graft.GridScan", "RuntimeFilters", "PushedAggregates",
        "PushedFilters", "GroupBy=")
      plan.linesIterator
        .filter(l => (keys ++ always).exists(l.contains))
        .map(_.trim).filter(_.nonEmpty).toSeq.distinct.take(12).mkString("\n")
    }

    val sb = new StringBuilder
    sb.append("# GridSource DSv2 pushdown matrix (generated by graft.tools.DumpPushdown)\n\n")
    sb.append("| Capability | DSv2 interface | Effect at scale |\n")
    sb.append("| --- | --- | --- |\n")
    sb.append("| Column pruning | `SupportsPushDownRequiredColumns` | a `SELECT v` scan materializes 1 of 3 columns |\n")
    sb.append("| i-range predicate -> partition pruning | `SupportsPushDownFilters` | `WHERE i BETWEEN a AND b` plans only the overlapping row blocks |\n")
    sb.append("| COUNT/MIN/MAX (+ GROUP BY i) pushdown | `SupportsPushDownAggregates` | answered in closed form per block: O(partitions) rows leave the source |\n")
    sb.append("| Dynamic partition pruning from a joined dim | `SupportsRuntimeFiltering` | join-key filter prunes blocks at runtime, before rows are generated |\n\n")

    sb.append("## Witnesses (live plans, n=1024, 16 planned blocks)\n")

    sb.append("\n### 1. Column pruning: `grid.select(\"v\")`\n\n```\n")
    sb.append(evidence(grid().select("v"), Seq("ReadSchema", "Output")))
    sb.append("\n```\n")

    val pruned = grid().where("i BETWEEN 100 AND 200")
    sb.append("\n### 2. Filter pushdown + partition pruning: `where(\"i BETWEEN 100 AND 200\")`\n\n```\n")
    sb.append(evidence(pruned, Seq("PushedFilters", "ReadSchema")))
    sb.append(s"\n```\n\npartitions planned: ${pruned.rdd.getNumPartitions} of 16 " +
      "(blocks are 64 rows at n=1024; rows 100-200 overlap blocks 1-3)\n")

    sb.append("\n### 3. Aggregate pushdown: `agg(count(*), min(v), max(v))`\n\n```\n")
    sb.append(evidence(grid().agg("v" -> "min", "v" -> "max"),
      Seq("PushedAggregation", "Scan", "ReadSchema")))
    sb.append("\n```\n")

    sb.append("\n### 4. Grouped aggregate pushdown: `groupBy(i).count()`\n\n```\n")
    sb.append(evidence(grid(64, 4).groupBy("i").count(), Seq("PushedAggregation", "Scan")))
    sb.append("\n```\n")

    // runtime filtering needs a dim whose surviving keys are only known
    // at execution (a filter on a non-join column) — same recipe
    // GridSourceSpec pins: keys 5 and 999 live in blocks 0 and 62 of 64
    val dimDir = java.nio.file.Files.createTempDirectory("graft-pushdown-dim").toString
    val (rtLines, planned) = try {
      import spark.implicits._
      Seq((5L, "keep"), (999L, "keep"), (300L, "drop"), (700L, "drop"))
        .toDF("i", "tier").write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir)
        .filter(org.apache.spark.sql.functions.col("tier") === "keep")
      val joined = grid(1024, 64).join(dim, "i").select("i", "j")
      joined.collect()
      val rtLines = joined.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("RuntimeFilters") || l.contains("GridScan"))
        .map(_.trim).toSeq.distinct.take(4).mkString("\n")
      def gridScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          gridScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          gridScans(q.plan)
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.sources.GridScan] => Seq(b.inputRDD.getNumPartitions)
      }.flatten
      (rtLines, gridScans(joined.queryExecution.executedPlan))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dimDir))
    sb.append("\n### 5. Runtime filtering: join a filtered dim (surviving i-keys 5, 999) on `i`\n\n```\n")
    sb.append(rtLines)
    sb.append(s"\n```\n\nblocks physically planned after the runtime filter: " +
      s"${planned.mkString(",")} of 64 " +
      "(keys 5 and 999 fall in 2 of the 64 row blocks)\n")
    sb.append("\nThe write-side counterpart (`GridSinkProvider`: staged task files,\n" +
      "atomic two-phase driver commit, abort cleanup) is spec-verified in\n" +
      "`sources/GridSinkWriteSpec`.\n")

    java.nio.file.Files.writeString(
      java.nio.file.Path.of("docs/DSV2_PUSHDOWN.md"), sb.toString)
    println("wrote docs/DSV2_PUSHDOWN.md")
    spark.stop()
  }
}
