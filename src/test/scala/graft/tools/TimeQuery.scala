package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev utility: time named queries in isolation, 3 runs each, at sf0.1 —
  * separates first-run plan/codegen cost from steady-state execution.
  * `sbt "Test/runMain graft.tools.TimeQuery c01_kmeans g01_pagerank"`
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (q <- args; i <- 1 to 3) {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, d).count()
      println(f"$q run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
