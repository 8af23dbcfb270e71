package graft.tools

import graft.{JobTrace, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Dev utility: the Spark jobs and stages each named query runs, collected
  * in a fresh session (cold session memo), attributed through `JobTrace`.
  * The schema memo in `Tables` is process-wide, so the first query that
  * reads a table also pays that table's one schema-inference job.
  * `sbt "Test/runMain graft.tools.QueryJobs d02_minhash_lsh d13_minhash_accuracy"`
  * (data from `SPARK_GRAFT_SF_DIR`, default the test suites' sf0.001).
  */
object QueryJobs {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", graft.SparkSpec.sf0001)
    for (q <- args) {
      val s = spark.newSession()
      val (_, t) = JobTrace.run(spark.sparkContext)(SparkEntry.queries(q)(s, d).collect())
      println(s"$q jobs=${t.jobs} stages=${t.stagesSubmitted} stages_per_job=${t.stagesPerJob.mkString(",")}")
    }
    spark.stop()
  }
}
