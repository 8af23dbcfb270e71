package graft.tools
import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev utility for the optimization rounds: dump `.explain("formatted")`
  * for named queries into `<dir>/<name>_<suffix>.txt` — the
  * before/after plan evidence files under plans/rNN/. Runs at the bench
  * scale factor and core count (sf0.1, local[32]) so Exchange counts and
  * join strategies match what the bench measures, and collects each
  * query first so AQE's final plan (not the initial one) is what lands
  * in the file.
  *
  * `sbt "Test/runMain graft.tools.ExplainDump plans/r11 before q103_mad_outliers ..."`
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <dir> <suffix> <query>...")
    val dir = java.nio.file.Path.of(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    java.nio.file.Files.createDirectories(dir)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, d)
      df.collect() // finalize AQE so the dumped plan is the executed one
      val txt = df.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(dir.resolve(s"${n}_$suffix.txt"), txt)
      println(s"[explain] wrote ${dir.resolve(s"${n}_$suffix.txt")}")
    }
    spark.stop()
  }
}
