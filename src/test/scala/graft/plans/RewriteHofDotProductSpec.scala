package graft.plans

import graft.{SparkSpec, Tables}
import graft.operators.Ns
import org.apache.spark.sql.functions._

/** The optimizer rule must swap the portable HOF dot-product for the
  * native VecDot without changing a single bit of output.
  */
class RewriteHofDotProductSpec extends SparkSpec {

  test("rule rewrites aggregate(zip_with(...)) to vec_dot in the optimized plan") {
    GraftOptimizations.install(spark)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), expr(Ns.toDouble("embedding")).as("v"))
    val q = e.select(col("vec_id"), expr(Ns.hofDot("v", "v")).as("nsq"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vec_dot"), optimized)
    assert(!optimized.contains("aggregate("), optimized)
  }

  test("rewritten plan returns bit-identical results") {
    GraftOptimizations.install(spark)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), expr(Ns.toDouble("embedding")).as("v"))
    Ns.registerFast(spark)
    val viaRule = e.select(col("vec_id"), expr(Ns.hofDot("v", "v")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = e.select(col("vec_id"), expr(Ns.dot("v", "v")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaRule == native)
  }

  test("malformed inputs: ragged lengths and null elements yield NULL, matching the HOF") {
    GraftOptimizations.install(spark)
    graft.functions.GraftFunctions.register(spark)
    def frame(s: org.apache.spark.sql.SparkSession) = s.createDataFrame(Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),  // well-formed
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),       // ragged
      (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)), // null element
      (4L, null, Seq[java.lang.Double](3.0, 4.0))                              // null array
    )).toDF("id", "a", "b")
      .select(col("id"),
        expr("CAST(a AS ARRAY<DOUBLE>)").as("a"), expr("CAST(b AS ARRAY<DOUBLE>)").as("b"))
    val df = frame(spark)
    // the HOF itself, on a session without the rule
    val hof = frame(spark.newSession())
      .select(col("id"), expr(graft.operators.Ns.hofDot("a", "b")).as("x"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val native = df.select(col("id"), expr("vec_dot(a, b)").as("x"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(hof == native, s"hof=$hof native=$native")
    assert(native(1L) == 11.0)
    assert(native(2L) == null && native(3L) == null && native(4L) == null)
    // same contract for vec_l2sq
    val l2 = df.select(col("id"), expr("vec_l2sq(a, b)").as("x"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(l2(1L) == 8.0)
    assert(l2(2L) == null && l2(3L) == null && l2(4L) == null)
  }

  test("rule leaves non-dot-product aggregates alone") {
    GraftOptimizations.install(spark)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), expr(Ns.toDouble("embedding")).as("v"))
    // sum of absolute values — same shape, different lambda body
    val q = e.select(expr(
      "aggregate(zip_with(v, v, (x, y) -> abs(x)), CAST(0 AS DOUBLE), (acc, w) -> acc + w)").as("s"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("vec_dot"), optimized)
    assert(q.collect().forall(_.getDouble(0) > 0))
  }
}
