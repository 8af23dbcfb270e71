package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.Ns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The native codegen vector expressions must be BIT-identical to the
  * pure-built-in higher-order-function spellings (same fold order), on
  * real embedding data — this is what keeps the DuckDB oracles valid.
  */
class VectorFunctionsSpec extends SparkSpec {

  test("vec_dot == aggregate(zip_with(...)) bit-for-bit on all pairs") {
    Ns.registerFast(spark)
    // The HOF side runs on a session with nothing registered: on the
    // shared session RewriteHofDotProduct would turn it into vec_dot and
    // the test would compare vec_dot with itself.
    val plain = spark.newSession()
    def pairs(s: SparkSession, dot: String): DataFrame = {
      val e = Tables.embeddings(s, sf0001)
        .select(col("vec_id"), expr(Ns.toDouble("embedding")).as("v"))
      e.select(col("vec_id").as("ia"), col("v").as("va"))
        .join(e.select(col("vec_id").as("ib"), col("v").as("vb")), col("ia") < col("ib"))
        .select(col("ia"), col("ib"), expr(dot).as("d"))
    }
    def bits(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))))).toSet
    val slow = pairs(plain, Ns.hofDot("va", "vb"))
    val slowPlan = slow.queryExecution.optimizedPlan.toString
    assert(slowPlan.contains("aggregate(") && !slowPlan.contains("vec_dot"), slowPlan)
    val fast = bits(pairs(spark, Ns.dot("va", "vb")))
    assert(fast.nonEmpty)
    assert(fast === bits(slow))
  }

  test("vec_l2sq == HOF squared-distance bit-for-bit") {
    Ns.registerFast(spark)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), expr(Ns.toDouble("embedding")).as("v"))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"))
    val mismatches = a.join(b, col("ia") < col("ib"))
      .select(expr(Ns.l2sq("va", "vb")).as("fast"),
        expr("aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("null inputs propagate null") {
    Ns.registerFast(spark)
    val r = spark.sql(
      "SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS a, " +
        "vec_l2sq(array(1.0d), CAST(NULL AS ARRAY<DOUBLE>)) AS b").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("vec_eq_count == aggregate(zip_with(CASE x = y)) incl. ragged/null edges") {
    Ns.registerFast(spark)
    // the exact interpreted spelling vec_eq_count replaced on the
    // minhash paths, over every edge the old fold had semantics for:
    // equal/unequal lengths, null elements, null arrays
    val rows = spark.sql("""
      SELECT fast, slow FROM (
        SELECT vec_eq_count(a, b) AS fast,
               aggregate(zip_with(a, b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
                         0, (acc, x) -> acc + x) AS slow
        FROM VALUES
          (array(1L, 2L, 3L), array(1L, 9L, 3L)),
          (array(1L, 2L),     array(1L, 2L, 3L)),
          (array(1L, 2L, 3L), array(1L)),
          (array(1L, NULL, 3L), array(1L, NULL, 3L)),
          (CAST(NULL AS ARRAY<BIGINT>), array(1L)),
          (array(), array())
          AS t(a, b))""").collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getInt(0) === r.getInt(1), r.toString)
    }
    // and on real 64-lane signature-shaped data: md5-derived long lanes
    // with planted collisions (id div 3 ties), all pairs of 200 rows
    val sig = spark.range(200).selectExpr("id AS doc_id",
      "transform(sequence(1, 64), k -> CAST(conv(substr(md5(concat(CAST(id div 3 AS STRING), ':', CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT)) AS sigv")
    val a = sig.select(col("doc_id").as("ia"), col("sigv").as("sa"))
    val b = sig.select(col("doc_id").as("ib"), col("sigv").as("sb"))
    val mism = a.join(b, col("ia") < col("ib"))
      .select(expr("vec_eq_count(sa, sb)").as("fast"),
        expr("aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, x) -> acc + x)").as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(mism == 0)
  }
}
