package org.apache.spark.sql.graft

import graft.SparkSpec
import graft.functions.{GraftExtensions, GraftFunctions, VecDot}
import graft.plans.{RewriteHofDotProduct, TopKPerKeyStrategy}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Checks that read Spark state visible only inside `org.apache.spark`:
  * the context's listener bus and what a `SparkSessionExtensions`
  * builds.
  */
class SparkInternalsSpec extends SparkSpec {

  test("fresh memo sessions leave no listener behind") {
    val sc = spark.sparkContext
    def pass(): Int = {
      val s = spark.newSession()
      Seq("d02_minhash_lsh", "d13_minhash_accuracy")
        .foreach(q => graft.SparkEntry.queries(q)(s, sf0001).collect())
      sc.listenerBus.listeners.size
    }
    val first = pass()
    pass()
    assert(pass() === first)
  }

  test("both install paths register all functions and rules") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val before = registry.listFunction().map(_.funcName).toSet
    GraftFunctions.register(s)
    val imperative = registry.listFunction().map(_.funcName).toSet -- before
    // a repeat call replaces nothing: every registration is the same object
    val infos = imperative.toSeq.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    GraftFunctions.register(s)
    assert(imperative.toSeq.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
      .zip(infos).forall { case (a, b) => a eq b }, "a repeat call re-registered a function")
    assert(registry.lookupFunction(FunctionIdentifier("vec_dot")).map(_.getClassName) ===
      Some(classOf[VecDot].getName))
    assert(s.experimental.extraOptimizations.contains(RewriteHofDotProduct))
    assert(s.experimental.extraStrategies.contains(TopKPerKeyStrategy))

    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = ext.registerFunctions(new SimpleFunctionRegistry)
    val declarative = injected.listFunction().map(_.funcName).toSet
    assert(declarative === imperative)
    // each function names its own expression class, as DESCRIBE FUNCTION shows it
    assert(injected.lookupFunction(FunctionIdentifier("vec_dot")).map(_.getClassName) ===
      Some(classOf[VecDot].getName))
    assert(declarative.contains("topk_structs"))
    assert(ext.buildOptimizerRules(s) === Seq(RewriteHofDotProduct))
    assert(ext.buildPlannerStrategies(s) === Seq(TopKPerKeyStrategy))
  }
}
