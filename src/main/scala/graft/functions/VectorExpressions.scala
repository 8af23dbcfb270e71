package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native (whole-stage-codegen) dot product over two ArrayType(Double)
  * columns.
  *
  * Semantics are EXACTLY the sequential left fold
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,x) -> acc+x)` —
  * 0-init, left-to-right, one IEEE add per element — so results are
  * bit-identical to the interpreted higher-order-function spelling (and
  * to the DuckDB `list_reduce` oracle in [[graft.operators.Ns]]), while
  * running inside WholeStageCodegen instead of per-element lambda
  * interpretation (~10x on the all-pairs similarity queries).
  *
  * Null semantics match the HOF spelling too: unequal lengths (zip_with
  * null-pads, and any null product nulls the fold) or a null element
  * yield NULL — so [[graft.plans.RewriteHofDotProduct]] is a pure
  * speedup, never a semantics change, even on malformed inputs.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged/null-element inputs -> NULL
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        final int $n = $a.numElements();
        double $acc = 0.0;
        ${ev.isNull} = ($n != $b.numElements());
        for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
          else { $acc += $a.getDouble($i) * $b.getDouble($i); }
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance with the same sequential-fold bit-semantics as
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0d, (acc,x) -> acc+x)`.
  */
case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_l2sq requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged/null-element inputs -> NULL
  override def prettyName: String = "vec_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val dv = x.getDouble(i) - y.getDouble(i)
      acc += dv * dv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val dv = ctx.freshName("dv")
      s"""
        final int $n = $a.numElements();
        double $acc = 0.0;
        ${ev.isNull} = ($n != $b.numElements());
        for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
          else {
            final double $dv = $a.getDouble($i) - $b.getDouble($i);
            $acc += $dv * $dv;
          }
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Count of positions where two ArrayType(Long) columns hold equal
  * values, inside WholeStageCodegen — the minhash signature-agreement
  * kernel (`est_jaccard = vec_eq_count(sa, sb) / K`).
  *
  * Semantics are EXACTLY the interpreted spelling it replaces,
  * `aggregate(zip_with(a, b, (x,y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
  * 0, (acc,x) -> acc+x)`, including the edges: ragged inputs zip_with
  * null-pads and `null = x` is CASE-ELSE 0, so positions past the
  * shorter array (and null elements) count 0 and the result is only
  * NULL when an input array itself is NULL. The old fold ran TWO
  * interpreted lambdas per element per candidate PAIR on the minhash
  * paths (guide §4's per-row cost exactly where the pair join makes
  * rows quadratic-ish in the band width).
  */
case class VecEqCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_eq_count requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true // null ARRAY input -> NULL
  override def prettyName: String = "vec_eq_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) acc += 1
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        int $acc = 0;
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
              $a.getLong($i) == $b.getLong($i)) { $acc++; }
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecEqCount =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  /** The one function registry, (name, expression class, builder):
    * [[register]] and [[GraftExtensions]] both install exactly these.
    */
  private[functions] val fns: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], exprs => VecDot(exprs(0), exprs(1))),
    ("vec_l2sq", classOf[VecL2Sq], exprs => VecL2Sq(exprs(0), exprs(1))),
    ("vec_eq_count", classOf[VecEqCount], exprs => VecEqCount(exprs(0), exprs(1))),
    ("char_hist16", classOf[CharHist16], exprs => CharHist16(exprs(0))),
    ("topk_structs", classOf[TopKStructAgg], exprs => TopKStructAgg(exprs(0), exprs(1)).toAggregateExpression()),
    ("vec_moments", classOf[DecimalMomentsAgg], exprs => DecimalMomentsAgg(exprs(0)).toAggregateExpression()),
    // Spark's runtime-filter bloom machinery (InjectRuntimeFilter's
    // BloomFilterAggregate / BloomFilterMightContain) exposed as
    // user-facing functions: build ONCE over xxhash64 keys, persist the
    // ~KB binary sketch, probe any table against it. Not in the public
    // FunctionRegistry as of Spark 4.1 — this surfaces the existing,
    // deterministic (fixed-seed) implementation, no re-implementation.
    ("graft_bloom_agg", classOf[BloomFilterAggregate],
      exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)).toAggregateExpression()),
    ("graft_bloom_might_contain", classOf[BloomFilterMightContain], exprs => BloomFilterMightContain(exprs(0), exprs(1))),
    ("word_ngrams", classOf[WordNGrams], exprs => WordNGrams(exprs(0), exprs(1))),
    ("cdc_chunks", classOf[CdcChunks], exprs => CdcChunks(exprs(0), exprs(1), exprs(2))),
    ("ssim_pairs", classOf[SsimPairs], exprs => SsimPairs(exprs(0))),
    ("graft_normalize", classOf[NormalizeText], exprs => NormalizeText(exprs(0), exprs(1)))
  )

  /** Imperative registration for sessions created without extensions
    * (`graft.Bench` and `graft.Verify` build plain ones). Idempotent: a name
    * already registered to its graft class is left alone, so a repeat
    * call replaces nothing (Spark logs a WARN per replaced function).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.lookupFunction(id).exists(_.getClassName == cls.getName))
        reg.registerFunction(id, new ExpressionInfo(cls.getName, name), builder)
    }
    // the full graft fast path, as GraftExtensions installs it: HOF dot
    // products run as vec_dot, and rank-limit queries get the sort-free
    // per-key top-k operator
    graft.plans.GraftOptimizations.install(spark)
    graft.plans.GraftStrategies.install(spark)
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` registration
  * path for clusters configured declaratively.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.RewriteHofDotProduct)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}
