package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EvalMode,
  Expression, ExpressionInfo, InterpretedOrdering, Literal, UnscaledValue, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE_EXPRESSION, SORT}
import org.apache.spark.sql.types.{Decimal, DecimalType, IntegerType}

import graft.functions.{ExactSum, HashExprs, TextExprs, VectorExprs}

/** SQL front door for the engine's native Catalyst expressions: registered
  * through `SparkSessionExtensions` (`spark.sql.extensions` — wired in
  * [[Session.confFor]]), so `spark.sql("SELECT fnv1a64(text) ...")` plans
  * the SAME expression node as the DataFrame API's column helpers. This is
  * the injection point Spark provides for engine extensions; per-session
  * `udf.register` would wrap rows through Scala closures instead of
  * planning the native expression.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // whole-operator tier: the native as-of and keyed range joins'
    // planner strategies (IntervalNative serves point-in-interval joins
    // too, with the point as both left bounds)
    ext.injectPlannerStrategy(_ => graft.plans.AsofNative.Strategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalNative.Strategy)
    ext.injectOptimizerRule(_ => GraftExtensions.SortLocalRelation)
    ext.injectOptimizerRule(_ => GraftExtensions.LongDecimalSum)
  }
}

object GraftExtensions {

  /** An ORDER BY over rows already on the driver sorts them there. Spark
    * plans a global sort as a range shuffle, which samples its input in
    * jobs of its own even when the input is a `LocalRelation` of a few
    * rows, such as a dimension ranked on the driver
    * ([[graft.plans.IdaMart]]) whose projections `ConvertToLocalRelation`
    * has already folded in. This rule sorts the relation's rows with
    * Spark's own `InterpretedOrdering`, so the result equals the range
    * sort's, and its collect starts no job. Sort keys that are
    * nondeterministic or cannot be evaluated on the driver leave the plan
    * as it is, and so does every other plan. */
  object SortLocalRelation extends Rule[LogicalPlan] {
    private def driverEvaluable(e: Expression): Boolean = e.deterministic &&
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformUpWithPruning(_.containsPattern(SORT)) {
        case Sort(order, true, rel @ LocalRelation(output, data, false, _), _)
            if order.forall(o => driverEvaluable(o.child)) =>
          rel.copy(data = data.sorted(new InterpretedOrdering(order, output)))
      }
  }

  /** A non-DISTINCT, non-ANSI SUM over DECIMAL(p, s) with 8 < p ≤ 18, in an
    * `Aggregate` or a `Window`, sums on two primitive longs
    * ([[graft.functions.ExactSum.LongPairSum]] over the column's unscaled
    * value) instead of one `BigDecimal` add per row. The result type,
    * nullability, null semantics and exact value stay Spark's; so do the
    * aggregate's `FILTER` and its result attribute. p ≤ 8 is left to
    * Spark's own `DecimalAggregates` (one long; it runs after this rule),
    * and p ≥ 19 has no unscaled long. So `Fns.sumExact`'s DECIMAL(18,6)
    * sums, and every SQL `SUM(CAST(x AS DECIMAL(18,6)))`, take this path. */
  object LongDecimalSum extends Rule[LogicalPlan] {
    // Spark's rule takes p + 10 <= MAX_LONG_DIGITS: there the sum fits one long
    private val OneLongMax = Decimal.MAX_LONG_DIGITS - 10

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressionsWithPruning(_.containsPattern(AGGREGATE_EXPRESSION)) {
        case ae @ AggregateExpression(sum @ Sum(e, ctx), _, false, _, _)
            if ctx.evalMode == EvalMode.LEGACY && (e.dataType match {
              case d: DecimalType =>
                d.precision > OneLongMax && d.precision <= Decimal.MAX_LONG_DIGITS
              case _ => false
            }) =>
          ae.copy(aggregateFunction = ExactSum.LongPairSum(UnscaledValue(e),
            sum.dataType.asInstanceOf[DecimalType]))
      }
  }

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: expected an integer literal parameter, got $other")
  }

  private def arity(es: Seq[Expression], n: Int, fn: String): Unit =
    require(es.length == n, s"$fn expects $n arguments, got ${es.length}")

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  /** (identifier, info, builder) triples for every injectable native
    * expression. Parameterized ones (shingle width, signature lanes) take
    * the parameter as an integer literal argument. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("fnv1a64"), info("fnv1a64"),
      (es: Seq[Expression]) => { arity(es, 1, "fnv1a64")
        HashExprs.Fnv1a64(es.head) }),
    (FunctionIdentifier("simhash64"), info("simhash64"),
      (es: Seq[Expression]) => { arity(es, 1, "simhash64")
        HashExprs.SimHash64(es.head) }),
    (FunctionIdentifier("minhash_sig"), info("minhash_sig"),
      (es: Seq[Expression]) => { arity(es, 2, "minhash_sig")
        HashExprs.MinHashSig(es.head, intLit(es(1), "minhash_sig")) }),
    (FunctionIdentifier("word_shingles"), info("word_shingles"),
      (es: Seq[Expression]) => { arity(es, 2, "word_shingles")
        TextExprs.WordShingles(es.head, intLit(es(1), "word_shingles")) }),
    (FunctionIdentifier("char_shingles"), info("char_shingles"),
      (es: Seq[Expression]) => { arity(es, 2, "char_shingles")
        TextExprs.CharShingles(es.head, intLit(es(1), "char_shingles")) }),
    (FunctionIdentifier("jaccard_sim"), info("jaccard_sim"),
      (es: Seq[Expression]) => { arity(es, 2, "jaccard_sim")
        TextExprs.JaccardSim(es.head, es(1)) }),
    (FunctionIdentifier("dot_product"), info("dot_product"),
      (es: Seq[Expression]) => { arity(es, 2, "dot_product")
        VectorExprs.DotProduct(es.head, es(1)) }),
    (FunctionIdentifier("cosine_sim"), info("cosine_sim"),
      (es: Seq[Expression]) => { arity(es, 2, "cosine_sim")
        VectorExprs.CosineSim(es.head, es(1)) }),
    (FunctionIdentifier("nfc"), info("nfc"),
      (es: Seq[Expression]) => { arity(es, 1, "nfc")
        graft.functions.UnicodeFns.NfcNormalize(es.head) }),
    (FunctionIdentifier("strip_accents"), info("strip_accents"),
      (es: Seq[Expression]) => { arity(es, 1, "strip_accents")
        graft.functions.UnicodeFns.StripAccents(es.head) }),
    (FunctionIdentifier("bpe_count"), info("bpe_count"),
      (es: Seq[Expression]) => { arity(es, 1, "bpe_count")
        graft.functions.Bpe.BpeCount(es.head, graft.functions.Bpe.merges) }))
}
