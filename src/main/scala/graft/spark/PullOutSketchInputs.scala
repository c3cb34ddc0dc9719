package graft.spark

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, Expression, Length, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType

import graft.spark.expressions.{SketchAgg, SketchScalar}

/**
 * Optimizer rule that evaluates each computed sketch input once per row, in
 * a `Project` under the `Aggregate` (the shape of Spark's
 * `PullOutGroupingExpressions`).
 *
 * A sketch aggregate's `update` reads a plain input column unboxed from its
 * bound ordinal, but a computed input such as `cast(length(text) as double)`
 * is evaluated interpretively by every aggregate that takes it, boxing the
 * result each time. For every native sketch aggregate without `FILTER` or
 * `DISTINCT`, this rule moves each deterministic, non-foldable, non-attribute
 * child into a `Project` below the `Aggregate`; semantically equal inputs
 * share one alias. The Project runs in whole-stage codegen and the
 * aggregates read its output column on their unboxed path.
 *
 * Inside a pulled-out input, every `length(s)` of a UTF8_BINARY string is
 * counted by the native `char_count` ([[SketchScalar.CharCount]]): an ASCII
 * string's character count is its byte count, found by an eight-bytes-at-a-
 * time scan, where Spark's `numChars` walks the UTF-8 one byte at a time
 * (and its per-object cache never hits on the fresh string a Parquet reader
 * hands out each row). The count is Spark's for every input; binary and
 * collated `length` stay as they are.
 *
 * `FILTER` aggregates keep their inputs: a Project would evaluate the input
 * on rows the filter skips, which can throw (an ANSI cast) where the
 * unrewritten plan does not. `DISTINCT` aggregates and nondeterministic
 * inputs (which the analyzer rejects as aggregate arguments today) stay
 * put too.
 *
 * [[install]] appends the rule to the session's "User Provided Optimizers"
 * batch, which runs after the last `CollapseProject` (an operator-
 * optimization rule could see a single-use alias inlined straight back into
 * the aggregate). It also adds [[SketchAggregationStrategy]], which plans
 * the map-side phase of the aggregates this rule leaves with column inputs
 * onto a codegen'd operator.
 */
object PullOutSketchInputs extends Rule[LogicalPlan] {

  /** Adds the rule to `spark`'s extra optimizations and
   * [[SketchAggregationStrategy]] to its extra strategies, each once; a
   * no-op for what is already there or when the session is not a classic
   * (in-JVM) one. */
  def install(spark: SparkSession): Unit = spark match {
    case s: classic.SparkSession =>
      val methods = s.experimental
      methods.synchronized {
        if (!methods.extraOptimizations.contains(this)) {
          methods.extraOptimizations = methods.extraOptimizations :+ this
        }
        if (!methods.extraStrategies.contains(SketchAggregationStrategy)) {
          methods.extraStrategies = methods.extraStrategies :+ SketchAggregationStrategy
        }
      }
    case _ =>
  }

  /** DSL column of a sketch aggregate; installs the rule on the active
   * session first (none active: the plan is left as built). */
  private[spark] def column(f: AggregateFunction): Column = {
    classic.SparkSession.getActiveSession.foreach(install)
    ColumnBridge.column(f.toAggregateExpression())
  }

  private def pullable(e: Expression): Boolean =
    e.deterministic && !e.foldable && !e.isInstanceOf[Attribute]

  private def countChars(e: Expression): Expression = e.transformUp {
    case Length(s) if s.dataType == StringType => SketchScalar(SketchScalar.CharCount, Seq(s))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a: Aggregate => pullOut(a)
  }

  private def pullOut(a: Aggregate): Aggregate = {
    val inputs = mutable.LinkedHashMap.empty[Expression, Alias]
    val aggregates = a.aggregateExpressions.map(_.transformDown {
      case ae @ AggregateExpression(f, _, false, None, _)
          if f.isInstanceOf[SketchAgg[_]] && f.children.exists(pullable) =>
        ae.copy(aggregateFunction = f.withNewChildren(f.children.map { c =>
          if (!pullable(c)) c
          else inputs.getOrElseUpdate(c.canonicalized, Alias(countChars(c), "_in")())
            .toAttribute
        }).asInstanceOf[AggregateFunction])
    }.asInstanceOf[NamedExpression])
    if (inputs.isEmpty) a
    else {
      val rewritten = a.copy(aggregateExpressions = aggregates)
      val kept = a.child.output.filter(rewritten.references.contains)
      rewritten.copy(child = Project(kept ++ inputs.values, a.child))
    }
  }
}
