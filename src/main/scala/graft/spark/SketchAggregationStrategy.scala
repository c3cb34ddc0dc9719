package graft.spark

import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.{AggUtils, ObjectHashAggregateExec}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.spark.expressions.SketchAgg

/**
 * Plans the map-side phase of a batch aggregate onto the codegen'd
 * [[PartialSketchAggregateExec]] when every aggregate is an order-
 * independent [[SketchAgg]] with a generated update
 * ([[SketchAgg.generatesUpdate]]: `hist_sketch` (which `hist_sketch_packed`
 * also builds) and `hist_sketch_weighted`, `hll_sketch`, `cms_sketch`,
 * `cms_sketch_weighted`, `bloom_sketch`) with no DISTINCT or FILTER and with
 * column inputs (what [[PullOutSketchInputs]] leaves), and the grouping is
 * empty or one integral column. The plan is Spark's own two-phase plan
 * (`AggUtils.planAggregateWithoutDistinct`) with only the partial
 * `ObjectHashAggregateExec` swapped; anything else, streaming included,
 * goes to Spark's strategies as before. T-digest and KLL are not eligible:
 * their bytes depend on the order partials merge in, so an aggregate
 * holding one keeps Spark's plan whole.
 *
 * [[PullOutSketchInputs.install]] adds it to a session.
 */
object SketchAggregationStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(grouping, aggregates, results, child)
        if !plan.isStreaming && eligibleKeys(grouping) && aggregates.forall(eligible) =>
      AggUtils.planAggregateWithoutDistinct(grouping, aggregates, results, planLater(child)) match {
        case Seq(last: ObjectHashAggregateExec) => last.child match {
          case partial: ObjectHashAggregateExec =>
            Seq(last.withNewChildren(Seq(PartialSketchAggregateExec(partial))))
          case _ => Nil
        }
        case _ => Nil
      }
    case _ => Nil
  }

  private def eligibleKeys(grouping: Seq[NamedExpression]): Boolean = grouping match {
    case Seq() => true
    case Seq(a: Attribute) => a.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    case _ => false
  }

  private def eligible(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case f: SketchAgg[_] => f.generatesUpdate && f.children.forall(_.isInstanceOf[Attribute])
      case _ => false
    })
}
