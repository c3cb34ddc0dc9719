package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Checks that the SparkEntry query sink keeps every aggregate and UDF of each
 * query's full plan, and reports which of them `.count()` would prune.
 * Prints one JSON object: {query: {"full": n, "sink_lost": [...],
 * "count_lost": [...]}}.
 *
 * Usage: perfbench.PlanCheck --data DIR --work DIR --queries q01,q02,...
 */
object PlanCheck {
  /** Aggregate functions, UDFs and library expressions in a plan, by name. */
  def functions(plan: LogicalPlan): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def visit(e: Expression): Unit = e.foreach {
      case a: AggregateFunction => out += a.getClass.getName + ":" + a.toString.takeWhile(_ != '(')
      case u: ScalaUDF => out += "udf:" + u.udfName.getOrElse(u.function.getClass.getName)
      case x if x.getClass.getName.startsWith("graft.") => out += x.getClass.getName
      case _ =>
    }
    plan.foreach(_.expressions.foreach(visit))
    out.toSeq.sorted
  }

  /** Multiset difference: what `have` lacks of `want`. */
  def lost(want: Seq[String], have: Seq[String]): Seq[String] = {
    val left = mutable.Map.empty[String, Int].withDefaultValue(0)
    have.foreach(h => left(h) += 1)
    want.filter { w => if (left(w) > 0) { left(w) -= 1; false } else true }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Main.session(s"local[$nproc]", nproc)
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def lastPlan(run: => Unit): LogicalPlan = {
      plans.synchronized(plans.clear())
      run
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      plans.synchronized(plans.last.optimizedPlan)
    }
    val report = a("queries").split(",").toSeq.map { q =>
      val df: DataFrame = graft.SparkEntry.queries(q)(spark, a("data"))
      val full = functions(df.queryExecution.optimizedPlan)
      val sink = functions(lastPlan(Layers.sink(df, s"${a("work")}/plancheck/$q")))
      val counted = functions(df.groupBy().count().queryExecution.optimizedPlan)
      q -> Json.obj(Seq(
        "full" -> full.size.toString,
        "sink_lost" -> Json.arr(lost(full, sink).map(Json.str)),
        "count_lost" -> Json.arr(lost(full, counted).map(Json.str))))
    }
    println(Json.obj(report))
    spark.stop()
  }
}
