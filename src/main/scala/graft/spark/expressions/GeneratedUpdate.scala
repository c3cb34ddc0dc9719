package graft.spark.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode

/**
 * A sketch aggregate whose per-row update [[graft.spark.PartialSketchAggregateExec]]
 * emits straight into its whole-stage loop. The generated statements make
 * the calls the aggregate's bound-ordinal `update` makes, with the same
 * null handling, on the buffer object the aggregate created.
 */
trait GeneratedUpdate {

  /** True when [[updateCode]] covers the children's input types; other
   * types keep the interpreted `update` (and its error for an unsupported
   * type). */
  def generatesUpdate: Boolean

  /** Java statements that record one row into `buffer`, a Java expression
   * of type `Object` holding this aggregate's buffer, from `in`, the
   * generated values of the children in order. */
  def updateCode(buffer: String, in: Seq[ExprCode]): String
}
