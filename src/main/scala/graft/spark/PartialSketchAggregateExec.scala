package graft.spark

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeSet, BindReferences, Expression, GenericInternalRow, NamedExpression,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{
  BlockingOperatorWithCodegen, CodegenSupport, PartitioningPreservingUnaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{ObjectAggregationMap, ObjectHashAggregateExec, SortBasedAggregator}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

import graft.spark.expressions.SketchAgg

/**
 * The map-side (Partial) phase of an aggregate made only of order-
 * independent sketch aggregates ([[SketchAgg]]s), grouped by nothing
 * or by one integral column, as a whole-stage codegen operator. Planned by
 * [[SketchAggregationStrategy]] in place of the partial
 * `ObjectHashAggregateExec`; the final phase is unchanged.
 *
 * Per row, the generated code finds the group's buffers in a primitive
 * open-addressing map from the key ([[SketchAggregationState]]) and makes
 * each aggregate's update calls on the codegen'd input values: no grouping
 * projection, no `UnsafeRow` key, no materialized input row. Past
 * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` groups a task
 * falls back the way `ObjectAggregationIterator` does: the map's buffers
 * are serialized into Spark's `SortBasedAggregator`, which takes the
 * remaining rows, so each group still leaves the task as one partial.
 * Output rows are the partial's: the key, then each serialized buffer.
 *
 * The aggregates are `CodegenFallback`s, which would keep the operator out
 * of whole-stage codegen, so they live in [[sketches]], which is not an
 * expression field. [[references]] and [[doCanonicalize]] cover them, so
 * `ReuseExchange` never takes one partial for another.
 */
case class PartialSketchAggregateExec(
    groupingExpressions: Seq[NamedExpression],
    sketches: PartialSketchAggregateExec.Sketches,
    resultExpressions: Seq[NamedExpression],
    child: SparkPlan)
    extends PartitioningPreservingUnaryExecNode with BlockingOperatorWithCodegen {

  private def aggregates: Seq[AggregateExpression] = sketches.aggregates

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)

  override def outputExpressions: Seq[NamedExpression] = resultExpressions

  override def references: AttributeSet =
    AttributeSet(groupingExpressions.flatMap(_.references) ++ aggregates.flatMap(_.references))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "numTasksFallBacked" -> SQLMetrics.createMetric(sparkContext, "number of sort fallback tasks"))

  /** The child columns the aggregates read, in child order: what a row
   * handed to the sort fallback holds. */
  private lazy val sortAttributes: Seq[Attribute] = {
    val read = AttributeSet(aggregates.flatMap(_.references))
    child.output.filter(read.contains)
  }

  /** The aggregate functions bound to `input`, each with its position as
   * its buffer offsets. */
  private def functions(input: Seq[Attribute]): Array[TypedImperativeAggregate[AnyRef]] =
    aggregates.zipWithIndex.map { case (ae, i) =>
      BindReferences.bindReference(ae.aggregateFunction: Expression, input)
        .asInstanceOf[TypedImperativeAggregate[AnyRef]]
        .withNewMutableAggBufferOffset(i).withNewInputAggBufferOffset(i)
        .asInstanceOf[TypedImperativeAggregate[AnyRef]]
    }.toArray

  /** One task's state; called in the task. */
  def createState(fallbackThreshold: Int): SketchAggregationState =
    new SketchAggregationState(
      functions(sortAttributes),
      groupingExpressions.headOption.map(_.dataType).orNull,
      groupingExpressions.map(_.toAttribute),
      DataTypeUtils.fromAttributes(sortAttributes),
      fallbackThreshold,
      longMetric("numOutputRows"), longMetric("spillSize"), longMetric("numTasksFallBacked"))

  override protected def doExecute(): RDD[InternalRow] = {
    val threshold = conf.objectAggSortBasedFallbackThreshold
    child.execute().mapPartitions { rows =>
      val state = createState(threshold)
      val toSortRow = UnsafeProjection.create(sortAttributes, child.output)
      val key = groupingExpressions.map(BindReferences.bindReference(_: Expression, child.output))
      rows.foreach(r => state.process(key.headOption.map(_.eval(r)).orNull, toSortRow(r)))
      state.result()
    }
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  @transient private var stateTerm: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val plan = ctx.addReferenceObj("plan", this)
    val threshold = conf.objectAggSortBasedFallbackThreshold
    stateTerm = ctx.addMutableState(classOf[SketchAggregationState].getName, "sketchState",
      v => s"$v = $plan.createState($threshold);", forceInline = true)
    val done = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "sketchAggDone")
    val out = ctx.addMutableState("scala.collection.Iterator", "sketchAggOut", forceInline = true)
    val doAggName = ctx.freshName("doSketchAggregate")
    val doAgg = ctx.addNewFunction(doAggName,
      s"""
         |private void $doAggName() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin)
    val row = ctx.freshName("sketchRow")
    s"""
       |if (!$done) {
       |  $done = true;
       |  $doAgg();
       |  $out = $stateTerm.result();
       |}
       |while ($out.hasNext()) {
       |  UnsafeRow $row = (UnsafeRow) $out.next();
       |  ${consume(ctx, null, row)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    ctx.currentVars = input
    val bufs = ctx.freshName("bufs")
    val base = ctx.freshName("base")
    val updates = functions(child.output).zipWithIndex.map { case (f, i) =>
      f.asInstanceOf[SketchAgg[_]].updateCode(s"$bufs[$base + $i]", f.children.map(_.genCode(ctx)))
    }
    val record = (s"Object[] $bufs = $stateTerm.buffers();" +: updates).mkString("\n")
    groupingExpressions match {
      case Seq() => s"final int $base = 0;\n$record"
      case Seq(g) =>
        val key = BindReferences.bindReference(g: Expression, child.output).genCode(ctx)
        val sortRow = GenerateUnsafeProjection.createCode(
          ctx, sortAttributes.map(BindReferences.bindReference(_: Expression, child.output)))
        s"""
           |${key.code}
           |int $base = ${key.isNull} ? $stateTerm.nullKeyBase() : $stateTerm.base((long) ${key.value});
           |if ($base >= 0) {
           |  $record
           |} else {
           |  ${sortRow.code}
           |  $stateTerm.addSortInput(${key.isNull}, (long) ${key.value}, ${sortRow.value});
           |}
         """.stripMargin
    }
  }

  override def simpleString(maxFields: Int): String = {
    val keys = truncatedString(groupingExpressions, "[", ", ", "]", maxFields)
    val functions = truncatedString(aggregates, "[", ", ", "]", maxFields)
    val out = truncatedString(output, "[", ", ", "]", maxFields)
    s"PartialSketchAggregate(keys=$keys, functions=$functions, output=$out)"
  }

  override protected def doCanonicalize(): SparkPlan =
    super.doCanonicalize().asInstanceOf[PartialSketchAggregateExec].copy(sketches =
      PartialSketchAggregateExec.Sketches(
        aggregates.map(QueryPlan.normalizeExpressions(_, child.output))))

  override protected def withNewChildInternal(newChild: SparkPlan): PartialSketchAggregateExec =
    copy(child = newChild)
}

object PartialSketchAggregateExec {

  /** The partial aggregate expressions, kept out of the node's expression
   * fields (see [[PartialSketchAggregateExec]]). */
  final case class Sketches(aggregates: Seq[AggregateExpression])

  /** The operator in place of a partial `ObjectHashAggregateExec`. */
  def apply(partial: ObjectHashAggregateExec): PartialSketchAggregateExec =
    PartialSketchAggregateExec(partial.groupingExpressions, Sketches(partial.aggregateExpressions),
      partial.resultExpressions, partial.child)
}

/**
 * One task's buffers for [[PartialSketchAggregateExec]]. Group `g`'s
 * buffers are `buffers()(g * n + i)` for aggregate `i`. Keys are integral
 * values widened to `long`; an open-addressing table of group numbers
 * finds them, and a null key has its own group. With no grouping there is
 * one group, made up front.
 *
 * A new key past `fallbackThreshold` groups moves every buffer, serialized,
 * into a `SortBasedAggregator`, as `ObjectAggregationIterator` does; from
 * then on [[base]] is -1 and rows go to [[addSortInput]].
 *
 * @param aggs the aggregate functions bound to the sort row, each with its
 *   position as its buffer offsets
 * @param keyType the grouping key's type, or null with no grouping
 */
final class SketchAggregationState(
    aggs: Array[TypedImperativeAggregate[AnyRef]],
    keyType: DataType,
    groupingAttributes: Seq[Attribute],
    sortSchema: StructType,
    fallbackThreshold: Int,
    numOutputRows: SQLMetric,
    spillSize: SQLMetric,
    numTasksFallBacked: SQLMetric) {

  private[this] val n = aggs.length
  private[this] var objects = new Array[AnyRef](16 * n)
  private[this] var keys = new Array[Long](16)
  private[this] var groups = 0
  private[this] var nullGroup = -1
  /** Group number + 1 per slot; 0 is empty. */
  private[this] var table = new Array[Int](32)
  private[this] var sorter: SortBasedAggregator = _
  private[this] val keyRow = {
    val r = new UnsafeRow(1)
    r.pointTo(new Array[Byte](16), 16)
    r
  }

  private[this] val spillBefore = TaskContext.get().taskMetrics().memoryBytesSpilled
  TaskContext.get().addTaskCompletionListener[Unit] { tc =>
    spillSize.add(tc.taskMetrics().memoryBytesSpilled - spillBefore)
  }

  if (keyType == null) newGroup(0L)

  /** The buffers; read after [[base]], which may replace the array. */
  def buffers(): Array[AnyRef] = objects

  /** Offset of `key`'s buffers, made for a new key; -1 once sort-based. */
  def base(key: Long): Int = {
    if (sorter != null) return -1
    val mask = table.length - 1
    var i = mix(key) & mask
    var g = table(i) - 1
    while (g >= 0) {
      if (keys(g) == key) return g * n
      i = (i + 1) & mask
      g = table(i) - 1
    }
    if (groups >= fallbackThreshold) { fallBack(); return -1 }
    g = newGroup(key)
    table(i) = g + 1
    if (2 * groups > mask) rehash()
    g * n
  }

  /** Offset of the null key's buffers; -1 once sort-based. */
  def nullKeyBase(): Int = {
    if (sorter != null) return -1
    if (nullGroup < 0) {
      if (groups >= fallbackThreshold) { fallBack(); return -1 }
      nullGroup = newGroup(0L)
    }
    nullGroup * n
  }

  /** A row for the sort-based aggregator: `row` holds the sort schema. */
  def addSortInput(keyIsNull: Boolean, key: Long, row: UnsafeRow): Unit =
    sorter.addInput(writeKey(keyRow, keyIsNull, key), row)

  /** The interpreted form of the generated per-row code. */
  def process(key: Any, row: UnsafeRow): Unit = {
    val k = if (key == null) 0L else key.asInstanceOf[Number].longValue
    val b = if (keyType == null) 0 else if (key == null) nullKeyBase() else base(k)
    if (b < 0) addSortInput(key == null, k, row)
    else {
      var i = 0
      while (i < n) { objects(b + i) = aggs(i).update(objects(b + i), row); i += 1 }
    }
  }

  /** The output rows (key, then each serialized buffer); call once, after
   * the last row. */
  def result(): Iterator[UnsafeRow] = {
    val types = Option(keyType).toSeq ++ Seq.fill(n)(BinaryType)
    val toRow = UnsafeProjection.create(types.toArray)
    val values = new Array[Any](types.length)
    val k0 = values.length - n
    def emit(key: UnsafeRow, buffer: Int => AnyRef): UnsafeRow = { // key: null without grouping
      if (keyType != null) values(0) = if (key.isNullAt(0)) null else key.get(0, keyType)
      var i = 0
      while (i < n) { values(k0 + i) = aggs(i).serialize(buffer(i)); i += 1 }
      numOutputRows.add(1)
      toRow(new GenericInternalRow(values))
    }
    if (sorter == null) {
      Iterator.range(0, groups).map { g =>
        val key = if (keyType == null) null else writeKey(keyRow, g == nullGroup, keys(g))
        emit(key, i => objects(g * n + i))
      }
    } else {
      val anyObject = ObjectType(classOf[AnyRef])
      sorter.destructiveIterator().map(e => emit(e.groupingKey, e.aggregationBuffer.get(_, anyObject)))
    }
  }

  private def newGroup(key: Long): Int = {
    if (groups == keys.length) {
      keys = java.util.Arrays.copyOf(keys, 2 * groups)
      objects = java.util.Arrays.copyOf(objects, 2 * groups * n)
    }
    keys(groups) = key
    var i = 0
    while (i < n) { objects(groups * n + i) = aggs(i).createAggregationBuffer(); i += 1 }
    groups += 1
    groups - 1
  }

  private def rehash(): Unit = {
    table = new Array[Int](2 * table.length)
    val mask = table.length - 1
    var g = 0
    while (g < groups) {
      if (g != nullGroup) {
        var i = mix(keys(g)) & mask
        while (table(i) != 0) i = (i + 1) & mask
        table(i) = g + 1
      }
      g += 1
    }
  }

  private def mix(key: Long): Int = {
    val h = key * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt
  }

  private def writeKey(row: UnsafeRow, isNull: Boolean, key: Long): UnsafeRow = {
    if (isNull) row.setNullAt(0)
    else keyType match {
      case LongType    => row.setLong(0, key)
      case IntegerType => row.setInt(0, key.toInt)
      case ShortType   => row.setShort(0, key.toShort)
      case ByteType    => row.setByte(0, key.toByte)
    }
    row
  }

  /** Serializes every buffer into an external sorter (the dump
   * `ObjectAggregationIterator` makes) and switches to sort-based
   * aggregation over it. */
  private def fallBack(): Unit = {
    val map = new ObjectAggregationMap
    var g = 0
    while (g < groups) {
      map.putAggregationBuffer(writeKey(keyRow, g == nullGroup, keys(g)).copy(),
        new GenericInternalRow(java.util.Arrays.copyOfRange(objects, g * n, g * n + n)
          .asInstanceOf[Array[Any]]))
      g += 1
    }
    objects = null
    sorter = new SortBasedAggregator(
      map.dumpToExternalSorter(groupingAttributes, aggs.toSeq).sortedIterator(),
      sortSchema,
      DataTypeUtils.fromAttributes(groupingAttributes),
      (buffer, input) => aggs.foreach(_.update(buffer, input)),
      (buffer, partial) => aggs.foreach(_.merge(buffer, partial)),
      {
        val buffer = new GenericInternalRow(n)
        aggs.foreach(_.initialize(buffer))
        buffer
      })
    numTasksFallBacked.add(1)
  }
}
