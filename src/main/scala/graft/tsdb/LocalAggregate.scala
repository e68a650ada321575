package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}

/** An ungrouped aggregate evaluated on the local JVM with Spark's own
  * [[DeclarativeAggregate]] expressions: the initial, update and evaluate
  * expressions Spark's aggregate operators run, through interpreted
  * projections. Float ordering (NaN greatest, -0.0 = 0.0), infinities and
  * overflow therefore follow Spark's semantics exactly — there is no
  * second, hand-written fold of min/max/sum.
  *
  * Built from an analyzed `Aggregate` with no grouping whose child is a
  * chain of `Project`s over a leaf; rows are fed in the leaf's schema and
  * pass through the projections before the update. Serializable: the
  * segment writer ships one to every write task.
  */
private[graft] final class LocalAggregate private (
    leaf: Seq[Attribute], projections: Seq[(Seq[NamedExpression], Seq[Attribute])],
    results: Seq[NamedExpression]) extends Serializable {

  private val aggregates: Seq[AggregateExpression] =
    results.flatMap(_.collect { case a: AggregateExpression => a })
  aggregates.foreach(a => require(a.mode == Complete && !a.isDistinct &&
    a.filter.isEmpty && a.aggregateFunction.isInstanceOf[DeclarativeAggregate],
    s"LocalAggregate evaluates plain declarative aggregates only, not $a."))
  private val functions =
    aggregates.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
  private val bufferAttrs = functions.flatMap(_.aggBufferAttributes)
  private val input = projections.lastOption.fold(leaf)(_._1.map(_.toAttribute))

  @transient private lazy val project = projections.map { case (list, in) =>
    new InterpretedMutableProjection(list, in)
  }
  @transient private lazy val init =
    new InterpretedMutableProjection(functions.flatMap(_.initialValues))
  @transient private lazy val updater = new InterpretedMutableProjection(
    functions.flatMap(_.updateExpressions), bufferAttrs ++ input)
  @transient private lazy val evaluator = new InterpretedMutableProjection(
    functions.map(_.evaluateExpression), bufferAttrs)
  @transient private lazy val resulter = new InterpretedMutableProjection(
    results.map(_.transform { case a: AggregateExpression => a.resultAttribute }),
    aggregates.map(_.resultAttribute))

  /** A buffer holding every aggregate's initial value. */
  def newBuffer(): InternalRow = {
    val buffer = new GenericInternalRow(bufferAttrs.length)
    init.target(buffer)(InternalRow.empty)
    buffer
  }

  /** Fold one leaf row into `buffer`. The projected row is copied, so a
    * string the buffer keeps never aliases a reused input row.
    */
  def update(buffer: InternalRow, row: InternalRow): Unit = {
    val projected = project.foldLeft(row)((r, p) => p(r)).copy()
    updater.target(buffer)(new JoinedRow(buffer, projected))
  }

  /** The aggregate's result row (its `results`, in order). */
  def result(buffer: InternalRow): InternalRow =
    resulter(evaluator(buffer)).copy()
}

private[graft] object LocalAggregate {

  /** The evaluator of an analyzed, ungrouped `Aggregate` over a chain of
    * `Project`s over a leaf.
    */
  def apply(plan: LogicalPlan): LocalAggregate = plan match {
    case Aggregate(Nil, results, child, _) =>
      val (leaf, projections) = unwind(child)
      new LocalAggregate(leaf.output, projections, results)
    case other => throw new IllegalArgumentException(
      s"Not an ungrouped aggregate: ${other.nodeName}")
  }

  private def unwind(plan: LogicalPlan):
      (LogicalPlan, Seq[(Seq[NamedExpression], Seq[Attribute])]) = plan match {
    case Project(list, child) =>
      val (leaf, below) = unwind(child)
      (leaf, below :+ (list -> child.output))
    case leaf if leaf.children.isEmpty => (leaf, Seq.empty)
    case other => throw new IllegalArgumentException(
      s"LocalAggregate reads projections over a leaf, not ${other.nodeName}")
  }

  /** `df` answered on the driver: its analyzed plan, an ungrouped aggregate
    * over projections of a `LocalRelation` under further projections,
    * becomes a `LocalRelation` of the one answer row with the same output
    * attributes. Collecting the result starts no Spark job.
    */
  def collapse(df: DataFrame): DataFrame = {
    def eval(plan: LogicalPlan): Seq[InternalRow] = plan match {
      case Project(list, child) =>
        val p = new InterpretedMutableProjection(list, child.output)
        eval(child).map(r => p(r).copy())
      case a: Aggregate =>
        val (leaf, _) = unwind(a.child)
        val rows = leaf match {
          case l: LocalRelation => l.data
          case other => throw new IllegalArgumentException(
            s"LocalAggregate.collapse reads a LocalRelation, not ${other.nodeName}")
        }
        val agg = LocalAggregate(a)
        val buffer = agg.newBuffer()
        rows.foreach(agg.update(buffer, _))
        Seq(agg.result(buffer))
      case other => throw new IllegalArgumentException(
        s"LocalAggregate.collapse reads projections of an aggregate, not ${other.nodeName}")
    }
    val plan = df.queryExecution.analyzed
    org.apache.spark.sql.graft.PlanBridge.ofRows(df.sparkSession,
      LocalRelation(plan.output, eval(plan)))
  }
}
