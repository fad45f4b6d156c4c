package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.util.collection.ExternalSorter

/** One keyed grouping: the rows of `child` that share `keys`, handed to
  * `fn` group by group, one partition at a time. `fn` gets an iterator of
  * (key row, the group's rows in `child.output` order) and returns rows in
  * `output` order. The group rows are distinct objects, so `fn` may hold
  * them; the key row is reused from group to group, and `fn` must not
  * hold the rows it returns past the next call.
  *
  * Keys group the way SQL GROUP BY does: NULL keys form one group. `fn`
  * reads every child column, so no column is pruned below the node. Its
  * output attributes are its own, like a relation's: a self-join gives
  * one side fresh ones (`newInstance`). */
case class GroupRows(keys: Seq[Attribute], output: Seq[Attribute], fn: GroupRows.Fn,
                     child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = child.outputSet
  override def newInstance(): GroupRows = copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(c: LogicalPlan): GroupRows = copy(child = c)
}

object GroupRows {
  type Fn = Iterator[(InternalRow, Iterator[InternalRow])] => Iterator[InternalRow]

  /** Add [[GroupRowsStrategy]] to `session`'s planner; a no-op where it
    * is there already. [[Bridge.groupRows]], which builds every node,
    * calls it. */
  def ensurePlanned(session: org.apache.spark.sql.SparkSession): Unit = {
    val s = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.sessionState.planner.strategies.contains(GroupRowsStrategy))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ GroupRowsStrategy
  }
}

/** Plans [[GroupRows]] as [[GroupRowsExec]]. */
object GroupRowsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupRows(keys, output, fn, child) => GroupRowsExec(keys, output, fn, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** [[GroupRows]] over a child clustered on `keys`. The planner puts the
  * one exchange it needs below the node, and none where the child is
  * already clustered (a bucketed scan). Each task sorts its rows on the
  * keys with Spark's `ExternalSorter`: on-heap buffers sized to the rows,
  * spilled to disk through the task's memory manager, no fixed Tungsten
  * page. Rows `fn` returns that are not yet `UnsafeRow`s are made so. */
case class GroupRowsExec(keys: Seq[Attribute], output: Seq[Attribute], fn: GroupRows.Fn,
                         child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of groups"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "diskSpillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size on disk"))

  protected override def doExecute(): RDD[InternalRow] = {
    val (numOutputRows, numGroups) = (longMetric("numOutputRows"), longMetric("numGroups"))
    val (spillSize, diskSpillSize) = (longMetric("spillSize"), longMetric("diskSpillSize"))
    val (keys, input, schema, fn) = (this.keys, child.output, this.schema, this.fn)
    val ordering = new LazilyGeneratedOrdering(keys.map(SortOrder(_, Ascending)), input)
    child.execute().mapPartitionsInternal { rows =>
      val toUnsafe = UnsafeProjection.create(input, input)
      val sorter = new ExternalSorter[InternalRow, Null, Null](TaskContext.get(),
        ordering = Some(ordering))
      // read at task end: the sorter also spills while its output is read,
      // when another consumer in the task asks for memory
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        spillSize += sorter.memoryBytesSpilled
        diskSpillSize += sorter.diskBytesSpilled
      }
      val sorted = sorter.insertAllAndUpdateMetrics(rows.map {
        case u: UnsafeRow => (u.copy(), null)
        case other => (toUnsafe(other).copy(), null)
      })
      val groups = GroupRowsExec.groups(sorted.map(_._1).buffered, ordering,
        UnsafeProjection.create(keys, input)).map { g => numGroups += 1; g }
      val toOutput = UnsafeProjection.create(schema)
      fn(groups).map { r =>
        numOutputRows += 1
        r match { case u: UnsafeRow => u; case other => toOutput(other) }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupRowsExec = copy(child = c)
}

object GroupRowsExec {
  /** The runs of `sorted` that `ordering` calls equal, with each run's key.
    * The rows are the sorter's own objects, so a run's first row is held
    * as it is, not copied; rows of a run `fn` leaves unread are skipped. */
  private def groups(sorted: BufferedIterator[InternalRow], ordering: Ordering[InternalRow],
                     keyOf: UnsafeProjection): Iterator[(InternalRow, Iterator[InternalRow])] =
    new Iterator[(InternalRow, Iterator[InternalRow])] {
      private var first: InternalRow = null
      private def inGroup(head: InternalRow, r: InternalRow) = ordering.compare(head, r) == 0

      override def hasNext: Boolean = {
        while (first != null && sorted.hasNext && inGroup(first, sorted.head)) sorted.next()
        sorted.hasNext
      }

      override def next(): (InternalRow, Iterator[InternalRow]) = {
        if (!hasNext) throw new NoSuchElementException
        val head = sorted.head
        first = head
        (keyOf(head), new Iterator[InternalRow] {
          override def hasNext: Boolean = sorted.hasNext && inGroup(head, sorted.head)
          override def next(): InternalRow = sorted.next()
        })
      }
    }
}
