package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Top-k rows per group as a first-class Catalyst operator.
  *
  * The DataFrame idiom — row_number() over (partition by g order by o)
  * then rank <= k — materializes and FULLY SORTS every group before
  * discarding all but k rows. This operator keeps a bounded heap of k
  * rows per group instead, in two stages mirroring partial/final
  * aggregation: a partial stage caps each input partition's contribution
  * at k rows per group BEFORE the shuffle (so shuffle volume is
  * partitions x k per group, independent of group size), and a final
  * stage (clustered on the group columns) merges heaps and emits rows
  * with a 1-based rank. O(n log k) per partition, k rows of state per
  * group, versus the window's O(n log n) sort and full-group
  * materialization.
  *
  * With no group columns it is the global top-k with its rank: the
  * final stage requires `AllTuples` — one task merging at most
  * partitions x k rows, the shape of TakeOrdered's final stage — and
  * replaces the unpartitioned row_number window over an
  * `orderBy.limit`.
  *
  * Registered through spark.experimental.extraStrategies on first use;
  * rank semantics (including tie-breaks) are exactly row_number's for the
  * same ORDER BY, so results are interchangeable with the window form.
  */
case class TopKPerGroupPlan(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: TopKPerGroupPlan =>
      val partial = TopKPerGroupExec(p.groupExprs, p.sortOrder, p.k,
        partial = true, p.rankAttr, planLater(p.child))
      TopKPerGroupExec(p.groupExprs, p.sortOrder, p.k,
        partial = false, p.rankAttr, partial) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr

  override def producedAttributes: AttributeSet =
    if (partial) AttributeSet.empty else AttributeSet(rankAttr)

  // Both stages keep every row in its input partition.
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (groupExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupExprs))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val groupE = groupExprs
    val order = sortOrder
    val kk = k
    val isPartial = partial
    val outAttrs = output
    child.execute().mapPartitionsInternal { it =>
      val grouping = UnsafeProjection.create(groupE, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      // compare(a,b) < 0 => a ranks before b; the heap dequeues the WORST
      // element first, so offering and trimming keeps the k best.
      val ordering = RowOrdering.create(order, childOutput)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      it.foreach { row =>
        val key = grouping(row) // reused buffer: copy only on first sight
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[UnsafeRow](ordering.on(r => r: InternalRow))
            heaps.put(key.copy(), h)
            h
        }
        heap.enqueue(toUnsafe(row).copy())
        if (heap.size > kk) heap.dequeue()
      }
      if (isPartial) {
        heaps.valuesIterator.flatMap(_.iterator)
      } else {
        val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        heaps.valuesIterator.flatMap { heap =>
          val best = heap.dequeueAll.reverseIterator // worst-first -> reverse
          best.zipWithIndex.map { case (row, i) =>
            outProj(joined(row, new GenericInternalRow(Array[Any](i + 1))))
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroup {

  /** Top-k rows per group with a 1-based `rank` column; drop-in for the
    * row_number window idiom. `orderCols` accepts `col(...).desc/.asc`
    * (bare columns default to ascending). `groupCols = Nil` is the
    * global top-k, equal to row_number over an unpartitioned window.
    */
  def apply(df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column],
            k: Int, rankName: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession.asInstanceOf[ClassicSparkSession]
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    }
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    // Eager ColumnNode -> catalyst conversion: the lazy ExpressionUtils
    // wrapper would smuggle non-serializable internal nodes into closures.
    def toExpr(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
    val order = orderCols.map(c => toExpr(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    val plan = TopKPerGroupPlan(groupCols.map(toExpr),
      order, k, rankAttr, df.queryExecution.logical)
    Dataset.ofRows(spark, plan)
  }
}
