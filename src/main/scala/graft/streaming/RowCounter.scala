package graft.streaming

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.AccumulatorV2

/** Counts a frame's rows while an action reads them, whatever the
  * action is: a `collect`, a file write, or a data source that runs
  * the frame's RDD itself, as Kafka's sink does. Filter the frame by
  * [[pass]], which keeps every row; once the action has returned,
  * [[total]] is the row count. Spark merges a task's accumulator
  * updates before the action returns, so nothing waits on the
  * listener bus.
  *
  * Counts are kept per partition. A partition read twice (a task
  * retry, or a sink that reads the frame again) counts once, with the
  * larger of its counts, so a frame read in full at least once is
  * counted exactly. [[ran]] says whether any partition was read. */
private[streaming] final class RowCounter(sc: SparkContext) {
  private val rows = new PartitionRows
  sc.register(rows)

  val pass: Column = GraftSqlShims.column(CountRows(rows))
  def ran: Boolean = !rows.isZero
  def total: Long = rows.value.values.sum
}

/** Rows seen per partition index. Within a task, adds sum; merging
  * tasks' counts keeps the larger count of each partition. */
private[streaming] final class PartitionRows
    extends AccumulatorV2[(Int, Long), Map[Int, Long]] {
  private val seen = mutable.HashMap.empty[Int, Long]

  override def isZero: Boolean = seen.isEmpty
  override def copy(): PartitionRows = {
    val c = new PartitionRows
    c.seen ++= seen
    c
  }
  override def reset(): Unit = seen.clear()
  override def add(v: (Int, Long)): Unit =
    seen(v._1) = seen.getOrElse(v._1, 0L) + v._2
  override def merge(
      other: AccumulatorV2[(Int, Long), Map[Int, Long]]): Unit =
    for ((p, n) <- other.value) seen(p) = seen.getOrElse(p, 0L).max(n)
  override def value: Map[Int, Long] = seen.toMap
}

/** A filter condition that keeps every row and counts it into `rows`
  * under the partition being read; a partition with no rows is still
  * recorded, with 0. Nondeterministic, so the optimizer keeps the
  * filter where it stands and pushes no predicate below it. */
private[streaming] final case class CountRows(rows: PartitionRows)
    extends LeafExpression with Nondeterministic with CodegenFallback {
  @transient private[this] var partition = 0

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def toString: String = "count_rows()"

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    partition = partitionIndex
    rows.add((partition, 0L))
  }

  override protected def evalInternal(input: InternalRow): Any = {
    rows.add((partition, 1L))
    true
  }
}
