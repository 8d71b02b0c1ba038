package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column <-> Expression converters, needed to
  * expose custom Catalyst expressions (e.g. graft.dedup.SimHash64) through
  * the public Column API on Spark 4's ColumnNode-based Column.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Eager ColumnNode -> Expression conversion. `ExpressionUtils.expression`
    * wraps lazily in a ColumnNodeExpression, which never gets converted when
    * the result is spliced into a FunctionRegistry builder — the eager
    * converter emits Unresolved* trees the analyzer resolves in place.
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** The `private[sql]` RDD[InternalRow] -> DataFrame constructor: lets an
    * operator run a partition function over Catalyst rows (e.g.
    * graft.operators.Mondrian's in-task finish) without a Row-encoder
    * round trip per row.
    */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** A factory, to call inside a task, for the `private[sql]` spillable
    * row buffer the window operator holds a partition's rows in, with
    * the window operator's thresholds: past
    * `spark.sql.windowExec.buffer.in.memory.threshold` rows the buffer
    * lives in pages the task memory manager tracks and spills to disk.
    */
  def spillableRows(spark: SparkSession): () => SpillableRows = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val inMemoryRows = conf.windowExecBufferInMemoryThreshold
    val spillRows = conf.windowExecBufferSpillThreshold
    val spillBytes = conf.windowExecBufferSpillSizeThreshold
    () => new SpillableRows(new execution.ExternalAppendOnlyUnsafeRowArray(
      inMemoryRows, spillBytes, spillRows, spillBytes))
  }

  /** Append, then iterate in insertion order; `add` copies the row, and
    * the next `add` or `clear` invalidates an open iterator.
    */
  final class SpillableRows private[GraftColumnBridge] (
      buf: execution.ExternalAppendOnlyUnsafeRowArray) {
    def add(row: UnsafeRow): Unit = buf.add(row)
    def iterator: Iterator[UnsafeRow] = buf.generateIterator()
    def clear(): Unit = buf.clear()
  }
}
