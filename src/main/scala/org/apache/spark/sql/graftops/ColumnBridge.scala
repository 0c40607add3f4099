package org.apache.spark.sql.graftops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor (Column now
  * wraps a ColumnNode); the converter lives in the sql-private
  * ExpressionUtils. This bridge re-exports just the two conversions the
  * graft custom expressions need, from inside the sql package namespace —
  * the same approach used by open-source Spark extensions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Re-exports of the sql-private pieces of `Dataset.localCheckpoint`, so
  * an iterative driver loop can materialize a round's checkpoint AND
  * fold a control scalar (e.g. a convergence count) into the SAME job
  * via an accumulator, instead of paying one job to checkpoint and a
  * second to aggregate the just-cached blocks. The returned frame is
  * built with `LogicalRDD.fromDataset`, exactly like
  * `Dataset.localCheckpoint`, so the checkpointed rows keep their
  * output partitioning/ordering (the loop's exchange-free joins depend
  * on it).
  *
  * Accumulator-tap invariant: the tap must be the last narrow operation
  * on the rows before the single materializing `count` of the
  * checkpointed RDD. Then the tap runs inside that job's result tasks,
  * and the scheduler merges a result task's accumulator updates once per
  * partition (the first successful attempt; failed attempts' updates are
  * dropped), so the value is exact. A shuffle after the tap would move it
  * into a shuffle-map stage, whose re-run tasks add again; a second action
  * on the rows before the checkpoint, or any later job that recomputes
  * them instead of reading the checkpoint blocks, would run it twice. */
object CheckpointBridge {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.LogicalRDD

  /** The origin dataset's physical rows, for the caller to wrap (add
    * accumulator taps), localCheckpoint, and materialize with count(). */
  def internalRows(origin: org.apache.spark.sql.Dataset[_]): RDD[InternalRow] =
    origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.toRdd

  /** Wrap an already-materialized checkpointed RDD of the origin's rows
    * back into a DataFrame, preserving the origin's partitioning and
    * ordering (the `Dataset.localCheckpoint` construction). */
  def checkpointedFrame(origin: org.apache.spark.sql.Dataset[_],
      rdd: RDD[InternalRow]): org.apache.spark.sql.DataFrame = {
    val ds = origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val logical = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, logical)
  }
}

/** The listener bus is private to the `org.apache.spark` package. Probes
  * and tests that count jobs or stages through a SparkListener drain it
  * before reading their counts, instead of sleeping for a guessed
  * interval: events are delivered asynchronously. */
object ListenerBusBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
