package org.apache.spark.sql.perfbenchhooks

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads, which Spark keeps
  * package-private. */
object Hooks {
  /** Wait until every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Planning time (analysis + optimization + physical planning) of the
    * query an ended SQL execution ran, from its own phase tracker. */
  def planningNs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum * 1000000L).getOrElse(0L)
}
