package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The few package-private Spark hooks the benchmark reads. Everything here
  * is observation only: nothing changes what the engine executes. */
object PerfBenchAccess {

  /** Block until every queued listener event has been delivered, so that
    * counters read afterwards hold all of the work done so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  /** Cumulative Janino compile time in nanoseconds (successful compiles). */
  def codegenCompileNanos: Long = CodeGenerator.compileTime
}
