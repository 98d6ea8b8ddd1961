package org.apache.spark

import org.apache.spark.executor.TaskMetrics

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** A task context for reading files on the driver. Spark's file readers
  * hand their close to the current task's completion listeners; a reader
  * opened inside [[DriverTask.run]] is closed when the body ends, however
  * it ends, even if the body stopped reading before the end of the file.
  * The context is registered with the block manager under an attempt id no
  * real task takes, so a broadcast the reader reads takes its lock as a
  * task would, and the locks are released at the end. The task-context
  * setters are package-private, hence this package.
  */
object DriverTask {
  private val attempts = new AtomicLong(-2048L)

  def run[A](body: => A): A = {
    val outer = TaskContext.get()
    val attempt = attempts.getAndDecrement()
    val blocks = SparkEnv.get.blockManager
    val ctx = new TaskContextImpl(0, 0, 0, attempt, 0, 1, null, new Properties, null,
      TaskMetrics.empty, 1)
    blocks.registerTask(attempt)
    TaskContext.setTaskContext(ctx)
    try body
    finally {
      try ctx.markTaskCompleted(None)
      finally {
        blocks.releaseAllLocksForTask(attempt)
        if (outer == null) TaskContext.unset() else TaskContext.setTaskContext(outer)
      }
    }
  }
}
