package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode}

/** Test access to the running task's memory manager, which Spark keeps
  * private to its own packages. */
object TaskMemory {
  /** Ask the task's memory manager for all the execution memory there is,
    * then give it back: every other consumer in the task that holds
    * memory is made to spill first. */
  def squeeze(): Unit = {
    val hog = new MemoryConsumer(TaskContext.get().taskMemoryManager(), MemoryMode.ON_HEAP) {
      override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
    }
    hog.freeMemory(hog.acquireMemory(1L << 40))
  }
}
