package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counters a spec reads around a block: the Spark jobs it submits and
  * the classes whole-stage codegen compiles for it. */
object SparkCounters {

  /** `body`'s result and the number of jobs submitted while it ran. The
    * listener bus is drained before the listener is added and before it
    * is read, so every job of the block is counted and none from before. */
  def jobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the number of codegen compilations it caused
    * (JVM-wide, so run nothing else concurrently). */
  def compilations[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = body
    (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
