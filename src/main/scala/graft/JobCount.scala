package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftGlue, SparkSession}

/** The number of Spark jobs started while a body runs, counted by a
  * listener. Every job of the context counts, whichever thread starts it
  * (a streaming query's batches included), so nothing else may run on the
  * context meanwhile. The listener bus is drained before the listener
  * joins, so no earlier job's start reaches it, and again before it is
  * read, so every job the body started has. */
object JobCount {
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    GraftGlue.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      GraftGlue.drainListeners(sc)
      (result, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
