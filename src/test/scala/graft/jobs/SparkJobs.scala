package graft.jobs

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

object SparkJobs {

  /** Spark jobs started while `body` runs; the listener bus is drained on
    * both sides, so no earlier job is counted and no job of `body` missed.
    */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}
