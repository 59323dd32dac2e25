package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block of code starts. */
object SparkJobs {
  /** `f`'s result and the number of Spark jobs started while it ran
    * (counted after the listener bus delivered every event). */
  def during[T](spark: SparkSession)(f: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      ListenerBusDrain(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
