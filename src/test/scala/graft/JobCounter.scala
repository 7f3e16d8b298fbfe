package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs an action starts. The listener bus is drained
  * before and after, so every job event of the action, and none of an
  * earlier one, is counted. */
object JobCounter {
  def jobs(spark: SparkSession)(action: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    val n = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try { action; org.apache.spark.graft.ListenerBus.drain(sc); n.get() }
    finally sc.removeSparkListener(counter)
  }
}
