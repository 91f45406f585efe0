package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Counts the Spark jobs a block launches from the calling thread
  * (jobs of other threads, e.g. a running stream, are not counted). */
object JobCount {
  private val Tag = "graft.jobCount"

  def apply[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && token == e.properties.getProperty(Tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, token)
    try {
      val r = f
      Bridge.drainListeners(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
