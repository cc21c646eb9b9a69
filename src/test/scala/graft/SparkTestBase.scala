package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** One shared SparkSession across all suites (local[4], UTC, AQE on). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val jobsStarted: AtomicInteger = {
    val n = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })
    n
  }

  /** `f`'s result and the number of Spark jobs started while it ran (the
    * listener bus is drained on both sides, so no event is missed or
    * carried over). */
  def jobsDuring[T](f: => T): (T, Int) = {
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    val before = jobsStarted.get()
    val r = f
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    (r, jobsStarted.get() - before)
  }
}
