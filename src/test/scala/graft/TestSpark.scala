package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // specs exercise the DISTRIBUTED kernel path (every spec corpus is
      // small enough that the driver fast path would otherwise absorb all
      // coverage); SmallQuerySpec opts back in to test equivalence
      .config("spark.graft.smallQueryMaxPostings", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `f`'s result and the number of Spark jobs it launched */
  def countJobs[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
