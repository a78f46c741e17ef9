package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (extensions
  * registered, small core count). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  /** smallest driver-generated dataset */
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs started while it ran.
    * Job-start events are delivered asynchronously; every job has
    * completed by the time `body` returns, but on a loaded machine the
    * bus can drain late — poll until the count is stable instead of
    * trusting a fixed sleep (listenerBus.waitUntilEmpty is
    * private[spark], so stability is the observable proxy). */
  def jobsDuring[A](body: => A): (A, Long) = {
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      var prev = -1L
      var stable = 0
      var rounds = 0
      while (stable < 3 && rounds < 100) {
        Thread.sleep(100)
        val c = jobs.get
        if (c == prev) stable += 1 else { stable = 0; prev = c }
        rounds += 1
      }
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
