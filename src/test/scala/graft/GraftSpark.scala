package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The session a spec runs in: `GraftSession.local(4)`, the mains'
  * settings on four cores, so a suite run alone sees the same session
  * as one run after other suites.
  */
trait GraftSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Jobs started while running `op`, counted by a listener on its
    * job group.
    */
  def jobsOf(op: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try {
      op
      ListenerBusDrain(sc)
      n.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
