package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Waits for the listener bus instead of guessing how long it lags.
  * Listener events arrive asynchronously, but in order: once a one-task
  * marker job has ended on the bus, every listener added with
  * `addSparkListener` has seen all events of the jobs that finished
  * before it. A listener that counts jobs or stages skips the marker's
  * through [[isMarker]]. */
private[graft] object ListenerBarrier {
  private val Key = "graft.listenerBarrier"
  private val TimeoutSec = 30L

  /** True for the start of a marker job. */
  def isMarker(j: SparkListenerJobStart): Boolean =
    Option(j.properties).exists(_.getProperty(Key) != null)

  /** Runs the marker job and returns once the bus has delivered its end. */
  def await(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var marker = -1
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(Key) == token)) marker = j.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == marker) ended.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, token)
      try sc.parallelize(Seq(1), 1).foreach(_ => ())
      finally sc.setLocalProperty(Key, null)
      require(ended.await(TimeoutSec, TimeUnit.SECONDS),
        s"listener bus did not deliver the marker job's end within $TimeoutSec s")
    } finally sc.removeSparkListener(listener)
  }
}
