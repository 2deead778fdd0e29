package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class ListenerBarrierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("await returns once a lagging listener has seen every earlier job end") {
    val sc = spark.sparkContext
    val started, ended, markers = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (ListenerBarrier.isMarker(j)) markers.add(j.jobId) else started.add(j.jobId)
      // the bus delivers this late, so a caller that did not wait would
      // find the job's end missing
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Thread.sleep(300)
        ended.add(e.jobId)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.parallelize(1 to 8, 2).count()
      ListenerBarrier.await(sc)
    } finally sc.removeSparkListener(listener)
    assert(!started.isEmpty, "the listener saw no job")
    assert(started.asScala.forall(ended.contains), s"started $started, ended $ended")
    assert(markers.size == 1 && !started.contains(markers.peek()))
  }
}
