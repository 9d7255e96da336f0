package graft.orchestrate

import java.util.concurrent.{CountDownLatch, TimeoutException}

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** The listener-bus barrier is bounded: a wedged listener fails the
  * caller with a diagnosis instead of hanging it. */
class ListenerBridgeSpec extends SparkSpec {

  test("a wedged listener makes the bus barrier time out with a clear " +
      "error") {
    val sc = spark.sparkContext
    val release = new CountDownLatch(1)
    val wedged = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        release.await()
    }
    sc.addSparkListener(wedged)
    try {
      spark.range(1).count() // posts a job start the listener blocks on
      val e = intercept[TimeoutException](
        ListenerBridge.waitUntilListenerBusEmpty(sc, timeoutMillis = 200))
      assert(e.getMessage.contains("did not drain within 200 ms"))
    } finally {
      release.countDown()
      sc.removeSparkListener(wedged)
    }
    // once the listener returns the barrier drains again
    ListenerBridge.waitUntilListenerBusEmpty(sc)
  }
}
