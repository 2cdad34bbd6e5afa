package graft.queries

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.{Concurrent, Materialize}

/** [[Concurrent.run]], as the modality queries call it: when one
  * modality fails, the Spark jobs its siblings already started are
  * cancelled, not left to run to completion on the executors.
  */
class ConcurrentModalitiesSpec extends SparkTestBase {

  test("a failed modality cancels a sibling's running Spark job; the caller's job group stays") {
    val sc = spark.sparkContext
    val group = "concurrent-modalities-spec"
    val sleepMs = 20000L
    val started = new CountDownLatch(1)
    val startedAt = new ConcurrentHashMap[Int, Long]()
    val ended = new LinkedBlockingQueue[(Boolean, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          startedAt.put(e.jobId, e.time)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (startedAt.containsKey(e.jobId))
          ended.put((e.jobResult == JobSucceeded, e.time - startedAt.get(e.jobId)))
    }
    // each task sleeps through the whole job unless it is interrupted
    val sleepy = udf((x: Long) => { Thread.sleep(sleepMs); x })
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "sibling cancellation", interruptOnCancel = false)
    try {
      // the failing modality is listed AFTER the long one, so the
      // failure must be seen in completion order, not input order
      val e = intercept[IllegalStateException] {
        Concurrent.run(sc, Seq(
          "slow" -> (() => Materialize.pin(
            spark.range(0, 2, 1, 2).select(sleepy(col("id")).as("x")))),
          "failing" -> (() => {
            assert(started.await(60, TimeUnit.SECONDS), "the sibling job never started")
            throw new IllegalStateException("modality failed")
          })))
      }
      assert(e.getMessage == "modality failed")
      assert(sc.getLocalProperty("spark.jobGroup.id") == group,
        "the caller's job group must survive the call")
      assert(sc.getJobTags().isEmpty, s"tags leaked into the caller: ${sc.getJobTags()}")
      val end = Option(ended.poll(3 * sleepMs, TimeUnit.MILLISECONDS))
        .getOrElse(fail("the sibling job never ended"))
      assert(!end._1, "the sibling job ran to completion instead of being cancelled")
      assert(end._2 < sleepMs / 2,
        s"the sibling job ended ${end._2} ms after it started, not well before $sleepMs ms")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
