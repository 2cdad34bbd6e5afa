package graft.medallion

import java.nio.file.Files

import graft.SparkTestBase
import graft.core.FsLock
import graft.streaming.LandingStream

/** Single-writer contract of bronze: each landing-stream micro-batch
  * appends to bronze under the table's [[FsLock]]
  * ([[LandingStream.appendBatch]]), so a second writer holding that lock
  * makes the stream fail LOUDLY, and nothing is lost.
  */
class WriterContractSpec extends SparkTestBase {
  import spark.implicits._

  test("the stream fails loudly while another writer holds the bronze lock; a restart lands the batch once") {
    val lake = Lake(Files.createTempDirectory("writer-contract").toString)
    val bronze = lake.bronze("events")
    Versioned.commit(spark, bronze, Seq(1 -> "a", 2 -> "b").toDF("id", "v"))
    // one fresh row and one bronze already has, landed for the stream
    Chunker.deliver(Seq("id,v\n2,b\n3,c\n"), lake.landing("events"), bufferBytes = 12)

    FsLock.acquire(spark, bronze, "other-writer")
    try {
      val e = intercept[Exception](LandingStream.start(spark, lake, "events").awaitTermination())
      val held = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case h: FsLock.LockHeld => h }
      assert(held.map(_.owner).contains("other-writer"), s"failed with $e, not LockHeld")
      assert(Versioned.read(spark, bronze).count() == 2)
    } finally FsLock.release(spark, bronze)

    // after the other writer releases, the restarted stream replays the
    // batch and lands it
    LandingStream.start(spark, lake, "events").awaitTermination()
    assert(Versioned.read(spark, bronze).as[(Int, String)].collect().sorted.toSeq ==
      Seq(1 -> "a", 2 -> "b", 3 -> "c"))
  }
}
