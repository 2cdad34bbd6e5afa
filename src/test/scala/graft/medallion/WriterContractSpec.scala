package graft.medallion

import java.nio.file.Files

import graft.SparkTestBase
import graft.core.FsLock
import graft.streaming.LandingStream

/** Single-writer contract of bronze: [[LandingStream.finalizeBronze]]
  * appends to bronze under the table's [[FsLock]], so a second writer
  * holding that lock makes it fail LOUDLY, and nothing is lost.
  */
class WriterContractSpec extends SparkTestBase {
  import spark.implicits._

  test("finalize fails loudly while another writer holds the bronze lock; a retry lands the batch once") {
    val lake = Lake(Files.createTempDirectory("writer-contract").toString)
    val bronze = lake.bronze("events")
    val staging = LandingStream.stagingDir(lake, "events")
    Versioned.commit(spark, bronze, Seq(1 -> "a", 2 -> "b").toDF("id", "v"))
    // one fresh row staged by the streaming side
    Seq(3 -> "c").toDF("id", "v").write.parquet(staging)

    FsLock.acquire(spark, bronze, "other-writer")
    try {
      val e = intercept[FsLock.LockHeld](LandingStream.finalizeBronze(spark, lake, "events"))
      assert(e.owner == "other-writer")
      // the conflicted batch survives in staging for the retry
      assert(spark.read.parquet(staging).count() == 1)
      assert(Versioned.read(spark, bronze).count() == 2)
    } finally FsLock.release(spark, bronze)

    // after the other writer releases, the retried finalize lands the batch
    LandingStream.finalizeBronze(spark, lake, "events")
    assert(Versioned.read(spark, bronze).as[(Int, String)].collect().sorted.toSeq ==
      Seq(1 -> "a", 2 -> "b", 3 -> "c"))
  }
}
