package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** Streaming CDC apply (CdcStream): changelog batches converge the
  * mirror to the source's current state — upserts and DELETES —
  * streamed ≡ sequential applies, in-batch compaction by seq, and
  * crash replay is a no-op.
  */
class CdcStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("op", StringType), StructField("key", LongType),
    StructField("value", StringType), StructField("seq", LongType)))

  private val initial = Seq(1L -> "one", 2L -> "two", 3L -> "three")

  // batch A: update 1, delete 2, insert 4; key 5 inserted then deleted
  // IN the same batch (seq resolves: delete is final)
  private val batchA = Seq(
    ("U", 1L, "ONE", 10L), ("D", 2L, null.asInstanceOf[String], 11L),
    ("I", 4L, "four", 12L), ("I", 5L, "five", 13L), ("D", 5L, null.asInstanceOf[String], 14L))
  // batch B: re-insert 2, update 4 twice (higher seq wins)
  private val batchB = Seq(
    ("I", 2L, "two-again", 20L), ("U", 4L, "FOUR-old", 21L), ("U", 4L, "FOUR", 22L))

  private def state(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.as[(Long, String)].collect().toMap

  test("streamed two-batch apply converges to source state; deletes and seq respected") {
    val root = Files.createTempDirectory("cdc-stream").toString
    val (in, mir, cp) = (s"$root/in", s"$root/mirror", s"$root/cp")

    CdcStream.init(initial.toDF("key", "value"), mir)
    Files.createDirectories(java.nio.file.Paths.get(in))
    batchA.toDF("op", "key", "value", "seq").coalesce(1).write.parquet(s"$in/f1")
    batchB.toDF("op", "key", "value", "seq").coalesce(1).write.parquet(s"$in/f2")

    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$in/*")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        CdcStream.applyBatch(b, id, mir, "key", "value")
      }
      .start().awaitTermination()

    assert(BatchSink.currentVersion(spark, mir) === 3)
    assert(state(CdcStream.readCurrent(spark, mir)) ==
      Map(1L -> "ONE", 2L -> "two-again", 3L -> "three", 4L -> "FOUR"))
    // intermediate snapshot: after batch A only
    assert(state(spark.read.parquet(s"$mir/snap_00002")) ==
      Map(1L -> "ONE", 3L -> "three", 4L -> "four"))
  }

  test("crash replay of a batch is a no-op: same immutable input, same output") {
    val root = Files.createTempDirectory("cdc-replay").toString
    val mir = s"$root/mirror"
    CdcStream.init(initial.toDF("key", "value"), mir)
    val d = batchA.toDF("op", "key", "value", "seq")
    CdcStream.applyBatch(d, 0L, mir, "key", "value")
    val afterOnce = state(CdcStream.readCurrent(spark, mir))
    CdcStream.applyBatch(d, 0L, mir, "key", "value") // replay
    assert(BatchSink.currentVersion(spark, mir) === 2)
    assert(state(CdcStream.readCurrent(spark, mir)) == afterOnce)
  }
}
