package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase
import graft.relational.Scd2

/** Streaming SCD2 maintenance (Scd2Stream): change batches merged into
  * a versioned dimension-history chain — streamed ≡ sequential batch
  * merges, crash replay is a no-op, and the chain preserves every
  * intermediate snapshot.
  */
class Scd2StreamSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("key", LongType), StructField("segment", StringType)))

  private val initial = Seq(
    1L -> "AUTO", 2L -> "BIKE", 3L -> "SHIP")

  // batch A: key 1 re-segments, key 4 inserts, key 2 no-op update
  private val batchA = Seq(1L -> "RAIL", 4L -> "NEW", 2L -> "BIKE")
  // batch B: key 4 re-segments again, key 1 no-op at its NEW value
  private val batchB = Seq(4L -> "AIR", 1L -> "RAIL")

  private type Row4 = (Long, String, Int, Option[Int])

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row4] =
    df.select($"key", $"segment", $"valid_from", $"valid_to")
      .as[Row4].collect().toSet

  test("streamed two-batch merge ≡ sequential Scd2.merge; trailing snapshots retained") {
    val root = Files.createTempDirectory("scd2-stream").toString
    val (in, dim, cp) = (s"$root/in", s"$root/dim", s"$root/cp")

    Scd2Stream.init(initial.toDF("key", "segment"), dim, "key", "segment")
    Files.createDirectories(java.nio.file.Paths.get(in))
    // one part-file per change batch: maxFilesPerTrigger=1 counts data
    // FILES, so an uncoalesced write would shred a batch across triggers
    batchA.toDF("key", "segment").coalesce(1).write.parquet(s"$in/f1")
    batchB.toDF("key", "segment").coalesce(1).write.parquet(s"$in/f2")

    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$in/*")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Scd2Stream.applyBatch(b, id, dim, "key", "segment")
      }
      .start().awaitTermination()

    val h1 = Scd2.init(initial.toDF("key", "segment"), "key", "segment")
    val h2 = Scd2.merge(h1, batchA.toDF("key", "segment"), "key", "segment", 2)
    val h3 = Scd2.merge(h2, batchB.toDF("key", "segment"), "key", "segment", 3)

    assert(BatchSink.currentVersion(spark, dim) === 3)
    assert(rows(Scd2Stream.readCurrent(spark, dim)) === rows(h3))

    // the expected history, spelled out: no-ops kept open, closures
    // versioned at the batch that superseded them
    assert(rows(h3) === Set[Row4](
      (1L, "AUTO", 1, Some(2)), (1L, "RAIL", 2, None),
      (2L, "BIKE", 1, None),
      (3L, "SHIP", 1, None),
      (4L, "NEW", 2, Some(3)), (4L, "AIR", 3, None)))

    // intermediate snapshots inside the trailing retention window
    // survive (replay safety; as-of TIME TRAVEL needs no old snapshots
    // — the history lives in the valid_from/valid_to rows themselves)
    assert(rows(spark.read.parquet(s"$dim/snap_00002")) === rows(h2))
  }

  test("snapshots are pruned to the trailing window; current history is complete") {
    val root = Files.createTempDirectory("scd2-prune").toString
    val dim = s"$root/dim"
    Scd2Stream.init(initial.toDF("key", "segment"), dim, "key", "segment")
    (0 until 7).foreach { i =>
      Scd2Stream.applyBatch(
        Seq(1L -> s"SEG$i").toDF("key", "segment"), i.toLong, dim, "key", "segment")
    }
    val fs = new org.apache.hadoop.fs.Path(dim)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = fs.listStatus(new org.apache.hadoop.fs.Path(dim)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("snap_"))
    assert(snaps.size == BatchSink.KeepSnapshots, s"snapshots: $snaps")
    // the full change history is still answerable from the CURRENT
    // snapshot alone: seven closed versions plus the open row
    val hist = Scd2Stream.readCurrent(spark, dim)
      .filter($"key" === 1L).count()
    assert(hist == 8, s"history rows: $hist")
  }

  test("crash replay is a no-op: re-applying a batch rewrites an identical snapshot") {
    val root = Files.createTempDirectory("scd2-replay").toString
    val dim = s"$root/dim"
    Scd2Stream.init(initial.toDF("key", "segment"), dim, "key", "segment")
    Scd2Stream.applyBatch(batchA.toDF("key", "segment"), 0L, dim, "key", "segment")
    val once = rows(Scd2Stream.readCurrent(spark, dim))
    Scd2Stream.applyBatch(batchA.toDF("key", "segment"), 0L, dim, "key", "segment")
    assert(BatchSink.currentVersion(spark, dim) === 2)
    assert(rows(Scd2Stream.readCurrent(spark, dim)) === once)
  }

  test("merge recognizes equal-value no-ops and leaves absent keys untouched") {
    val h1 = Scd2.init(initial.toDF("key", "segment"), "key", "segment")
    val noop = Scd2.merge(h1, Seq(2L -> "BIKE").toDF("key", "segment"),
      "key", "segment", 2)
    assert(rows(noop) === rows(h1))
    val empty = Scd2.merge(h1,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      "key", "segment", 2)
    assert(rows(empty) === rows(h1))
  }
}
