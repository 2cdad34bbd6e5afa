package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.medallion.{BronzeFlow, Chunker, Lake, LandingFlow, Versioned}

/** Streaming landing→bronze must produce exactly the batch result
  * (SURVEY §2.9: AvailableNow = batch-equivalent, replayable), also
  * when a crash makes the stream replay a batch.
  */
class StreamingSpec extends SparkTestBase {

  /** Stream everything landed for `dataset` into bronze. */
  private def stream(lake: Lake, dataset: String = "reviews"): Unit =
    LandingStream.start(spark, lake, dataset).awaitTermination()

  private def pointerBytes(lake: Lake, dataset: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(lake.bronze(dataset), "_current")).toSeq

  /** Every parquet file under `dir`, segments included, with its mtime. */
  private def listing(dir: String): Map[String, Long] =
    if (!Files.exists(Paths.get(dir))) Map.empty
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.map(_.toFile).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
      finally s.close()
    }

  test("stream landing->bronze ≡ batch bronze on the fixture CSVs") {
    val root = Files.createTempDirectory("stream-e2e").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val lake = Lake(root)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)

    stream(lake)
    val streamed = Versioned.read(spark, lake.bronze("reviews"))
    val batch = BronzeFlow.read(spark, lake.landing("reviews"))

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a second Chunker delivery into one landing dir keeps the first, and both stream into bronze") {
    val lake = Lake(Files.createTempDirectory("stream-two-deliveries").toString)
    val landing = lake.landing("reviews")
    def bronzeIds: Set[Int] = {
      stream(lake)
      Versioned.read(spark, lake.bronze("reviews")).select("id").collect().map(_.getInt(0)).toSet
    }

    // 12-byte chunks against a 12-byte buffer: one object per chunk
    val first = Chunker.deliver(Seq("id,text\n1,a\n", "id,text\n2,b\n"), landing, bufferBytes = 12)
    assert(bronzeIds == Set(1, 2))
    val second = Chunker.deliver(Seq("id,text\n3,c\n"), landing, bufferBytes = 12)
    val names = (first ++ second).map(_.getFileName.toString)
    assert(names == Seq("part-00000.csv", "part-00001.csv", "part-00002.csv"))
    assert(new java.io.File(landing).list().count(_.endsWith(".csv")) == 3)
    assert(bronzeIds == Set(1, 2, 3), "the second delivery's rows must reach bronze")
  }

  test("stream restart is exactly-once: re-running adds nothing") {
    val root = Files.createTempDirectory("stream-idem").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val lake = Lake(root)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)

    stream(lake, "albums")
    val first = Versioned.read(spark, lake.bronze("albums")).count()
    // second AvailableNow run against the same checkpoint: no new files
    stream(lake, "albums")
    val second = Versioned.read(spark, lake.bronze("albums")).count()
    assert(first == second)
  }

  test("the stream is incremental: a rerun over unchanged landing rewrites nothing") {
    val root = Files.createTempDirectory("stream-incr").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val lake = Lake(root)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)

    stream(lake)
    val bronzePath = lake.bronze("reviews")
    val bronzeBefore = listing(bronzePath)
    assert(bronzeBefore.nonEmpty)

    stream(lake)
    // no new landing data → bronze file set (names AND mtimes) unchanged:
    // the rerun neither rewrote history nor appended anything
    assert(listing(bronzePath) == bronzeBefore, "rerun rewrote bronze")
  }

  test("a batch with schema drift commits a full merge, preserving new columns") {
    val root = Files.createTempDirectory("stream-drift").toString
    val lake = Lake(root)
    Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
    // the batch carries a column bronze has never seen
    val batch = spark.range(3, 5).selectExpr("id", "id * 2 AS v", "'x' AS tag")
    LandingStream.appendBatch(spark, lake, "d", batch)
    val out = Versioned.read(spark, lake.bronze("d"))
    assert(out.columns.toSet == Set("id", "v", "tag"))
    assert(out.count() == 5)
    assert(out.filter(col("tag").isNotNull).count() == 2, "drifted column values lost")
    // a replay of the batch is a no-op
    LandingStream.appendBatch(spark, lake, "d", batch)
    assert(Versioned.read(spark, lake.bronze("d")).count() == 5)
  }

  test("a batch with a changed column type is drift: one full version with the widened type") {
    val lake = Lake(Files.createTempDirectory("stream-type-drift").toString)
    Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
    // upstream now delivers v as text: the batch cannot be appended
    // under the active schema
    LandingStream.appendBatch(spark, lake, "d",
      spark.range(2, 5).selectExpr("id", "CAST(id * 2 AS STRING) AS v"))
    assert(Versioned.segments(spark, lake.bronze("d")).size == 1)
    val out = Versioned.read(spark, lake.bronze("d"))
    assert(out.schema("v").dataType == org.apache.spark.sql.types.StringType)
    // (2, "4") arrives again in text form and collapses with bronze's
    assert(out.selectExpr("id", "CAST(v AS BIGINT)").distinct().count() == 5)
    assert(out.count() == 5)
  }

  test("a batch's common path runs 3 Spark jobs: no job only asks whether the anti-join is empty") {
    val lake = Lake(Files.createTempDirectory("append-batch-jobs").toString)
    Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
    // a file scan, as a micro-batch is: over `range` itself the
    // optimizer drops the dedup, because range's ids are distinct
    val files = Files.createTempDirectory("append-batch-jobs-in").resolve("batch").toString
    spark.range(2, 5).selectExpr("id", "id * 2 AS v").write.parquet(files)
    val batch = spark.read.parquet(files)
    val (_, jobs) = graft.medallion.MedallionTestKit.countingJobs(spark)(
      LandingStream.appendBatch(spark, lake, "d", batch))
    assert(jobs == 3, s"appendBatch ran $jobs Spark jobs")
    assert(Versioned.segments(spark, lake.bronze("d")).size == 2)
    assert(Versioned.read(spark, lake.bronze("d")).count() == 5)
  }

  test(s"a batch append folds a chain longer than ${Versioned.MaxSegments} segments; bronze equals a clean run") {
    def seeded(tag: String): Lake = {
      val lake = Lake(Files.createTempDirectory(tag).toString)
      Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
      lake
    }
    // each batch is new rows plus one row bronze already has
    def batch(k: Int): DataFrame =
      spark.range(10L * k, 10L * k + 2).union(spark.range(k % 3, k % 3 + 1))
        .selectExpr("id", "id * 2 AS v")
    def rows(lake: Lake): Seq[(Long, Long)] = {
      import spark.implicits._
      Versioned.read(spark, lake.bronze("d")).as[(Long, Long)].collect().toSeq.sorted
    }
    val batches = Versioned.MaxSegments + 1
    val lake = seeded("append-fold")
    val chain = (1 to batches).map { k =>
      LandingStream.appendBatch(spark, lake, "d", batch(k))
      Versioned.segments(spark, lake.bronze("d")).size
    }
    assert(chain.max <= Versioned.MaxSegments, s"chain lengths ${chain.mkString(",")}")
    // the seed plus 31 appends fill the chain; the 32nd append folds it
    assert(chain.last == 2, s"chain lengths ${chain.mkString(",")}")

    val clean = seeded("append-fold-clean")
    LandingStream.appendBatch(spark, clean, "d", (1 to batches).map(batch).reduce(_ union _))
    assert(rows(lake) == rows(clean))
    assert(rows(lake).size == 3 + 2 * batches)
  }

  // Crash points of the landing stream. Each micro-batch appends to
  // bronze (one pointer flip) in its foreachBatch, then the stream
  // commits the batch to the checkpoint's commit log. A crash between
  // the two replays the batch on restart; a crash before the flip
  // publishes nothing.

  private val Deliveries = Seq(
    Seq("id,text\n1,a\n", "id,text\n2,b\n"),
    Seq("id,text\n2,b\n", "id,text\n3,c\n")) // (2,b) is redelivered

  private def bronzeRows(lake: Lake): Seq[(Int, String)] = {
    import spark.implicits._
    Versioned.read(spark, lake.bronze("reviews")).as[(Int, String)].collect().toSeq.sorted
  }

  private def deliver(lake: Lake, k: Int): Unit =
    Chunker.deliver(Deliveries(k), lake.landing("reviews"), bufferBytes = 12)

  /** Bronze after streaming each delivery, crash-free. */
  private def cleanBronze(): Seq[(Int, String)] = {
    val lake = Lake(Files.createTempDirectory("stream-clean").toString)
    Deliveries.indices.foreach { k =>
      deliver(lake, k)
      stream(lake)
    }
    bronzeRows(lake)
  }

  private def commitLog(lake: Lake): java.io.File =
    new java.io.File(s"${lake.root}/_checkpoints/reviews/commits")

  private def lastCommit(lake: Lake): Long =
    commitLog(lake).list().filter(_.matches("\\d+")).map(_.toLong).max

  /** Lose the newest batch's entry in the checkpoint's commit log. */
  private def dropLastCommit(lake: Lake): Unit = {
    val last = lastCommit(lake)
    assert(new java.io.File(commitLog(lake), last.toString).delete())
    new java.io.File(commitLog(lake), s".$last.crc").delete()
  }

  test("a stream whose first batch fails inside its write publishes nothing; the restart equals a clean run") {
    val lake = Lake(Files.createTempDirectory("stream-write-fails").toString)
    deliver(lake, 0)
    val failed = FailingCommitProtocol.during(spark)(stream(lake))
    assert(failed.isFailure, "the injected write failure did not surface")
    assert(!Versioned.exists(spark, lake.bronze("reviews")), "a failed batch published bronze")

    stream(lake)
    deliver(lake, 1)
    stream(lake)
    assert(bronzeRows(lake) == cleanBronze())
  }

  test("landing stream crash after the pointer flip, before the offset commit: the replay publishes nothing") {
    val lake = Lake(Files.createTempDirectory("stream-crash-flip").toString)
    deliver(lake, 0)
    stream(lake)
    deliver(lake, 1)
    stream(lake)
    val (pointer, segments) = (pointerBytes(lake, "reviews"), Versioned.segments(spark, lake.bronze("reviews")))
    val replayed = lastCommit(lake)
    dropLastCommit(lake)

    stream(lake)
    assert(lastCommit(lake) == replayed, "the restart did not replay the batch")
    assert(pointerBytes(lake, "reviews") == pointer, "the replay published a version")
    assert(Versioned.segments(spark, lake.bronze("reviews")) == segments)
    val bronze = bronzeRows(lake)
    assert(bronze == cleanBronze())
    assert(bronze.distinct == bronze, "duplicate rows in bronze")
  }

  test("landing stream crash inside the batch's write: nothing is published, and the restart lands the batch once") {
    val lake = Lake(Files.createTempDirectory("stream-crash-write").toString)
    deliver(lake, 0)
    stream(lake)
    val (pointer, before) = (pointerBytes(lake, "reviews"), bronzeRows(lake))
    deliver(lake, 1)
    val failed = FailingCommitProtocol.during(spark)(stream(lake))
    assert(failed.isFailure, "the injected write failure did not surface")
    assert(pointerBytes(lake, "reviews") == pointer, "a failed batch flipped the pointer")
    assert(bronzeRows(lake) == before)

    stream(lake)
    val bronze = bronzeRows(lake)
    assert(bronze == cleanBronze())
    assert(bronze.distinct == bronze, "duplicate rows in bronze")
  }
}
