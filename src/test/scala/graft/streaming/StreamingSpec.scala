package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.medallion.{BronzeFlow, Chunker, Lake, LandingFlow, Versioned}

/** Streaming landing→bronze must produce exactly the batch result
  * (SURVEY §2.9: AvailableNow = batch-equivalent, replayable), also
  * when a crash makes the stream replay a batch.
  */
class StreamingSpec extends SparkTestBase {

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

    val bronzePath = LandingStream.runAvailableNow(spark, lake, "reviews")
    val streamed = Versioned.read(spark, bronzePath)
    val batch = BronzeFlow.read(spark, lake.landing("reviews"))

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a second Chunker delivery into one landing dir keeps the first, and both stream into bronze") {
    val lake = Lake(Files.createTempDirectory("stream-two-deliveries").toString)
    val landing = lake.landing("reviews")
    def bronzeIds: Set[Int] = Versioned
      .read(spark, LandingStream.runAvailableNow(spark, lake, "reviews"))
      .select("id").collect().map(_.getInt(0)).toSet

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

    LandingStream.runAvailableNow(spark, lake, "albums")
    val first = Versioned.read(spark, lake.bronze("albums")).count()
    // second AvailableNow run against the same checkpoint: no new files
    LandingStream.runAvailableNow(spark, lake, "albums")
    val second = Versioned.read(spark, lake.bronze("albums")).count()
    assert(first == second)
  }

  test("finalize is incremental: a rerun over unchanged landing rewrites nothing") {
    val root = Files.createTempDirectory("stream-incr").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val lake = Lake(root)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)

    val bronzePath = LandingStream.runAvailableNow(spark, lake, "reviews")
    // incorporated staged files are cleared → next finalize sees nothing
    assert(listing(LandingStream.stagingDir(lake, "reviews")).isEmpty,
      "staging still holds incorporated files")
    val bronzeBefore = listing(bronzePath)
    assert(bronzeBefore.nonEmpty)

    LandingStream.runAvailableNow(spark, lake, "reviews")
    // no new landing data → bronze file set (names AND mtimes) unchanged:
    // the rerun neither rewrote history nor appended anything
    assert(listing(bronzePath) == bronzeBefore, "rerun rewrote bronze")
    assert(listing(LandingStream.stagingDir(lake, "reviews")).isEmpty)
  }

  test("finalize handles schema drift with a full merge, preserving new columns") {
    val root = Files.createTempDirectory("stream-drift").toString
    val lake = Lake(root)
    Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
    // newly staged rows carry a column bronze has never seen
    spark.range(3, 5).selectExpr("id", "id * 2 AS v", "'x' AS tag")
      .write.parquet(LandingStream.stagingDir(lake, "d"))
    LandingStream.finalizeBronze(spark, lake, "d")
    val out = Versioned.read(spark, lake.bronze("d"))
    assert(out.columns.toSet == Set("id", "v", "tag"))
    assert(out.count() == 5)
    assert(out.filter(col("tag").isNotNull).count() == 2, "drifted column values lost")
    // drift rewrite also consumes staging: a rerun is a no-op
    LandingStream.finalizeBronze(spark, lake, "d")
    assert(Versioned.read(spark, lake.bronze("d")).count() == 5)
  }

  test("finalize treats a changed column type as drift: one full version with the widened type") {
    val lake = Lake(Files.createTempDirectory("stream-type-drift").toString)
    Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
    // upstream now delivers v as text: the staged rows cannot be
    // appended under the active schema
    spark.range(2, 5).selectExpr("id", "CAST(id * 2 AS STRING) AS v")
      .write.parquet(LandingStream.stagingDir(lake, "d"))
    LandingStream.finalizeBronze(spark, lake, "d")
    assert(Versioned.segments(spark, lake.bronze("d")).size == 1)
    val out = Versioned.read(spark, lake.bronze("d"))
    assert(out.schema("v").dataType == org.apache.spark.sql.types.StringType)
    // (2, "4") is staged again in text form and collapses with bronze's
    assert(out.selectExpr("id", "CAST(v AS BIGINT)").distinct().count() == 5)
    assert(out.count() == 5)
  }

  test("a finalize append that fails inside its write job leaves bronze and staging as they were; the rerun equals a clean run") {
    def seeded(tag: String): Lake = {
      val lake = Lake(Files.createTempDirectory(tag).toString)
      Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
      spark.range(2, 5).selectExpr("id", "id * 2 AS v")
        .write.parquet(LandingStream.stagingDir(lake, "d"))
      lake
    }
    def rows(lake: Lake): Seq[(Long, Long)] = {
      import spark.implicits._
      Versioned.read(spark, lake.bronze("d")).as[(Long, Long)].collect().toSeq.sorted
    }
    val clean = seeded("finalize-clean")
    LandingStream.finalizeBronze(spark, clean, "d")

    val lake = seeded("finalize-crash")
    val base = rows(lake)
    val stagedBefore = listing(LandingStream.stagingDir(lake, "d"))
    val key = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    val crashed =
      try scala.util.Try(LandingStream.finalizeBronze(spark, lake, "d"))
      finally spark.conf.unset(key)
    assert(crashed.isFailure, "the injected write failure did not surface")
    assert(rows(lake) == base, "readers saw a partial append")
    assert(Versioned.segments(spark, lake.bronze("d")).size == 1)
    assert(listing(LandingStream.stagingDir(lake, "d")) == stagedBefore, "staging changed")

    LandingStream.finalizeBronze(spark, lake, "d")
    assert(rows(lake) == rows(clean))
    assert(rows(lake) == (0L until 5L).map(i => (i, i * 2)))
  }

  test("finalize's common path runs 3 Spark jobs: no job only asks whether the anti-join is empty") {
    val lake = Lake(Files.createTempDirectory("finalize-jobs").toString)
    Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
    spark.range(2, 5).selectExpr("id", "id * 2 AS v").write.parquet(LandingStream.stagingDir(lake, "d"))
    val (_, jobs) = graft.medallion.MedallionTestKit.countingJobs(spark)(
      LandingStream.finalizeBronze(spark, lake, "d"))
    assert(jobs == 3, s"finalize ran $jobs Spark jobs")
    assert(Versioned.segments(spark, lake.bronze("d")).size == 2)
    assert(Versioned.read(spark, lake.bronze("d")).count() == 5)
  }

  test(s"finalize folds a chain longer than ${LandingStream.MaxSegments} segments; bronze equals a clean run") {
    def seeded(tag: String): Lake = {
      val lake = Lake(Files.createTempDirectory(tag).toString)
      Versioned.commit(spark, lake.bronze("d"), spark.range(3).selectExpr("id", "id * 2 AS v"))
      lake
    }
    // each batch is new rows plus one row bronze already has
    def stage(lake: Lake, k: Int): Unit =
      spark.range(10L * k, 10L * k + 2).union(spark.range(k % 3, k % 3 + 1))
        .selectExpr("id", "id * 2 AS v").write.mode("append").parquet(LandingStream.stagingDir(lake, "d"))
    def rows(lake: Lake): Seq[(Long, Long)] = {
      import spark.implicits._
      Versioned.read(spark, lake.bronze("d")).as[(Long, Long)].collect().toSeq.sorted
    }
    val finalizes = LandingStream.MaxSegments + 1
    val lake = seeded("finalize-fold")
    val chain = (1 to finalizes).map { k =>
      stage(lake, k)
      LandingStream.finalizeBronze(spark, lake, "d")
      Versioned.segments(spark, lake.bronze("d")).size
    }
    assert(chain.max <= LandingStream.MaxSegments, s"chain lengths ${chain.mkString(",")}")
    // the seed plus 31 appends fill the chain; the 32nd append folds it
    assert(chain.last == 2, s"chain lengths ${chain.mkString(",")}")

    val clean = seeded("finalize-fold-clean")
    (1 to finalizes).foreach(stage(clean, _))
    LandingStream.finalizeBronze(spark, clean, "d")
    assert(rows(lake) == rows(clean))
    assert(rows(lake).size == 3 + 2 * finalizes)
  }

  // Crash points of the landing stream. The stream appends each
  // micro-batch to staging in its foreachBatch, then commits the batch
  // to the checkpoint's commit log. A crash between the two replays the
  // batch on restart; finalizeBronze must absorb that replay.

  private val Deliveries = Seq(
    Seq("id,text\n1,a\n", "id,text\n2,b\n"),
    Seq("id,text\n2,b\n", "id,text\n3,c\n")) // (2,b) is redelivered

  private def bronzeRows(lake: Lake): Seq[(Int, String)] = {
    import spark.implicits._
    Versioned.read(spark, lake.bronze("reviews")).as[(Int, String)].collect().toSeq.sorted
  }

  private def staged(lake: Lake): Seq[java.io.File] =
    Option(new java.io.File(LandingStream.stagingDir(lake, "reviews")).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).toSeq

  /** Bronze after streaming and finalizing each delivery, crash-free. */
  private def cleanBronze(): Seq[(Int, String)] = {
    val lake = Lake(Files.createTempDirectory("stream-clean").toString)
    Deliveries.foreach { d =>
      Chunker.deliver(d, lake.landing("reviews"), bufferBytes = 12)
      LandingStream.runAvailableNow(spark, lake, "reviews")
    }
    bronzeRows(lake)
  }

  /** Lose the newest batch's entry in the checkpoint's commit log. */
  private def dropLastCommit(lake: Lake): Unit = {
    val commits = new java.io.File(s"${lake.root}/_checkpoints/reviews/commits")
    val last = commits.list().filter(_.matches("\\d+")).map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
  }

  /** Stream and finalize the first delivery, then stream the second and
    * let `crash` undo what a crash would not have reached (given the
    * staged files of the second batch). Restart on the same checkpoint
    * and finalize. Returns bronze and the staged row count the restart
    * left for finalize.
    */
  private def crashedBronze(crash: (Lake, Seq[java.io.File]) => Unit): (Seq[(Int, String)], Long) = {
    val lake = Lake(Files.createTempDirectory("stream-crash").toString)
    Chunker.deliver(Deliveries(0), lake.landing("reviews"), bufferBytes = 12)
    LandingStream.runAvailableNow(spark, lake, "reviews")
    Chunker.deliver(Deliveries(1), lake.landing("reviews"), bufferBytes = 12)
    LandingStream.start(spark, lake, "reviews").awaitTermination()
    crash(lake, staged(lake))
    LandingStream.start(spark, lake, "reviews").awaitTermination()
    val stagedRows = spark.read.parquet(LandingStream.stagingDir(lake, "reviews")).count()
    LandingStream.finalizeBronze(spark, lake, "reviews")
    assert(staged(lake).isEmpty, "finalize left staged files behind")
    (bronzeRows(lake), stagedRows)
  }

  test("landing stream crash after the staged write, before the offset commit: bronze equals a clean run") {
    val (bronze, stagedRows) = crashedBronze((lake, _) => dropLastCommit(lake))
    // the replay appended the second batch's 2 rows a second time
    assert(stagedRows == 4)
    assert(bronze == cleanBronze())
    assert(bronze.distinct == bronze, "duplicate rows in bronze")
  }

  test("landing stream crash after the offset log, before the staged write: bronze equals a clean run") {
    val (bronze, stagedRows) = crashedBronze { (lake, batchFiles) =>
      dropLastCommit(lake)
      assert(batchFiles.nonEmpty)
      batchFiles.foreach(f => assert(f.delete()))
    }
    // the replay wrote the second batch's 2 rows once
    assert(stagedRows == 2)
    assert(bronze == cleanBronze())
    assert(bronze.distinct == bronze, "duplicate rows in bronze")
  }
}
