package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.medallion.{BronzeFlow, Chunker, Lake, LandingFlow}

/** Streaming landing→bronze must produce exactly the batch result
  * (SURVEY §2.9: AvailableNow = batch-equivalent, replayable), and the
  * event-time rollup must match its batch twin.
  */
class StreamingSpec extends SparkTestBase {

  test("stream landing->bronze ≡ batch bronze on the fixture CSVs") {
    val root = Files.createTempDirectory("stream-e2e").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val lake = Lake(root)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)

    val bronzePath = LandingStream.runAvailableNow(spark, lake, "reviews")
    val streamed = spark.read.parquet(bronzePath)
    val batch = BronzeFlow.read(spark, lake.landing("reviews"))

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a second Chunker delivery into one landing dir keeps the first, and both stream into bronze") {
    val lake = Lake(Files.createTempDirectory("stream-two-deliveries").toString)
    val landing = lake.landing("reviews")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, text STRING")
    def bronzeIds: Set[Int] = spark.read
      .parquet(LandingStream.runAvailableNow(spark, lake, "reviews", schema))
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

  test("declared-schema stream skips the inference scan and lands the same bronze") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString

    class BytesRead extends SparkListener {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    def measure(f: => Unit): Long = {
      val l = new BytesRead
      spark.sparkContext.addSparkListener(l)
      try {
        f
        // listener bus is async: poll until the count settles
        var prev = -1L
        var settled = 0
        while (settled < 3) {
          Thread.sleep(100)
          val now = l.bytes.get
          if (now == prev) settled += 1 else { settled = 0; prev = now }
        }
      } finally spark.sparkContext.removeSparkListener(l)
      l.bytes.get
    }

    def landingBytes(lake: Lake): Long = {
      val d = new java.io.File(lake.landing("reviews"))
      d.listFiles().filter(_.isFile).map(_.length()).sum
    }

    // inference path: pre-stream schema scan + the stream's own read
    val lakeInfer = Lake(Files.createTempDirectory("stream-infer").toString)
    LandingFlow.run(fixtures, lakeInfer, maxBytes = 100, bufferBytes = 1000)
    val inferBytes = measure(LandingStream.runAvailableNow(spark, lakeInfer, "reviews"))

    // declared-contract path: the stream's read only
    val lakeDecl = Lake(Files.createTempDirectory("stream-decl").toString)
    LandingFlow.run(fixtures, lakeDecl, maxBytes = 100, bufferBytes = 1000)
    val schema = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(lakeInfer.landing("reviews")).schema
    val declBytes = measure(
      LandingStream.runAvailableNow(spark, lakeDecl, "reviews", schema))

    // the declared path saves at least one full landing scan
    val lb = landingBytes(lakeDecl)
    assert(declBytes <= inferBytes - lb * 9 / 10,
      s"declared=$declBytes inferred=$inferBytes landing=$lb")

    // and both paths land the same bronze
    val a = spark.read.parquet(lakeInfer.bronze("reviews"))
    val b = spark.read.parquet(lakeDecl.bronze("reviews"))
    assert(a.schema == b.schema)
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
  }

  test("stream restart is exactly-once: re-running adds nothing") {
    val root = Files.createTempDirectory("stream-idem").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val lake = Lake(root)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)

    LandingStream.runAvailableNow(spark, lake, "albums")
    val first = spark.read.parquet(lake.bronze("albums")).count()
    // second AvailableNow run against the same checkpoint: no new files
    LandingStream.runAvailableNow(spark, lake, "albums")
    val second = spark.read.parquet(lake.bronze("albums")).count()
    assert(first == second)
  }

  test("multi-dataset entry threads declared schemas: no inference scan, same bronze") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val datasets = Seq("albums", "reviews")

    class BytesRead extends SparkListener {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    def measure(f: => Unit): Long = {
      val l = new BytesRead
      spark.sparkContext.addSparkListener(l)
      try {
        f
        var prev = -1L
        var settled = 0
        while (settled < 3) {
          Thread.sleep(100)
          val now = l.bytes.get
          if (now == prev) settled += 1 else { settled = 0; prev = now }
        }
      } finally spark.sparkContext.removeSparkListener(l)
      l.bytes.get
    }
    def landingBytes(lake: Lake): Long = datasets.map { d =>
      new java.io.File(lake.landing(d)).listFiles().filter(_.isFile).map(_.length()).sum
    }.sum

    // inference path: each dataset pays a pre-stream schema scan
    val lakeInfer = Lake(Files.createTempDirectory("streamall-infer").toString)
    LandingFlow.run(fixtures, lakeInfer, maxBytes = 100, bufferBytes = 1000)
    val inferBytes = measure(
      LandingStream.runAllAvailableNow(spark, lakeInfer, datasets))

    // declared-contract path: every dataset's schema passed through
    val lakeDecl = Lake(Files.createTempDirectory("streamall-decl").toString)
    LandingFlow.run(fixtures, lakeDecl, maxBytes = 100, bufferBytes = 1000)
    val schemas = datasets.map { d =>
      d -> spark.read.option("header", "true").option("inferSchema", "true")
        .csv(lakeInfer.landing(d)).schema
    }.toMap
    val declBytes = measure(
      LandingStream.runAllAvailableNow(spark, lakeDecl, datasets, schemas))

    // declared schemas save at least one full landing scan across the set
    val lb = landingBytes(lakeDecl)
    assert(declBytes <= inferBytes - lb * 9 / 10,
      s"declared=$declBytes inferred=$inferBytes landing=$lb")

    // and each dataset lands the same bronze either way
    for (d <- datasets) {
      val a = spark.read.parquet(lakeInfer.bronze(d))
      val b = spark.read.parquet(lakeDecl.bronze(d))
      assert(a.schema == b.schema, s"schema mismatch for $d")
      assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet,
        s"row mismatch for $d")
    }
  }

  test("finalize is incremental: a rerun over unchanged landing rewrites nothing") {
    val root = Files.createTempDirectory("stream-incr").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val lake = Lake(root)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)

    val bronzePath = LandingStream.runAvailableNow(spark, lake, "reviews")
    def listing(dir: String): Map[String, Long] = {
      val d = new java.io.File(dir)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
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
    spark.range(3).selectExpr("id", "id * 2 AS v").write.parquet(lake.bronze("d"))
    // newly staged rows carry a column bronze has never seen
    spark.range(3, 5).selectExpr("id", "id * 2 AS v", "'x' AS tag")
      .write.parquet(LandingStream.stagingDir(lake, "d"))
    LandingStream.finalizeBronze(spark, lake, "d")
    val out = spark.read.parquet(lake.bronze("d"))
    assert(out.columns.toSet == Set("id", "v", "tag"))
    assert(out.count() == 5)
    assert(out.filter(col("tag").isNotNull).count() == 2, "drifted column values lost")
    // drift rewrite also consumes staging: a rerun is a no-op
    LandingStream.finalizeBronze(spark, lake, "d")
    assert(spark.read.parquet(lake.bronze("d")).count() == 5)
  }

  test("finalize self-heals a crashed drift rewrite (bronze stranded at _old)") {
    val root = Files.createTempDirectory("stream-heal").toString
    val lake = Lake(root)
    spark.range(3).selectExpr("id", "id * 2 AS v").write.parquet(lake.bronze("d"))
    spark.range(3, 5).selectExpr("id", "id * 2 AS v")
      .write.parquet(LandingStream.stagingDir(lake, "d"))
    // simulate dying inside the swap: bronze moved aside, never moved back
    assert(new java.io.File(lake.bronze("d"))
      .renameTo(new java.io.File(lake.bronze("d") + "_old")))
    LandingStream.finalizeBronze(spark, lake, "d")
    val out = spark.read.parquet(lake.bronze("d"))
    assert(out.count() == 5, "pre-crash bronze rows lost after self-heal")
  }

  test("streaming dedup-within-watermark collapses redelivered events") {
    val dir = Files.createTempDirectory("stream-dedup").toString
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(2000)
    ev.write.parquet(s"$dir/in")
    ev.write.mode("append").parquet(s"$dir/in") // at-least-once redelivery
    val stream = spark.readStream.schema(ev.schema).parquet(s"$dir/in")
    // horizon wider than the dataset's time span: every redelivery is
    // deduped, nothing is dropped as late
    val q = EventStream.dedupedEvents(stream, watermark = "30 days")
      .writeStream.format("memory").queryName("events_dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("events_dedup_stream")
    assert(out.count() == ev.select("event_id").distinct().count())
    assert(out.select("event_id").distinct().count() == out.count())
    // output keeps the events schema — the watermark helper must not leak
    assert(out.columns.toSeq == ev.columns.toSeq, out.columns.mkString(","))
  }

  test("event-time hourly rollup: streaming result ≡ batch result") {
    val dir = "/root/testdata/sf0.001"
    val stream = EventStream.readEventsStream(spark, dir)
    val q = EventStream.hourlyRollup(stream)
      .writeStream
      .format("memory")
      .queryName("events_hourly_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("events_hourly_stream")
    val batch = EventStream.hourlyRollup(spark.read.parquet(s"$dir/events.parquet"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("event-time hopping rollup: streaming result ≡ batch result") {
    val dir = "/root/testdata/sf0.001"
    val stream = EventStream.readEventsStream(spark, dir)
    val q = EventStream.hoppingRollup(stream)
      .writeStream
      .format("memory")
      .queryName("events_hopping_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("events_hopping_stream")
    val batch = EventStream.hoppingRollup(spark.read.parquet(s"$dir/events.parquet"))
    assert(streamed.count() > 0)
    // each event lands in exactly size/slide = 2 windows
    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    assert(streamed.agg(sum("n_events")).head.getLong(0) == 2 * nEvents)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("event-time session rollup: streaming result ≡ batch q70") {
    val dir = "/root/testdata/sf0.001"
    val stream = EventStream.readEventsStream(spark, dir)
    val q = EventStream.sessionRollup(stream)
      .writeStream
      .format("memory")
      .queryName("events_session_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("events_session_stream")
    assert(streamed.count() > 0)
    // the claim under test (q70's doc): the same session_window
    // expression under a watermark is the streaming sessionizer —
    // streamed sessions must equal the batch q70 result exactly
    val batch = graft.queries.AnalyticsOpsQueries.q70SessionWindow(spark, dir)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // every event is in exactly one session
    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    assert(streamed.agg(sum("n_events")).head.getLong(0) == nEvents)
  }
}
