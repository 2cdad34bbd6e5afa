package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** Streaming watermark audit (WatermarkAuditStream): streamed over
  * arrival-ordered micro-batches ≡ the batch q211 report, and a
  * crash-replayed batch moves neither the ledger nor the state.
  */
class WatermarkAuditStreamSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType)))

  test("streamed over arrival-ordered micro-batches ≡ batch q211; replay no-op") {
    val root = Files.createTempDirectory("wm-audit").toString
    val (in, state, ledger, cp) = (s"$root/in", s"$root/state", s"$root/ledger", s"$root/cp")
    // the synthetic feed arrives perfectly ordered (zero lateness, a
    // trivial equality) — plant REAL disorder: every 7th event's
    // event time drops by a day, so it arrives late relative to the
    // running max. The batch side reads the SAME perturbed table, so
    // the equality stays exact.
    val perturbedDir = s"$root/perturbed"
    graft.core.Tables.load(spark, sf, "events")
      .withColumn("ts",
        when(col("event_id") % 7 === 0, col("ts") - lit(86400000000000L))
          .otherwise(col("ts")))
      .write.parquet(s"$perturbedDir/events.parquet")
    val ev = graft.core.Tables.load(spark, perturbedDir, "events")
      .withColumn("ts_us", unix_micros(EventStream.nanosToTs(col("ts"))))
      .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"))
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    val (c1, c2) = (maxId / 3, 2 * maxId / 3)

    Files.createDirectories(java.nio.file.Paths.get(in))
    // arrival order = event_id order: files written sequentially so the
    // file source's mod-time ordering delivers them as batches 0, 1, 2
    ev.filter(col("event_id") <= c1).coalesce(1).write.parquet(s"$in/f1")
    ev.filter(col("event_id") > c1 && col("event_id") <= c2)
      .coalesce(1).write.parquet(s"$in/f2")
    ev.filter(col("event_id") > c2).coalesce(1).write.parquet(s"$in/f3")

    WatermarkAuditStream.init(spark, state)
    WatermarkAuditStream.start(spark, s"$in/*", schema, state, ledger, cp,
      maxFilesPerTrigger = Some(1)).awaitTermination()

    val streamed = WatermarkAuditStream.currentReport(spark, ledger)
      .collect().map(_.toSeq).toSeq
    val batch = graft.queries.AnalyticsOpsQueries.q211WatermarkAudit(spark, perturbedDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed audit must equal batch q211:\n$streamed\nvs\n$batch")
    // the split actually exercised cross-batch state: some lateness is
    // non-zero and spans more than one batch partial
    assert(spark.read.parquet(ledger).select(col("batch_id")).distinct().count() == 3)
    assert(batch.exists(r => r(2).asInstanceOf[Long] > 0L),
      "fixture must contain out-of-order events")

    // crash replay of the last batch: same id, same content → ledger
    // partial and state snapshot overwrite themselves, report unchanged
    WatermarkAuditStream.applyBatch(ev.filter(col("event_id") > c2), 2L, state, ledger)
    val replayed = WatermarkAuditStream.currentReport(spark, ledger)
      .collect().map(_.toSeq).toSeq
    assert(replayed == batch, "replayed batch must be a no-op")
  }

  test("compaction folds sealed partials into the rollup; report invariant; artifacts bounded") {
    import spark.implicits._
    val root = Files.createTempDirectory("wm-audit-compact").toString
    val (state, ledger) = (s"$root/state", s"$root/ledger")
    WatermarkAuditStream.init(spark, state)
    def batch(id: Long, rows: (Long, Long, Long, String)*): Unit =
      WatermarkAuditStream.applyBatch(
        rows.toSeq.toDF("event_id", "ts_us", "user_id", "event_type"),
        id, state, ledger)
    // six batches; user 1's time zig-zags so several batches carry lateness
    (0L until 6L).foreach { i =>
      val t = if (i % 2 == 0) 100L + i else 10L + i
      batch(i, (2 * i + 1, t, 1L, "view"), (2 * i + 2, t + 5, 2L, "click"))
    }
    val before = WatermarkAuditStream.currentReport(spark, ledger)
      .as[(String, Long, Long, Long, Long)].collect().toSeq

    WatermarkAuditStream.compact(spark, ledger)
    val after = WatermarkAuditStream.currentReport(spark, ledger)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(after == before, s"compaction changed the report: $after vs $before")

    // covered partials are gone; the rollup is the single survivor
    val fs = new org.apache.hadoop.fs.Path(ledger)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partials = fs.listStatus(new org.apache.hadoop.fs.Path(ledger)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
    assert(partials.isEmpty, s"covered partials not reclaimed: $partials")

    // state snapshots are auto-pruned to the trailing window
    val snaps = fs.listStatus(new org.apache.hadoop.fs.Path(state)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("snap_"))
    assert(snaps.size == BatchSink.KeepSnapshots,
      s"expected ${BatchSink.KeepSnapshots} snapshots, got $snaps")

    // a REPLAY of a covered batch re-creates its partition — readers
    // must ignore it (coverage excludes it), not double-count
    batch(5L, (11L, 105L, 1L, "view"), (12L, 110L, 2L, "click"))
    val replayed = WatermarkAuditStream.currentReport(spark, ledger)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(replayed == before, s"covered replay double-counted: $replayed")

    // the stream continues: new batches land above the rollup coverage
    batch(6L, (13L, 1L, 1L, "view"))
    val viewRow = WatermarkAuditStream.currentReport(spark, ledger)
      .filter($"event_type" === "view")
      .as[(String, Long, Long, Long, Long)].head()
    assert(viewRow._2 == 7L, s"post-compact batch not counted: $viewRow")
    // and a second compaction folds the new partials too
    WatermarkAuditStream.compact(spark, ledger)
    val viewRow2 = WatermarkAuditStream.currentReport(spark, ledger)
      .filter($"event_type" === "view")
      .as[(String, Long, Long, Long, Long)].head()
    assert(viewRow2 == viewRow)
  }

  test("closed form: cross-batch out-of-order is seen, in-order is free") {
    import spark.implicits._
    val root = Files.createTempDirectory("wm-audit-cf").toString
    val (state, ledger) = (s"$root/state", s"$root/ledger")
    WatermarkAuditStream.init(spark, state)
    // batch 0: user 1 at t=100 then t=50 (in-batch late by 50);
    // batch 1: user 1 at t=80 (cross-batch late by 20 vs the carried max 100)
    WatermarkAuditStream.applyBatch(
      Seq((1L, 100L, 1L, "view"), (2L, 50L, 1L, "view"))
        .toDF("event_id", "ts_us", "user_id", "event_type"), 0L, state, ledger)
    WatermarkAuditStream.applyBatch(
      Seq((3L, 80L, 1L, "view"))
        .toDF("event_id", "ts_us", "user_id", "event_type"), 1L, state, ledger)
    val r = WatermarkAuditStream.currentReport(spark, ledger)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(("view", 3L, 2L, 50L, 70L)), r.toString)
  }
}
