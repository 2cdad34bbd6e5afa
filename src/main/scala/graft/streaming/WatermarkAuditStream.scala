package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming watermark-sizing audit — the incremental twin of the
  * batch q211 readout
  * ([[graft.queries.AnalyticsOpsQueries.q211WatermarkAudit]]): event
  * files arrive in ingest order, each micro-batch scores its events'
  * LATENESS against the per-user running event-time maximum carried
  * across batches, and the accumulated per-type report (out-of-order
  * count, worst and total lateness) is available at any point — the
  * monitor that tells an operator their deployed `withWatermark`
  * bound is too tight BEFORE the streams silently drop data.
  *
  * An event's lateness depends only on EARLIER-ARRIVING events of the
  * same user, so the computation splits exactly at batch boundaries:
  * within the batch a user-partitioned running max (the q211 window),
  * across batches one (user_id, max_ts) state row joined in. State
  * is a [[BatchSink]] snapshot chain — batch N reads version N+1 and
  * publishes version N+2 — and the per-type partials are one
  * [[BatchSink]] ledger partition per batch. Per-type partials
  * aggregate with sum/sum/max/sum —
  * exactly associative — so the readout is a pure aggregate over the
  * ledger, and for arrival-ordered delivery the streamed report is
  * BIT-IDENTICAL to batch q211 (WatermarkAuditStreamSpec).
  *
  * Scale shape: per batch, ONE user-partitioned window over batch
  * rows, one equi-join against the user-count-sized state (AQE
  * broadcasts a small batch side), one t-row partial write; state is
  * one row per user ever seen.
  *
  * ==Retention==
  * Without it, a long-running stream accumulates one snap dir and one
  * ledger partition PER BATCH, and [[currentReport]] re-reads the
  * whole history — the small-file death at day-N grain. So the state
  * chain keeps its trailing window, and [[compact]] folds sealed
  * ledger partials into a rollup published through a
  * [[graft.medallion.Versioned]] pointer (sum/sum/max/sum are
  * associative, so rollup ∪ uncovered partials ≡ all partials). The
  * rollup carries the max batch id it covers; readers take the
  * rollup plus partitions STRICTLY ABOVE it, so a crash between
  * rollup publish and partition delete — or a replayed batch
  * re-writing a covered partition — never double-counts.
  */
object WatermarkAuditStream {

  /** Bootstrap an empty state chain. */
  def init(spark: SparkSession, stateDir: String): Unit = {
    import spark.implicits._
    BatchSink.Snapshots.advance(
      Seq.empty[(Long, Long)].toDF("user_id", "max_ts_us"), stateDir, 1)
  }

  /** One micro-batch apply (exposed for tests). `batch` columns:
    * (event_id, ts_us, user_id, event_type).
    */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      ledgerDir: String): Unit = {
    val spark = batch.sparkSession
    val version = batchId + 2
    val state = BatchSink.readSnapshot(spark, stateDir, version - 1)
      .select(col("user_id"), col("max_ts_us").as("state_max_us"))
    val pinned = graft.core.Materialize.pin(batch)
    val inBatch = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = pinned
      .withColumn("batch_prev_us", max(col("ts_us")).over(inBatch))
      .join(state, Seq("user_id"), "left")
      .withColumn("prev_max_us", greatest(col("batch_prev_us"), col("state_max_us")))
      .withColumn("lateness_us",
        when(col("prev_max_us") > col("ts_us"), col("prev_max_us") - col("ts_us"))
          .otherwise(0L))
      .transform(graft.core.Materialize.pin)
    BatchSink.Partitions.publish(
      scored.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("lateness_us") > 0, 1L).otherwise(0L)).as("n_out_of_order"),
          max(col("lateness_us")).as("max_lateness_us"),
          sum(col("lateness_us")).as("total_lateness_us"))
        .coalesce(1),
      ledgerDir, batchId)
    // next state: per-user max over carried state ∪ batch
    BatchSink.Snapshots.advance(
      scored.select(col("user_id"), col("ts_us"))
        .unionByName(state.select(col("user_id"), col("state_max_us").as("ts_us")))
        .groupBy(col("user_id")).agg(max(col("ts_us")).as("max_ts_us")),
      stateDir, version)
  }

  private def rollupRoot(ledgerDir: String): String = s"$ledgerDir/_rollup"

  /** (covered-through batch id, rolled-up rows) from the active rollup
    * version; (-1, empty) when never compacted. The `through` marker
    * rides a sentinel NULL-event_type row so an all-quiet (zero-event)
    * compaction still records its coverage.
    */
  private def readRollup(
      spark: SparkSession, ledgerDir: String): (Long, Option[DataFrame]) =
    try {
      val df = graft.medallion.Versioned.read(spark, rollupRoot(ledgerDir))
      val through = df.agg(max(col("through_batch"))).first().getLong(0)
      (through, Some(df.filter(col("event_type").isNotNull)
        .drop("through_batch")))
    } catch { case _: java.io.FileNotFoundException => (-1L, None) }

  /** Published ledger partitions above `through`. Committed zero-row
    * partitions are included, so compaction also reclaims those.
    */
  private def partitionsAbove(
      spark: SparkSession, ledgerDir: String, through: Long): Seq[(Long, String)] =
    BatchSink.Partitions.list(spark, ledgerDir).filter(_._1 > through)

  /** Fold every sealed ledger partial into the rollup and delete the
    * covered partitions. Call from the SAME single-threaded loop that
    * drives `applyBatch`, between triggers — the partial for a batch
    * is final the moment its `applyBatch` returns, and a replay
    * re-writing a covered partition is ignored by readers (they only
    * see partitions above the rollup's coverage). Crash-safe: the
    * rollup publishes through an atomic [[graft.medallion.Versioned]]
    * pointer BEFORE any partition is deleted, so every crash point
    * leaves readers a consistent (rollup, uncovered-partitions) pair.
    */
  def compact(spark: SparkSession, ledgerDir: String): Unit = {
    val (through, rolled) = readRollup(spark, ledgerDir)
    val fresh = partitionsAbove(spark, ledgerDir, through)
    if (fresh.isEmpty) return
    val newThrough = fresh.map(_._1).max
    val freshRows = spark.read.parquet(fresh.map(_._2): _*)
    val combined = rolled.fold(freshRows)(_.unionByName(freshRows))
      .groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("n_out_of_order")).as("n_out_of_order"),
        max(col("max_lateness_us")).as("max_lateness_us"),
        sum(col("total_lateness_us")).as("total_lateness_us"))
      .withColumn("through_batch", lit(newThrough))
    import spark.implicits._
    val sentinel = Seq((Option.empty[String], 0L, 0L, 0L, 0L, newThrough))
      .toDF("event_type", "n_events", "n_out_of_order",
        "max_lateness_us", "total_lateness_us", "through_batch")
    graft.medallion.Versioned.commit(spark, rollupRoot(ledgerDir),
      combined.unionByName(sentinel).coalesce(1))
    val fs = new org.apache.hadoop.fs.Path(ledgerDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fresh.foreach { case (_, dir) => fs.delete(new org.apache.hadoop.fs.Path(dir), true) }
  }

  /** Start the event-feed → audit stream against an [[init]]-
    * bootstrapped chain. `schema` describes
    * (event_id, ts_us, user_id, event_type).
    */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      stateDir: String, ledgerDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    BatchSink.start(reader.parquet(inDir), trigger, checkpointDir)(
      applyBatch(_, _, stateDir, ledgerDir))
  }

  /** The accumulated per-type report — the q211 row shape: the rollup
    * (if any) plus partials STRICTLY above its coverage (see class-doc
    * Retention for why covered partitions still on disk are excluded).
    */
  def currentReport(spark: SparkSession, ledgerDir: String): DataFrame = {
    val (through, rolled) = readRollup(spark, ledgerDir)
    val fresh = partitionsAbove(spark, ledgerDir, through)
    val parts =
      if (fresh.isEmpty) None
      else Some(spark.read.parquet(fresh.map(_._2): _*))
    val all = (rolled, parts) match {
      case (Some(r), Some(p)) => r.unionByName(p)
      case (Some(r), None) => r
      case (None, Some(p)) => p
      case (None, None) =>
        // typed empty relation, not spark.emptyDataFrame: callers
        // select/deserialize the five report columns and a zero-column
        // frame would fail resolution on a freshly-initialized ledger
        import spark.implicits._
        Seq.empty[(String, Long, Long, Long, Long)]
          .toDF("event_type", "n_events", "n_out_of_order",
            "max_lateness_us", "total_lateness_us")
    }
    all.groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("n_out_of_order")).as("n_out_of_order"),
        max(col("max_lateness_us")).as("max_lateness_us"),
        sum(col("total_lateness_us")).as("total_lateness_us"))
      .orderBy(col("event_type"))
  }
}
