package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming embedding-drift monitor — the incremental twin of the
  * batch q205 readout
  * ([[graft.queries.SimilarityQueries.q205EmbeddingDrift]]): vector
  * deliveries arrive as files, each micro-batch contributes its
  * per-dimension quantized sums, and the current per-dimension mean
  * shift against a frozen reference snapshot is available at any
  * point — "alert when the new embedding deliveries stop looking like
  * the reference space" without ever rescanning history.
  *
  * The state is per-dimension (Σ quantized value, n) — EXACTLY
  * associative, so each batch writes only its OWN partial sums to a
  * batch-id-keyed path and the readout aggregates partials; there is
  * no cross-batch read-modify-write at all: each batch publishes one
  * [[BatchSink]] partition, and the readout is a pure aggregate over
  * whatever partials exist.
  *
  * Same micro-quantization and sign-concordant integer division as
  * the batch q205, so a streamed readout is bit-comparable to (and,
  * over the same rows, bit-IDENTICAL to — EmbeddingDriftStreamSpec)
  * the batch report.
  *
  * Scale shape: per batch, ONE dim-keyed hash aggregate with map-side
  * partials over the posexploded values — the shuffle carries d rows
  * per task, never vectors; state grows d rows per batch (compact
  * anytime by re-aggregating — the partials are associative); the
  * readout is a d-row aggregate joined to a d-row broadcast reference.
  */
object EmbeddingDriftStream {

  /** Per-dimension (dim_idx, sum_q, n) of an embedding relation —
    * the shared quantized-sum kernel (the q205 arithmetic).
    */
  def dimSums(vecs: DataFrame): DataFrame =
    vecs.select(posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select((col("pos0") + 1).as("dim_idx"),
        expr("cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)").as("q"))
      .groupBy(col("dim_idx"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))

  /** Build and persist the frozen reference profile (d rows). */
  def buildReference(vecs: DataFrame, refDir: String): Unit =
    dimSums(vecs).coalesce(1).write.mode("overwrite").parquet(refDir)

  /** One micro-batch contribution (exposed for tests): the batch's
    * per-dim partial sums, published as its partition.
    */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit =
    BatchSink.Partitions.publish(dimSums(batch).coalesce(1), stateDir, batchId)

  /** Start the vector-feed → drift-state stream. */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      stateDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    BatchSink.start(reader.parquet(inDir), trigger, checkpointDir)(
      applyBatch(_, _, stateDir))
  }

  /** Compact the accumulated partials into ONE consolidated partial at
    * `dstDir` — the state over a long-running stream grows d rows per
    * batch, and because the partials are exactly associative the
    * consolidation is a pure aggregate with an identical readout
    * (EmbeddingDriftStreamSpec pins the equality). Write-new-then-swap
    * rather than rewrite-in-place: the caller points the monitor at
    * `dstDir` (atomically via [[graft.medallion.Versioned]] in
    * production — the object-store-safe publish), so a crash mid-
    * compact leaves the live state untouched.
    */
  def compact(spark: SparkSession, stateDir: String, dstDir: String): Unit =
    spark.read.parquet(stateDir)
      .groupBy(col("dim_idx"))
      .agg(sum(col("sum_q")).as("sum_q"), sum(col("n")).as("n"))
      .coalesce(1).write.mode("overwrite")
      .parquet(BatchSink.Partitions.dir(dstDir, 0))

  /** Current drift readout: reference means (a) vs the accumulated
    * stream means (b), per dimension — the q205 row shape
    * (dim_idx, mean_a_micro, mean_b_micro, shift_micro), same
    * sign-concordant integer division (the q161 rule).
    */
  def currentDrift(spark: SparkSession, refDir: String,
      stateDir: String): DataFrame = {
    val ref = spark.read.parquet(refDir)
      .select(col("dim_idx"), col("sum_q").as("sum_a"), col("n").as("n_a"))
    val streamed = spark.read.parquet(stateDir)
      .groupBy(col("dim_idx"))
      .agg(sum(col("sum_q")).as("sum_b"), sum(col("n")).as("n_b"))
    streamed.join(broadcast(ref), Seq("dim_idx"))
      .select(col("dim_idx").cast("int").as("dim_idx"),
        expr("CASE WHEN sum_a >= 0 THEN sum_a div n_a ELSE -((-sum_a) div n_a) END")
          .as("mean_a_micro"),
        expr("CASE WHEN sum_b >= 0 THEN sum_b div n_b ELSE -((-sum_b) div n_b) END")
          .as("mean_b_micro"))
      .withColumn("shift_micro", abs(col("mean_a_micro") - col("mean_b_micro")))
      .orderBy(col("dim_idx"))
  }
}
