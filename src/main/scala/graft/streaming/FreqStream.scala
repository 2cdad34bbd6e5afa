package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.dedup.MinHashLSH

/** Incremental heavy-hitter maintenance — the streaming twin of q81
  * (exact per-source frequent tokens): documents arrive as files in a
  * landing dir, each micro-batch reduces to its (source, token)
  * partial counts, and partials are the PERSISTED state — mergeable,
  * append-only, never requiring a raw-text rescan. The serving query
  * ([[frequentTokens]]) merges partials and applies q81's exact cut
  * (count ≥ max(1, ⌈0.005·n⌉) of the source's token stream), so
  * streamed-then-served ≡ the batch query on the same corpus.
  *
  * This is the incremental-materialized-view shape: the aggregate
  * (counts) is maintained under appends because SUM is mergeable;
  * the non-mergeable part (the threshold cut, which depends on the
  * final total n) stays in the serving query where it is cheap —
  * candidate-sized, not stream-sized.
  *
  * ==Replay safety==
  * Each batch publishes its partials as its own [[BatchSink]]
  * partition, so a replay never double-counts. Empty batches write
  * nothing.
  *
  * ==100 TB shape==
  * Per-batch partials are bounded by the batch's vocabulary (not the
  * corpus's); the serving merge is one hash aggregate over compacted
  * partials — input is Σ per-batch vocab sizes, orders of magnitude
  * below the raw token stream. When batch count grows,
  * [[compactCounts]] folds all partitions into one partial (same
  * merge, run once), restoring O(vocab) serving cost.
  */
object FreqStream {

  val schema: StructType = StructType.fromDDL(
    "doc_id LONG, text STRING, source STRING")

  /** One micro-batch: reduce to (source, w, c) partials and persist
    * under the batch's own partition (exposed for tests / direct use).
    */
  def countAndAppend(batch: DataFrame, batchId: Long, countsDir: String): Unit = {
    if (batch.isEmpty) return
    val counts = MinHashLSH.shingleRows(batch, "source", "text", n = 1)
      .filter(col("sh") =!= "")
      .groupBy(col("sid").as("source"), col("sh").as("w"))
      .agg(count(lit(1)).as("c"))
    BatchSink.Partitions.publish(counts, countsDir, batchId)
  }

  def start(spark: SparkSession, inDir: String, countsDir: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(countAndAppend(_, _, countsDir))

  /** Merged partial counts at (source, w) grain — the maintained view. */
  def mergedCounts(spark: SparkSession, countsDir: String): DataFrame =
    spark.read.parquet(countsDir)
      .groupBy(col("source"), col("w"))
      .agg(sum(col("c")).as("c"))

  /** q81's exact serving cut over the maintained counts: tokens making
    * up ≥ `fraction` of their source's token stream, exact counts.
    */
  def frequentTokens(spark: SparkSession, countsDir: String,
                     fraction: Double = 0.005): DataFrame = {
    val merged = mergedCounts(spark, countsDir)
    val totals = merged.groupBy(col("source")).agg(sum(col("c")).as("n"))
    merged.join(broadcast(totals), Seq("source"))
      .filter(col("c") >= greatest(lit(1L), ceil(col("n") * fraction).cast("long")))
      .select(col("source"), col("w"), col("c").cast("long").as("c"))
      .orderBy(col("source"), col("w"))
  }

  /** Fold every batch partition into a single compacted partial —
    * bounds serving cost after many small batches. Runs the SAME merge
    * as serving, writes the result to a staging dir (under a fresh
    * `batch_id=0` partition so the layout is unchanged), then swaps it
    * in atomically via [[graft.medallion.Maintenance.replaceDir]]. A
    * crash mid-swap heals through `Maintenance.healStranded`.
    */
  def compactCounts(spark: SparkSession, countsDir: String): Unit = {
    val staging = countsDir + ".compact-staging"
    mergedCounts(spark, countsDir)
      .select(col("source"), col("w"), col("c"))
      .coalesce(1).write.mode("overwrite").parquet(BatchSink.Partitions.dir(staging, 0))
    graft.medallion.Maintenance.replaceDir(spark, staging, countsDir)
  }
}
