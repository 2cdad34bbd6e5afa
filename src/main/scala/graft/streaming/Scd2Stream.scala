package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.relational.Scd2

/** Streaming twin of the batch q101 SCD2 merge
  * ([[graft.queries.AnalyticsOpsQueries.q101ScdMerge]]): change batches
  * arrive as files and each micro-batch MERGEs into a persisted,
  * versioned dimension history — the "streaming upsert into a
  * dimension table" shape a lakehouse format provides, rebuilt on
  * plain parquet.
  *
  * ==Versioned snapshots==
  * A [[BatchSink]] snapshot chain: micro-batch `N` reads version N+1
  * (written by its predecessor; version 1 is [[init]]'s bootstrap) and
  * publishes version N+2. TIME TRAVEL does not need old snapshots: the
  * type-2 history lives in the current snapshot's valid_from/valid_to
  * rows (any past version is a filter), and q64's snapshot diff runs
  * against any two versions still in the chain's window.
  *
  * Scale shape: dimensions are small against the facts (the SCD
  * premise), so a full snapshot per batch is dimension-sized, not
  * fact-sized; the merge itself is [[Scd2.merge]]'s single open-slice
  * equi-join. For a dimension too large to rewrite per batch, the same
  * chain holds with per-batch DELTA files (closures + opens) and
  * periodic compaction — the plan shape of the merge is unchanged.
  */
object Scd2Stream {

  /** Bootstrap the history chain: the snapshot's values open at
    * version 1.
    */
  def init(snapshot: DataFrame, dimDir: String, key: String,
      attr: String): Unit =
    BatchSink.Snapshots.advance(Scd2.init(snapshot, key, attr, version = 1), dimDir, 1)

  /** One micro-batch MERGE (exposed for tests). `version = batchId + 2`
    * keys both the snapshot chain and the emitted valid_from/valid_to
    * stamps.
    */
  def applyBatch(changes: DataFrame, batchId: Long, dimDir: String,
      key: String, attr: String): Unit = {
    val spark = changes.sparkSession
    val version = batchId.toInt + 2
    val history = BatchSink.readSnapshot(spark, dimDir, version - 1)
    // pin the micro-batch: streaming sources don't guarantee
    // re-readability inside foreachBatch, and the merge references the
    // batch through two join branches
    val b = graft.core.Materialize.pin(changes)
    BatchSink.Snapshots.advance(Scd2.merge(history, b, key, attr, version), dimDir, version)
  }

  /** Start the change-feed → dimension-history stream against an
    * [[init]]-bootstrapped chain.
    */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      dimDir: String, checkpointDir: String, key: String, attr: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(applyBatch(_, _, dimDir, key, attr))

  /** The current (highest-version) history snapshot. */
  def readCurrent(spark: SparkSession, dimDir: String): DataFrame =
    BatchSink.readSnapshot(spark, dimDir)
}
