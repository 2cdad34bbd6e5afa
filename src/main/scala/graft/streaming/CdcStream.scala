package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming CDC APPLY — the consumer side of the q134 delta stream
  * ([[graft.queries.AnalyticsOpsQueries.q134SnapshotCdc]]): change
  * batches of (op ∈ {I, U, D}, key, value) rows arrive as files and
  * each micro-batch applies them to a persisted mirror table —
  * upserting I/U, removing D — the "replicate a source table through
  * its changelog" shape a lakehouse MERGE serves, rebuilt on plain
  * parquet. Complements [[Scd2Stream]], which versions history and has
  * no delete semantics; a mirror converges to the SOURCE's current
  * state, deletes included.
  *
  * ==Replay contract==
  * A [[BatchSink]] snapshot chain: batch N reads version N+1 and
  * publishes version N+2. Within a batch, multiple ops on one key
  * resolve by highest `seq` (ties: D wins over U/I — a delete-then-
  * reinsert producer must bump seq), so batch apply is
  * order-insensitive across partitions.
  *
  * Scale shape: the apply is one full-outer equi-join of the
  * mirror-sized snapshot with the batch-sized delta (AQE broadcasts
  * the delta side when small) plus a map-side CASE — no windows over
  * the mirror; the per-key batch compaction windows only the DELTA.
  * For a mirror too large to rewrite per batch, the chain holds with
  * key-range partitioned snapshots rewritten only where the batch
  * touches — the join shape is unchanged.
  */
object CdcStream {

  /** Bootstrap the mirror chain: the initial (key, value) state as
    * version 1.
    */
  def init(snapshot: DataFrame, mirrorDir: String): Unit =
    BatchSink.Snapshots.advance(snapshot, mirrorDir, 1)

  /** One micro-batch apply (exposed for tests). `delta` columns:
    * (op, key, value, seq).
    */
  def applyBatch(delta: DataFrame, batchId: Long, mirrorDir: String,
      key: String, value: String): Unit = {
    val spark = delta.sparkSession
    val version = batchId + 2
    val mirror = BatchSink.readSnapshot(spark, mirrorDir, version - 1)
    // pin the batch (streaming sources are not re-readable inside
    // foreachBatch) and compact to one op per key: highest seq wins,
    // delete beats upsert at equal seq
    val compacted = graft.core.Materialize.pin(delta)
      .withColumn("rn", row_number().over(Window.partitionBy(col(key))
        .orderBy(col("seq").desc,
          when(col("op") === "D", 0).otherwise(1), col("op"))))
      .filter(col("rn") === 1)
      .select(col(key), col("op"), col(value).as("new_value"))
    BatchSink.Snapshots.advance(
      mirror
        .join(compacted, Seq(key), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col(key),
          when(col("op").isNull, col(value)).otherwise(col("new_value")).as(value)),
      mirrorDir, version)
  }

  /** Start the changelog → mirror stream against an [[init]]-
    * bootstrapped chain. `schema` describes (op, key, value, seq).
    */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      mirrorDir: String, checkpointDir: String, key: String, value: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(applyBatch(_, _, mirrorDir, key, value))

  /** The current mirror state. */
  def readCurrent(spark: SparkSession, mirrorDir: String): DataFrame =
    BatchSink.readSnapshot(spark, mirrorDir)
}
