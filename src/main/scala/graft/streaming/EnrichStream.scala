package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.SparkSession

import graft.relational.AsofJoin

/** Streaming as-of enrichment against a STATIC dimension snapshot — the
  * online half of [[AsofJoin]]: events arrive as files, each
  * micro-batch is enriched with the most recent at-or-before fact
  * (feature value, config version, price quote) and appended to the
  * enriched table.
  *
  * ==Why per-batch enrichment is exact==
  * An as-of match is a per-left-row lookup: no left row's result
  * depends on any other left row. So enriching each micro-batch
  * independently equals the batch as-of over the full feed restricted
  * to that batch's rows — streaming ≡ batch by construction, with no
  * watermark, no state store, and no ordering assumption across
  * batches. (A STREAMING facts side would need cross-batch state and
  * an out-of-order contract; that is deliberately out of scope — the
  * static-snapshot case is the common feature-enrichment shape, and
  * the facts snapshot can be swapped between runs.)
  *
  * ==Cost shape==
  * Each micro-batch pays one [[AsofJoin]] — an exchange of
  * (batch + facts) on the key. The facts side is re-planned per batch:
  * cache the snapshot (`facts.cache()`) for long streams, and
  * pre-filter it to live keys where possible.
  *
  * Each batch publishes one [[BatchSink]] partition.
  */
object EnrichStream {

  /** Start the file-landing → enriched-table stream. */
  def start(
      spark: SparkSession, inDir: String, schema: StructType,
      facts: DataFrame, key: String, ts: String, payload: Seq[String],
      outDir: String, checkpointDir: String,
      tolerance: Option[Long] = None,
      direction: AsofJoin.Direction = AsofJoin.Backward,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // batch_id is the output's provenance PARTITION column — a data
    // column with the same name would be shadowed by (or conflict
    // with) the directory value on read; fail loudly like asofJoin's
    // internal-name guards
    val hits = (schema.fieldNames.toSet ++ payload).intersect(Set("batch_id"))
    require(hits.isEmpty, s"column names collide with the batch_id partition column: $hits")
    // the facts side is a batch snapshot by contract (see class doc); a
    // streaming frame would only fail later inside foreachBatch with an
    // obscure analysis error — reject it at the call site instead
    require(!facts.isStreaming,
      "facts must be a batch DataFrame (stream-static enrichment); " +
        "for stream-stream as-of joins use TemporalJoin")
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(
      enrichBatch(_, _, facts, key, ts, payload, outDir, tolerance, direction))
  }

  /** One micro-batch of the enrichment (exposed for tests and direct
    * batch use).
    */
  def enrichBatch(
      batch: DataFrame, batchId: Long, facts: DataFrame,
      key: String, ts: String, payload: Seq[String], outDir: String,
      tolerance: Option[Long] = None,
      direction: AsofJoin.Direction = AsofJoin.Backward): Unit = {
    if (batch.isEmpty) return
    // pin the micro-batch — streaming sources don't guarantee
    // re-readability inside foreachBatch
    val b = graft.core.Materialize.pin(batch)
    BatchSink.Partitions.publish(
      AsofJoin.asofJoin(b, facts, key, ts, payload, tolerance, direction),
      outDir, batchId)
  }

  /** Read the enriched table (all batches; `batch_id` appears as a
    * provenance partition column). Precondition: at least one non-empty
    * micro-batch has been enriched — a stream that never saw data never
    * creates `outDir`, and this read then fails with PATH_NOT_FOUND
    * (there is no schema to return an empty frame with); guard with an
    * existence check on a feed that may be quiet.
    */
  def readEnriched(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
}
