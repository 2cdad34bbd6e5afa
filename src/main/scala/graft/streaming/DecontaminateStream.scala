package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.dedup.Decontaminate

/** Streaming decontamination — the q89 span-grain cut as a landing
  * loop: incremental training batches arrive as files, each
  * micro-batch is cut against a PERSISTED eval-gram index (built once
  * from the held-out set — never recomputed per batch), and the
  * cleaned rows append to the curated training dir. The operational
  * day-2 shape of the decontamination family, mirroring
  * [[CorpusStream]]'s conventions.
  *
  * ==Exactly-once accounting==
  * The cut is a PURE function of (batch, stored gram index) and the
  * index is immutable here — unlike [[CorpusStream]] there is no index
  * append — so a [[BatchSink]] partition per batch is all replay needs.
  */
object DecontaminateStream {

  private def gramsPath(indexDir: String) = s"$indexDir/grams"

  /** Persist the held-out set's distinct w-word window hashes at
    * `indexDir` (overwrite) — the one-off eval side of the cut. At
    * 100 TB this table is eval-corpus-sized (tiny relative to
    * training) and is the natural place to also derive the q65 bloom
    * for pre-pruning.
    */
  def buildEvalIndex(
      heldOut: DataFrame, idCol: String, textCol: String, indexDir: String,
      w: Int = Decontaminate.DefaultWindow): Unit =
    Decontaminate.evalGrams(heldOut, idCol, textCol, w)
      .write.mode("overwrite").parquet(gramsPath(indexDir))

  /** One batch's cut against the stored index — (idCol, words_total,
    * words_cut, kept_text), the q89 schema. Pure; exposed for direct
    * batch use and the streamed ≡ batch spec.
    */
  def cutBatch(
      batch: DataFrame, idCol: String, textCol: String, indexDir: String,
      w: Int = Decontaminate.DefaultWindow): DataFrame =
    Decontaminate.cut(batch, idCol, textCol,
      batch.sparkSession.read.parquet(gramsPath(indexDir)), w)

  /** Start the landing→curated-training stream against a
    * [[buildEvalIndex]]-persisted index.
    */
  def start(
      spark: SparkSession, inDir: String, schema: StructType,
      indexDir: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      w: Int = Decontaminate.DefaultWindow,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(cutAndAppend(_, _, indexDir, outDir, idCol, textCol, w))

  /** One micro-batch of the loop (exposed for tests). See class doc
    * for the replay contract.
    */
  def cutAndAppend(
      batch: DataFrame, batchId: Long, indexDir: String, outDir: String,
      idCol: String, textCol: String,
      w: Int = Decontaminate.DefaultWindow): Unit = {
    if (batch.isEmpty) return
    // pin the micro-batch: streaming sources don't guarantee
    // re-readability inside foreachBatch, and the cut references the
    // batch through several subtrees
    val b = graft.core.Materialize.pin(batch)
    BatchSink.Partitions.publish(cutBatch(b, idCol, textCol, indexDir, w), outDir, batchId)
  }

  /** Read the curated training output (all batches; `batch_id` appears
    * as a provenance partition column).
    */
  def readCurated(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
}
