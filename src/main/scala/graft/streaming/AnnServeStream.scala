package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.medallion.Versioned

/** Streaming metadata-filtered ANN SERVING — the RAG retrieval loop
  * over the q218 surface: a micro-batch stream of query embeddings
  * probes the [[graft.similarity.BinaryAnn.buildDecoratedIndex]]
  * code table with the slice predicate applied BEFORE the Hamming
  * candidate cut, then the per-batch exact-cosine rerank, with each
  * batch's top-k appended to the serving log. The probe kernel IS
  * q218's ([[graft.similarity.BinaryAnn.filteredHammingTopKFromIndex]]),
  * so streamed ≡ batch is by construction over identical probes —
  * pinned in AnnServeStreamSpec, with q218's exact DuckDB oracle
  * anchoring the kernel itself.
  *
  * ==Replay contract==
  * The serving log is a [[Versioned]] root that each micro-batch
  * appends to, its rows tagged with a `batch_id` column and the append
  * keyed by the batch id: a replay of a published batch publishes
  * nothing. The stream runs one batch at a time, which serializes the
  * appends as [[Versioned]] requires.
  *
  * ==Scale shape==
  * Per batch: the slice predicate prunes the 16×-compressed code scan
  * (parquet pushdown on the decorated metadata columns), the Hamming
  * cut keeps ≤ C ids per (split, query) via the bounded `topk_by`
  * aggregate, and only the C×Q candidate list (broadcast) ever meets
  * the full-precision corpus — the serving loop never shuffles the
  * corpus, and the index is built once, outside the stream.
  */
object AnnServeStream {

  /** Start the query-stream → serving-log loop. `indexDir` must hold a
    * decorated code table covering `predicate`'s columns; `corpus`
    * supplies full-precision embeddings for the rerank only.
    */
  def start(
      spark: SparkSession, inDir: String, schema: StructType,
      indexDir: String, corpus: DataFrame, predicate: Column,
      outDir: String, checkpointDir: String,
      k: Int, candidates: Int,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    // without this, AvailableNow folds every pending file into ONE
    // micro-batch — callers that want per-delivery serving batches
    // (and the per-batch log segments that go with them) set it
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    BatchSink.start(reader.parquet(inDir), checkpointDir)(
      serveBatch(_, _, indexDir, corpus, predicate, outDir, k, candidates))
  }

  /** One micro-batch of the serving loop (exposed for direct batch use
    * and the spec): filtered probe + exact rerank, appended to the log
    * as the batch's own segment. An empty batch publishes nothing (the
    * append counts its rows inside the write), except on a log with no
    * version yet, which it gives its schema.
    */
  def serveBatch(
      batch: DataFrame, batchId: Long, indexDir: String,
      corpus: DataFrame, predicate: Column, outDir: String,
      k: Int, candidates: Int): Unit =
    Versioned.append(batch.sparkSession, outDir,
      graft.similarity.BinaryAnn.filteredHammingTopKFromIndex(
        indexDir, corpus, batch, predicate, k, candidates)
        .withColumn("batch_id", lit(batchId)),
      batch = Some(batchId))

  /** The accumulated serving log (all batches), with each row's
    * `batch_id`.
    */
  def servingLog(spark: SparkSession, outDir: String): DataFrame =
    Versioned.read(spark, outDir)
}
