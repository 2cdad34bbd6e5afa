package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.dedup.MinHashLSH

/** Streaming n-gram novelty — the q167 curve as an intake monitor:
  * each arriving micro-batch of documents is scored against a
  * PERSISTED gram→first-owner index (who introduced each trigram), the
  * per-document novelty rows append to the monitor output, and the
  * grams the batch newly introduced append to the index. The
  * operational day-2 shape of q167, mirroring [[DecontaminateStream]]/
  * [[CorpusStream]] conventions.
  *
  * ==Semantics==
  * With batches arriving in doc_id order, streamed novelty ≡ the batch
  * q167 computation over the concatenated corpus (NoveltyStreamSpec
  * pins it). Under out-of-order arrival the index still converges to
  * the true global min owner per gram (reads min-merge across
  * partitions), but novelty rows already emitted are never restated —
  * an intake monitor reports what was new AT ARRIVAL.
  *
  * ==Exactly-once accounting==
  * Both writes are [[BatchSink]] partitions. A replay that finds the
  * monitor partition published but not the index one recomputes from
  * the same index (its own grams are not in it yet), so the index
  * partition it publishes is the one the first attempt would have.
  */
object NoveltyStream {

  private def gramsPath(indexDir: String) = s"$indexDir/grams"

  /** The stored gram→first-owner relation, min-merged across batch
    * partitions (empty frame when nothing has been indexed yet).
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    // Hadoop FS probe, not java.io.File: the index may live on
    // hdfs:// or s3a://, where a local-File exists() is always false
    val path = new org.apache.hadoop.fs.Path(gramsPath(indexDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("sh", "first_id")
    } else {
      spark.read.parquet(gramsPath(indexDir))
        .groupBy(col("sh")).agg(min(col("first_id")).as("first_id"))
    }
  }

  /** One batch's novelty rows against the stored index — (doc_id,
    * n_grams, n_novel, novelty_micro), the q167 schema. Pure; exposed
    * for direct batch use and the streamed ≡ batch spec.
    */
  def noveltyBatch(
      batch: DataFrame, idCol: String, textCol: String,
      indexDir: String): DataFrame = {
    val sh = grams(batch, idCol, textCol)
    novelty(sh, mergedOwners(batch.sparkSession, sh, indexDir), idCol)
  }

  private def grams(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    MinHashLSH.shingleRows(
      batch.select(col(idCol), col(textCol)), idCol, textCol, n = 3).distinct()

  private def novelty(sh: DataFrame, merged: DataFrame, idCol: String): DataFrame =
    sh.join(merged.select(col("sh"), col("first_id")), Seq("sh"))
      .groupBy(col("sid").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") === col("sid"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_micro", expr("(n_novel * 1000000) div n_grams"))

  /** Per batch gram: min(batch first occurrence, stored owner). */
  private def mergedOwners(
      spark: SparkSession, sh: DataFrame, indexDir: String): DataFrame =
    sh.groupBy(col("sh")).agg(min(col("sid")).as("b_first"))
      .join(readIndex(spark, indexDir).withColumnRenamed("first_id", "s_first"),
        Seq("sh"), "left")
      .select(col("sh"),
        least(col("b_first"), coalesce(col("s_first"), col("b_first")))
          .as("first_id"),
        col("b_first"), col("s_first"))

  /** Start the landing→novelty-monitor stream. */
  def start(
      spark: SparkSession, inDir: String, schema: StructType,
      indexDir: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(scoreAndAppend(_, _, indexDir, outDir, idCol, textCol))

  /** One micro-batch of the loop (exposed for tests). See class doc
    * for the replay contract.
    */
  def scoreAndAppend(
      batch: DataFrame, batchId: Long, indexDir: String, outDir: String,
      idCol: String, textCol: String): Unit = {
    if (batch.isEmpty) return
    // pin the micro-batch: it feeds the gram relation twice and the
    // writes — streaming sources don't guarantee re-readability inside
    // foreachBatch
    val b = graft.core.Materialize.pin(batch)
    val sh = grams(b, idCol, textCol)
    // pin the merge once: novelty rows and the index partition must see
    // the SAME owner view even if the underlying index dir changes
    val merged = mergedOwners(b.sparkSession, sh, indexDir)
      .transform(graft.core.Materialize.pin)
    BatchSink.Partitions.publish(novelty(sh, merged, idCol), outDir, batchId)
    // grams this batch owns after the merge: new grams, plus ones whose
    // stored owner IS the batch occurrence
    BatchSink.Partitions.publish(
      merged.filter(col("s_first").isNull || col("b_first") <= col("s_first"))
        .select(col("sh"), col("first_id")),
      gramsPath(indexDir), batchId)
  }

  /** Read the novelty monitor output (all batches; `batch_id` appears
    * as a provenance partition column).
    */
  def readMonitor(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
}
