package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming sequence packing — the q41 fixed-budget packer as an
  * intake loop: each arriving micro-batch of documents is assigned to
  * its content-keyed split, packed into 2048-token sequences
  * CONTINUING the split's running token total from all prior batches,
  * and emitted at document grain with its pack id. With batches
  * arriving in doc_id order the streamed assignment is IDENTICAL to
  * the one-shot batch q41 over the concatenated corpus
  * (PackStreamSpec pins the rollup equality).
  *
  * ==State==
  * One long per split: the running token cum, carried forward in full.
  * It is a [[BatchSink]] chain of partitions (entry N = the cum AFTER
  * batch N): batch N reads the newest entry below N, so a replay
  * recomputes from exactly the state it saw the first time.
  */
object PackStream {

  val Budget = 2048L

  // q37's content-keyed bucket spelling (PipelineQueries.md5Bucket)
  private def md5Bucket = expr(
    "cast(((locate(substring(md5(text), 1, 1), '0123456789abcdef') - 1) * 16" +
      " + (locate(substring(md5(text), 2, 1), '0123456789abcdef') - 1)) as bigint)")

  /** Per-split cum after the newest batch before `batchId` (empty
    * frame when no prior state exists).
    */
  def readState(spark: SparkSession, stateDir: String, batchId: Long): DataFrame =
    BatchSink.Partitions.latest(spark, stateDir, batchId - 1) match {
      case Some((_, dir)) =>
        spark.read.parquet(dir).select(col("split"), col("cum").as("cum0"))
      case None =>
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("split", "cum0")
    }

  /** Start the landing→packed-corpus stream. */
  def start(
      spark: SparkSession, inDir: String, schema: StructType,
      stateDir: String, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(packAndAppend(_, _, stateDir, outDir))

  /** One micro-batch of the loop (exposed for tests). See class doc
    * for the replay contract.
    */
  def packAndAppend(
      batch: DataFrame, batchId: Long, stateDir: String, outDir: String): Unit = {
    if (batch.isEmpty) return
    val b = graft.core.Materialize.pin(batch)
    val assigned = b
      .withColumn("bucket", md5Bucket)
      .withColumn("split",
        when(col("bucket") < 204, "train")
          .when(col("bucket") < 230, "valid").otherwise("test"))
      .withColumn("n_tokens",
        size(graft.text.TextFunctions.tokens(col("text"))).cast("long"))
      .select(col("split"), col("doc_id"), col("n_tokens"))
    val state = readState(b.sparkSession, stateDir, batchId)
      .transform(graft.core.Materialize.pin)
    val w = Window.partitionBy(col("split")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    BatchSink.Partitions.publish(
      assigned
        .withColumn("bcum", sum(col("n_tokens")).over(w))
        .join(state, Seq("split"), "left")
        .withColumn("cum", coalesce(col("cum0"), lit(0L)) + col("bcum"))
        // q41's assignment rule, operand-for-operand: a doc belongs to
        // the pack its START position falls into
        .withColumn("pack_id",
          floor((col("cum") - col("n_tokens")) / lit(Budget.toDouble)).cast("long"))
        .select(col("split"), col("doc_id"), col("n_tokens"), col("pack_id")),
      outDir, batchId)
    // snapshot AFTER this batch: prior cum plus this batch's per-split
    // totals, untouched splits carried forward
    val touched = assigned.groupBy(col("split"))
      .agg(sum(col("n_tokens")).as("add"))
    BatchSink.Partitions.advance(
      state.join(touched, Seq("split"), "full_outer")
        .select(col("split"),
          (coalesce(col("cum0"), lit(0L)) + coalesce(col("add"), lit(0L)))
            .as("cum")),
      stateDir, batchId)
  }

  /** Doc-grain packed output (all batches; `batch_id` rides along as a
    * provenance partition column).
    */
  def readPacks(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
}
