package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.medallion.Versioned

/** Streaming schema evolution — a bronze intake that SURVIVES a
  * mid-stream producer schema change. A plain `readStream.schema(...)`
  * file source pins the declared schema for the life of the query: a
  * new column arriving in later files is silently DROPPED (and a
  * widened type silently nulls or corrupts) before foreachBatch ever
  * sees the rows. So this stream reads the landing dir at FILE grain
  * (`binaryFile` source, paths only — content is pruned) and each
  * micro-batch re-reads its own files with `mergeSchema`, recovering
  * every batch's TRUE schema; [[graft.medallion.SchemaEvolution.reconcile]]
  * then evolves the target per batch — add-column (old rows read NULL),
  * int→long / float→double widening, anything unsafe throws loudly
  * and fails the batch (the lake-corruption guard, now at stream
  * grain).
  *
  * ==Target layout==
  * The evolving table is a [[Versioned]] root: batch N is one
  * [[Versioned.append]] keyed by N, a new segment written at the
  * batch's own schema under a pointer that records the reconciled one.
  * Each batch is O(batch): earlier segments keep their files, and
  * adding a column or widening a type rewrites none of them. A replay
  * of a published batch publishes nothing, so the append-per-batch
  * target never double-appends. Segment dirs are immutable, so a
  * pre-evolution segment keeps its original schema; the chain stays
  * bounded by [[Versioned]]'s fold.
  */
object SchemaEvolveStream {

  /** One micro-batch: merge-read the batch's own files (their true
    * schema) and append them, reconciled with the active version, as
    * the segment of batch `batchId`. Exposed for tests.
    */
  def applyBatch(spark: SparkSession, paths: Seq[String], batchId: Long,
      tableDir: String): Unit =
    if (paths.nonEmpty)
      Versioned.append(spark, tableDir,
        spark.read.option("mergeSchema", "true").parquet(paths: _*), batch = Some(batchId))

  /** Start the landing→evolving-bronze stream over `inDir`'s parquet
    * files. File grain: each row of the source is a (path, metadata)
    * record; the content column is never selected, so the scan prunes
    * it and the stream moves file NAMES, not bytes.
    */
  def start(spark: SparkSession, inDir: String, tableDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    // binaryFile's fixed source schema, declared explicitly (streaming
    // sources refuse to infer); only `path` is ever selected, so the
    // content column is pruned from the scan
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val reader = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.parquet")
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    // bounded metadata load: one path string per landed file
    BatchSink.start(reader.load(inDir).select("path"), checkpointDir) {
      (files, batchId) =>
        val paths = files.select("path").collect().map(_.getString(0)).toSeq.sorted
        applyBatch(files.sparkSession, paths, batchId, tableDir)
    }
  }

  /** The evolving table's current content (its active version).
    * Fails if no batch has committed yet.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    Versioned.read(spark, tableDir)
}
