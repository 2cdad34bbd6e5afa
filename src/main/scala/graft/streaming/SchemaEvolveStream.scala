package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.medallion.SchemaEvolution

/** Streaming schema evolution — a bronze intake that SURVIVES a
  * mid-stream producer schema change. A plain `readStream.schema(...)`
  * file source pins the declared schema for the life of the query: a
  * new column arriving in later files is silently DROPPED (and a
  * widened type silently nulls or corrupts) before foreachBatch ever
  * sees the rows. So this stream reads the landing dir at FILE grain
  * (`binaryFile` source, paths only — content is pruned) and each
  * micro-batch re-reads its own files with `mergeSchema`, recovering
  * every batch's TRUE schema; [[SchemaEvolution.reconcile]] then
  * evolves the target per batch — add-column (old rows read NULL),
  * int→long / float→double widening, anything unsafe throws loudly
  * and fails the batch (the lake-corruption guard, now at stream
  * grain).
  *
  * ==Target layout==
  * The evolving table is a [[BatchSink]] snapshot chain: batch N reads
  * the newest version at or below N (the state before it) and publishes
  * version N+1 with the full aligned content, so a replay never
  * double-appends (the failure mode an append-per-batch target cannot
  * avoid without row-level deletes). Widening is metadata-only here
  * because every version is a full snapshot (the
  * [[SchemaEvolution.commitEvolved]] argument); prior snapshots keep
  * their original schema and stay readable.
  *
  * Scale shape: the chain rewrites O(table) per batch — right for a
  * bronze dimension/control table fed by an evolving producer (the
  * reference's Iceberg bronze is exactly that); a fact-scale stream
  * keeps [[LandingStream]]'s fixed-schema append and evolves on
  * a schedule via [[SchemaEvolution.appendEvolved]] instead.
  */
object SchemaEvolveStream {

  /** One micro-batch: merge-read the batch's own files (their true
    * schema), reconcile against the pre-batch snapshot, write the full
    * aligned union as version batchId+1. Exposed for tests.
    */
  def applyBatch(spark: SparkSession, paths: Seq[String], batchId: Long,
      tableDir: String): Unit = {
    if (paths.isEmpty) return
    val batch = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    val next = BatchSink.Snapshots.latest(spark, tableDir, batchId) match {
      case None => batch
      case Some((_, prevDir)) =>
        val prev = spark.read.parquet(prevDir)
        val target = SchemaEvolution.reconcile(prev.schema, batch.schema)
        SchemaEvolution.align(prev, target)
          .unionByName(SchemaEvolution.align(batch, target))
    }
    BatchSink.Snapshots.advance(next, tableDir, batchId + 1)
  }

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

  /** The evolving table's current content (latest published snapshot).
    * Fails if no batch has committed yet.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    BatchSink.readSnapshot(spark, tableDir)
}
