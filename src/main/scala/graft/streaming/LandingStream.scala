package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructType}

import graft.medallion.{BronzeFlow, ColumnNormalizer, Lake, Maintenance, Versioned}

/** Streaming landing→bronze (reference §2.9: Kinesis→Firehose delivery,
  * `infra/main.tf:66-124`, with batch layers polling afterwards).
  * Structured Streaming file source over `landing/<dataset>/` with
  * `Trigger.AvailableNow` — batch-equivalent, replayable semantics; the
  * checkpoint makes redelivery exactly-once per landing object.
  *
  * Micro-batches append raw normalized rows to a bronze staging dir
  * (the Firehose role); [[finalizeBronze]] then applies the global
  * full-row dedup — dedup must see all data, exactly like the batch
  * path (`flows/bronze.py:80`), so it runs once at the end rather than
  * per micro-batch — and appends the new rows to the bronze
  * [[graft.medallion.Versioned]] root.
  */
object LandingStream {

  def stagingDir(lake: Lake, dataset: String): String =
    s"${lake.root}/bronze_staging/$dataset"

  /** The longest segment chain [[finalizeBronze]] leaves: an append
    * that makes the chain longer folds it into one segment. */
  val MaxSegments = 32

  /** The file size a fold of the chain aims at: Spark's default read
    * split (`spark.sql.files.maxPartitionBytes`). */
  private val CompactFileBytes = 128L << 20

  /** Start the landing→staging stream for one dataset. Streaming CSV
    * needs a declared schema: it is inferred from the landing dir by
    * the batch reader ([[graft.medallion.BronzeFlow.inferred]]), one
    * extra scan of landing.
    */
  def start(spark: SparkSession, lake: Lake, dataset: String): StreamingQuery = {
    val schema = BronzeFlow.inferred(spark, lake.landing(dataset)).schema
    val staging = stagingDir(lake, dataset)
    // an append, not a BatchSink partition: finalizeBronze's anti-join
    // already absorbs a replayed batch's rows
    BatchSink.start(
      spark.readStream.option("header", "true").schema(schema).csv(lake.landing(dataset)),
      s"${lake.root}/_checkpoints/$dataset") { (batch, _) =>
      ColumnNormalizer(batch).write.mode("append").parquet(staging)
    }
  }

  /** The Spark schema every file in `files` carries in its parquet
    * footer, made nullable as a parquet read reports it; None when the
    * files disagree or one carries none, so the caller reads by
    * inference as Spark would. Read by the calling thread: no Spark job. */
  private def footerSchema(conf: Configuration, files: Seq[HPath]): Option[StructType] = {
    val schemas = files.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      Option(json).flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
    }
    schemas.distinct match {
      case Seq(Some(t: StructType)) => Some(Versioned.nullable(t).asInstanceOf[StructType])
      case _ => None
    }
  }

  /** Staging→bronze dedup, INCREMENTAL: only rows staged since the last
    * finalize are read (the checkpoint makes staging append-only and
    * new-data-only), deduped among themselves, anti-joined against
    * bronze (null-safe on every column — the same full-row identity
    * `dropDuplicates` uses), and appended to bronze as one new
    * [[Versioned.append]] segment. Incorporated staged files are then
    * removed, so each finalize costs O(new data) + one bronze-side join
    * — never a full-history rewrite. Returns the bronze root.
    *
    * No job asks whether the anti-join left any row: the append counts
    * them inside its own write job and publishes nothing when there are
    * none, so staging that holds only rows bronze already has leaves the
    * pointer unchanged. The common path runs 3 Spark jobs: one stage
    * per side of the anti-join, and the write.
    *
    * The chain stays bounded: an append that makes it longer than
    * [[MaxSegments]] segments is folded into one
    * ([[Maintenance.compactVersioned]]) under the same lock, so a
    * bronze read's root list and each publish's GC pass stay short.
    *
    * Schema drift (a column appeared, disappeared or changed type
    * upstream) cannot be appended to the active schema: the rare path
    * commits `bronze ∪ staged`, deduplicated, as one full version with
    * the union of columns.
    *
    * Crash-safe and idempotent: a failure before the pointer flip
    * leaves readers the previous version and staging intact; a failure
    * after it but before the staged-file cleanup re-presents
    * already-incorporated rows next time, and the anti-join drops them
    * again. The result is always exactly `dropDuplicates` over
    * everything ever staged.
    *
    * Staging is read with the schema its files' footers record
    * ([[footerSchema]]), so finalize runs no schema-inference job; files
    * that disagree fall back to inference.
    *
    * Concurrency contract: appends to one root must be serialized
    * ([[Versioned]]), so finalize holds the table's
    * [[graft.core.FsLock]] writer lock and two finalizes of one table
    * never interleave — see WriterContractSpec. A crash mid-finalize
    * leaves the lock behind; the next writer breaks it after the stale
    * horizon and the staged-file protocol above makes the rerun safe.
    */
  def finalizeBronze(spark: SparkSession, lake: Lake, dataset: String): String = {
    val staging = stagingDir(lake, dataset)
    val bronzeRoot = lake.bronze(dataset)
    val sp = new HPath(staging)
    val f = FileSystem.get(sp.toUri, spark.sparkContext.hadoopConfiguration)
    val stagedFiles =
      if (!f.exists(sp)) Array.empty[HPath]
      else f.listStatus(sp).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
    if (stagedFiles.isEmpty) return bronzeRoot // nothing new → no-op

    // writer lock on bronze: a second finalize appending between this
    // one's read and its pointer flip would drop a segment; under the
    // lock the race is a loud FsLock.LockHeld and the staged batch stays
    // in staging for the retry. The streaming side (start → staging
    // appends) needs no lock — it never touches bronze.
    graft.core.FsLock.withLock(spark, bronzeRoot,
      s"finalizeBronze-${ProcessHandle.current().pid()}") {
      val schema = footerSchema(spark.sparkContext.hadoopConfiguration, stagedFiles.toSeq)
      val staged = schema.fold(spark.read)(spark.read.schema(_)).parquet(staging).dropDuplicates()
      if (!Versioned.exists(spark, bronzeRoot)) Versioned.append(spark, bronzeRoot, staged)
      else {
        val bronze = Versioned.read(spark, bronzeRoot)
        def fields(df: DataFrame) = df.schema.map(c => c.name -> c.dataType).toMap
        if (fields(staged) != fields(bronze))
          Versioned.commit(spark, bronzeRoot,
            bronze.unionByName(staged, allowMissingColumns = true).dropDuplicates())
        else {
          // backtick-quoted resolution: dotted CSV-derived column names
          // otherwise parse as struct-field access (graft.core.Cols)
          import graft.core.Cols.quoted
          val aligned = staged.select(bronze.columns.toSeq.map(c => staged(quoted(c))): _*)
          val dup = bronze.columns.map(c => aligned(quoted(c)) <=> bronze(quoted(c))).reduce(_ && _)
          val appended = Versioned.append(spark, bronzeRoot, aligned.join(bronze, dup, "left_anti"))
          if (appended.isDefined && Versioned.segments(spark, bronzeRoot).size > MaxSegments)
            Maintenance.compactVersioned(spark, bronzeRoot, CompactFileBytes)
        }
      }
      stagedFiles.foreach(p => f.delete(p, false))
    }
    bronzeRoot
  }

  /** Convenience: stream everything currently landed, then finalize. */
  def runAvailableNow(spark: SparkSession, lake: Lake, dataset: String): String = {
    start(spark, lake, dataset).awaitTermination()
    finalizeBronze(spark, lake, dataset)
  }

  /** Multi-dataset streaming ingest — the streaming twin of
    * [[graft.medallion.Flows.runAll]]'s bronze leg: start every
    * dataset's landing→staging stream (they run concurrently off the
    * shared scheduler), await them all, then finalize each into
    * bronze.
    */
  def runAllAvailableNow(
      spark: SparkSession, lake: Lake, datasets: Seq[String]): Map[String, String] = {
    val qs = datasets.map(d => start(spark, lake, d))
    qs.foreach(_.awaitTermination())
    datasets.map(d => d -> finalizeBronze(spark, lake, d)).toMap
  }
}
