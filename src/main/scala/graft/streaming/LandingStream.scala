package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.FsLock
import graft.medallion.{BronzeFlow, ColumnNormalizer, Lake, Versioned}

/** Streaming landing→bronze (reference §2.9: Kinesis→Firehose delivery,
  * `infra/main.tf:66-124`, with batch layers polling afterwards).
  * Structured Streaming file source over `landing/<dataset>/` with
  * `Trigger.AvailableNow` — batch-equivalent, replayable semantics; the
  * checkpoint makes redelivery exactly-once per landing object.
  *
  * Each micro-batch goes straight into the bronze [[Versioned]] root,
  * as Firehose writes each buffered batch straight to its target prefix
  * (`infra/main.tf:75-83`): [[appendBatch]] dedups the batch, drops the
  * rows bronze already has and appends the rest as one segment. Bronze
  * therefore always equals the batch path's full-row dedup over
  * everything streamed (`flows/bronze.py:80`).
  */
object LandingStream {

  /** Start the landing→bronze stream for one dataset; each micro-batch
    * is one [[appendBatch]]. Streaming CSV needs a declared schema: it is
    * inferred from the landing dir by the batch reader
    * ([[graft.medallion.BronzeFlow.inferred]]), one extra scan of
    * landing. Await the returned query; a batch that fails (a held
    * bronze lock, a failed write) fails the query, and a restart on the
    * same checkpoint replays it.
    */
  def start(spark: SparkSession, lake: Lake, dataset: String): StreamingQuery = {
    val schema = BronzeFlow.inferred(spark, lake.landing(dataset)).schema
    BatchSink.start(
      spark.readStream.option("header", "true").schema(schema).csv(lake.landing(dataset)),
      s"${lake.root}/_checkpoints/$dataset") { (batch, _) =>
      appendBatch(spark, lake, dataset, batch)
    }
  }

  /** Append one micro-batch to the dataset's bronze root: normalize its
    * column names, dedup it, anti-join it against bronze's active
    * version (null-safe on every column — the same full-row identity
    * `dropDuplicates` uses) and publish the rest as one
    * [[Versioned.append]] segment. Per-batch dedup plus an anti-join
    * against everything published before equals `dropDuplicates` over
    * everything streamed.
    *
    * No job asks whether the anti-join left any row: the append counts
    * them inside its own write job and publishes nothing when there are
    * none. The common path runs 3 Spark jobs: one stage per side of the
    * anti-join, and the write.
    *
    * Replay-safe without any record of batch ids: a batch replays only
    * when its offset commit was lost. If its pointer flip was lost too,
    * nothing was published and the replay appends it once. If the flip
    * landed, the replay reads the same landing files (the offset log
    * fixes them), every row is already in bronze, and the empty append
    * publishes nothing.
    *
    * The chain stays bounded: [[Versioned.append]] folds a chain longer
    * than [[Versioned.MaxSegments]] segments, here under the same lock.
    *
    * Schema drift (a column appeared, disappeared or changed type
    * upstream) cannot be appended to the active schema: the rare path
    * commits `bronze ∪ batch`, deduplicated, as one full version with
    * the union of columns.
    *
    * Concurrency contract: appends to one root must be serialized
    * ([[Versioned]]), so the whole step holds the table's [[FsLock]]
    * writer lock. Another writer holding it fails the batch with a loud
    * [[FsLock.LockHeld]] — see WriterContractSpec. A crash leaves the
    * lock behind; the next writer breaks it after the stale horizon.
    */
  def appendBatch(spark: SparkSession, lake: Lake, dataset: String, batch: DataFrame): Unit = {
    val bronzeRoot = lake.bronze(dataset)
    FsLock.withLock(spark, bronzeRoot, s"LandingStream-${ProcessHandle.current().pid()}") {
      val fresh = ColumnNormalizer(batch).dropDuplicates()
      if (!Versioned.exists(spark, bronzeRoot)) Versioned.append(spark, bronzeRoot, fresh)
      else {
        val bronze = Versioned.read(spark, bronzeRoot)
        def fields(df: DataFrame) = df.schema.map(c => c.name -> c.dataType).toMap
        if (fields(fresh) != fields(bronze))
          Versioned.commit(spark, bronzeRoot,
            bronze.unionByName(fresh, allowMissingColumns = true).dropDuplicates())
        else {
          // backtick-quoted resolution: dotted CSV-derived column names
          // otherwise parse as struct-field access (graft.core.Cols)
          import graft.core.Cols.quoted
          val aligned = fresh.select(bronze.columns.toSeq.map(c => fresh(quoted(c))): _*)
          val dup = bronze.columns.map(c => aligned(quoted(c)) <=> bronze(quoted(c))).reduce(_ && _)
          Versioned.append(spark, bronzeRoot, aligned.join(bronze, dup, "left_anti"))
        }
      }
    }
  }

  /** A no-op that returns the bronze root: [[start]]'s batches already
    * publish to bronze. Kept only for the medallion benchmark, which
    * still calls it; a benchmark change drops that call and then this def.
    */
  def finalizeBronze(spark: SparkSession, lake: Lake, dataset: String): String = lake.bronze(dataset)
}
