package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.Materialize
import graft.dedup.{DedupClusters, MinHashLSH, SimHashDedup}
import graft.similarity.Similarity

/** Streaming corpus curation — the operational day-2 pipeline the
  * incremental dedup operators exist for: records arrive as files in a
  * landing dir, each micro-batch is near-dup-deduped against the
  * PERSISTED index (the corpus's derived state is never recomputed),
  * in-batch duplicate clusters collapse to one representative
  * ([[DedupClusters]]), and survivors are appended to the corpus table
  * AND to the index so the very next micro-batch (and tomorrow's run)
  * dedups against them.
  *
  * The dedup family is pluggable ([[CorpusStream.Backend]]): MinHash
  * over text, sign-bucket cosine over embeddings, or SimHash — all
  * three incremental operators share the contract the loop needs
  * (pairs-vs-index including within-batch, an append, and the
  * self-pair replay signal).
  *
  * ==Exactly-once accounting==
  * The corpus rows are a [[BatchSink]] partition per batch. The index
  * append is not: it adds rows to the shared index, so it is guarded by
  * a per-batch COMMIT MARKER (`<indexDir>/_append_commits`), written
  * only after the append's parquet jobs all finish. Marker present ⇒
  * the whole batch completed ⇒ replay is a full no-op. Marker absent ⇒
  * the previous attempt may have died ANYWHERE — including mid-way
  * through the index append's two parquet jobs — so the replay
  * recomputes with the batch's OWN possibly-partial prior append
  * excluded from the pair view: it sees exactly the pre-batch index,
  * reproduces the original survivors, and re-runs the append. A re-run
  * append can duplicate this batch's (sid, sh) / band rows in the
  * index — harmless by design: verification collapses duplicate pairs,
  * and duplicate band rows only nudge the width-cap degrade earlier
  * (degrade, never corruption).
  * The earlier self-collision replay signal could NOT survive a crash
  * inside the append: a partially-appended batch saw only a SUBSET of
  * itself self-collide, dropped those records from the replayed sinks,
  * and lost them from the curated outputs forever.
  *
  * "The batch's own prior append" is decided by a per-batch ids
  * LEDGER (a [[BatchSink]] partition under `<indexDir>/_append_ids`,
  * the survivors' ids, published BEFORE the index append starts): a
  * self-collided id in batch N's own ledger is batch N's crashed
  * append (keep); a self-collided id NOT in it is a CROSS-BATCH
  * REDELIVERY — an at-least-once upstream delivered a record whose id
  * an earlier batch (or the day-0 corpus) already committed — and is
  * dropped, exactly like the standalone self-collision signal. The ordering
  * makes the ledger sound: an own survivor can only self-collide
  * after the append began, and by then its ledger entry exists; a
  * redelivered id is dropped before survivor resolution on the first
  * attempt, so it can never enter the ledger. Upstream ids must still
  * be UNIQUE per logical record — two DIFFERENT texts arriving under
  * one id are near-dup-independent, and whichever commits first wins
  * the id.
  */
object CorpusStream {

  /** One incremental dedup family: pair detection against a persisted
    * index (self-pairs included for already-indexed ids) plus the
    * index append.
    */
  sealed trait Backend {
    def idCol: String
    def pairsAgainst(batch: DataFrame, indexDir: String): DataFrame
    def appendToIndex(batch: DataFrame, indexDir: String): Unit
  }

  /** MinHash+LSH over a text column ([[MinHashLSH]]). */
  final case class MinHashText(
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5) extends Backend {
    def pairsAgainst(batch: DataFrame, indexDir: String): DataFrame =
      MinHashLSH.nearDuplicatesAgainst(batch, idCol, textCol, indexDir, threshold)
    def appendToIndex(batch: DataFrame, indexDir: String): Unit =
      MinHashLSH.appendToIndex(batch, idCol, textCol, indexDir)
  }

  /** Sign-bucket cosine over an embedding column ([[Similarity]]). */
  final case class CosineEmbedding(
      lsh: Similarity.RandomHyperplaneLsh, threshold: Double,
      idCol: String = "vec_id") extends Backend {
    def pairsAgainst(batch: DataFrame, indexDir: String): DataFrame =
      Similarity.cosineNearDuplicatesAgainst(batch, lsh, indexDir, threshold)
    def appendToIndex(batch: DataFrame, indexDir: String): Unit =
      Similarity.appendToCosineIndex(batch, lsh, indexDir)
  }

  /** SimHash pigeonhole over a text column ([[SimHashDedup]]). */
  final case class SimHashText(
      idCol: String = "doc_id", textCol: String = "text",
      maxDist: Int = SimHashDedup.MaxDistance) extends Backend {
    def pairsAgainst(batch: DataFrame, indexDir: String): DataFrame =
      SimHashDedup.nearDuplicatesAgainst(batch, idCol, textCol, indexDir, maxDist)
    def appendToIndex(batch: DataFrame, indexDir: String): Unit =
      SimHashDedup.appendToIndex(batch, idCol, textCol, indexDir)
  }

  /** Start the landing→curated-corpus stream. `indexDir` must hold an
    * index built by the backend's family ([[MinHashLSH.buildIndex]],
    * [[Similarity.buildCosineIndex]], [[SimHashDedup.buildIndex]] —
    * over the day-0 corpus, or over an empty frame). Batch ids need not
    * be ordered relative to corpus ids — corpus near-dups always win
    * over batch records.
    */
  def start(
      spark: SparkSession, inDir: String, schema: StructType,
      indexDir: String, corpusDir: String, checkpointDir: String,
      backend: Backend = MinHashText(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(dedupAndAppend(_, _, indexDir, corpusDir, backend))

  /** One micro-batch of the curation loop (exposed for direct batch use
    * and tests). See class doc for the replay-safety contract.
    */
  def dedupAndAppend(
      batch: DataFrame, batchId: Long, indexDir: String, corpusDir: String,
      backend: Backend): Unit = {
    if (batch.isEmpty) return
    if (appendCommitted(batch.sparkSession, indexDir, batchId)) return
    val survivors = dedupBatch(batch, indexDir, backend, replayOfBatch = Some(batchId))
    if (!survivors.isEmpty) {
      BatchSink.Partitions.publish(survivors, corpusDir, batchId)
      writeAppendLedger(survivors.select(col(backend.idCol)), indexDir, batchId)
      backend.appendToIndex(survivors, indexDir)
    }
    markAppendCommitted(batch.sparkSession, indexDir, batchId)
  }

  private def commitsRoot(indexDir: String) = s"$indexDir/_append_commits"

  private def ledgerRoot(indexDir: String) = s"$indexDir/_append_ids"

  /** Record the ids batch `batchId` is about to append to the index —
    * MUST complete before the append starts (see class doc: the ledger
    * is what lets an unsealed replay tell its own crashed append from a
    * cross-batch redelivery). One partition is read back per replay
    * (O(1), never a history scan); entries are tiny id lists and can be
    * GC'd together with their batch's commit marker if a retention
    * sweep ever prunes sealed history.
    */
  def writeAppendLedger(ids: DataFrame, indexDir: String, batchId: Long): Unit =
    BatchSink.Partitions.publish(ids, ledgerRoot(indexDir), batchId)

  /** Has this batch's index append (and everything before it) fully
    * committed? The replay no-op signal (class doc).
    */
  def appendCommitted(spark: SparkSession, indexDir: String, batchId: Long): Boolean =
    BatchSink.Partitions.find(spark, commitsRoot(indexDir), batchId).nonEmpty

  /** Drop the batch's commit marker — called LAST, after every sink and
    * the index append finished.
    */
  def markAppendCommitted(spark: SparkSession, indexDir: String, batchId: Long): Unit = {
    val m = new org.apache.hadoop.fs.Path(
      BatchSink.Partitions.dir(commitsRoot(indexDir), batchId))
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(m.getParent)
    fs.create(m, true).close()
  }

  /** The batch's dedup SURVIVORS against the persisted index — the pair
    * detection + corpus-vs-batch split + in-batch cluster resolution of
    * [[dedupAndAppend]] WITHOUT the sink/index writes, so composed
    * pipelines ([[CurationStream]]) can route survivors through further
    * stages before committing. Result is eagerly checkpointed.
    *
    * A self-collided record (id_a == id_b: the id is already in the
    * index) is DROPPED as a redelivery — a standalone caller's replay
    * signal, and the marker-protocol loops' cross-batch at-least-once
    * guard — UNLESS `replayOfBatch = Some(n)` and the id sits in batch
    * n's own append ledger: then it is batch n's crashed prior append
    * (the pre-batch index must be reconstructed, so the record stays).
    * See the class doc for why the ledger-before-append ordering makes
    * this exact. Any pair between an own indexed copy and a DIFFERENT
    * batch record is classified batch-internal by the membership flags
    * below, exactly as the first run classified it.
    */
  def dedupBatch(
      batch: DataFrame, indexDir: String, backend: Backend,
      replayOfBatch: Option[Long] = None): DataFrame = {
    val id = backend.idCol
    // pin the micro-batch: it feeds the pair job, two joins, and the
    // writes — streaming sources don't guarantee re-readability inside
    // foreachBatch
    val b = Materialize.pin(batch)
    val pairs = backend.pairsAgainst(b, indexDir)

    // records already in the index collide with themselves
    // (id_a == id_b): redeliveries, minus this batch's own ledger
    val selfIds = pairs.filter(col("id_a") === col("id_b"))
      .select(col("id_a").as(id)).distinct()
    val redelivered = replayOfBatch
      .flatMap(n => BatchSink.Partitions.find(b.sparkSession, ledgerRoot(indexDir), n))
      .map(b.sparkSession.read.parquet(_))
      .map(own => selfIds.join(own.select(col(id)), Seq(id), "left_anti"))
      .getOrElse(selfIds)
    val fresh = b.join(redelivered, Seq(id), "left_anti")

    // order-independent corpus-vs-batch split: a pair side that is NOT
    // a (surviving) batch id is a corpus record, and the batch side of
    // such a pair is dropped regardless of id order (the corpus copy
    // always wins); batch-internal pairs go to cluster resolution.
    // Membership is FRESH ids, not the raw batch: a redelivered id's
    // indexed copy is a CORPUS record — classifying it batch-internal
    // would send its pairs to cluster resolution, where a fresh
    // near-dup with a smaller id would out-rank the committed copy and
    // survive as a duplicate (corpus-wins violated). Own-append ids on
    // a replay stay in `fresh` (their ledger keeps them), so the
    // batch-internal classification of the first run is preserved.
    val ids = fresh.select(col(id)).withColumn("in_batch", lit(1))
    val flagged = pairs.filter(col("id_a") =!= col("id_b"))
      .join(ids.select(col(id).as("id_a"), col("in_batch").as("a_in")), Seq("id_a"), "left")
      .join(ids.select(col(id).as("id_b"), col("in_batch").as("b_in")), Seq("id_b"), "left")
      .transform(Materialize.pin)
    val corpusDups = flagged.filter(col("a_in").isNull || col("b_in").isNull)
      .select(when(col("a_in").isNotNull, col("id_a")).otherwise(col("id_b")).as(id))
      .distinct()
    val batchPairs = flagged.filter(col("a_in").isNotNull && col("b_in").isNotNull)
      .select(col("id_a"), col("id_b"))

    DedupClusters.deduplicate(
        fresh.join(corpusDups, Seq(id), "left_anti"), id, batchPairs)
      .transform(Materialize.pin)
  }

  /** Read the curated corpus (all ingested batches; `batch_id` appears
    * as a provenance partition column).
    */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame =
    spark.read.parquet(corpusDir)
}
