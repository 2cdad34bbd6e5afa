package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.dedup.Decontaminate

/** The streaming curation pipeline END-TO-END: each arriving
  * micro-batch of documents is (1) near-dup cut against the persisted
  * dedup index ([[CorpusStream.dedupBatch]] — corpus copies win,
  * in-batch clusters collapse), (1b) optionally QUALITY-gated by the
  * learned classifier ([[graft.text.QualityClassifier]] = the q217
  * kernel — gibberish never reaches the corpus, the index, or the
  * packs), (2) span-grain DECONTAMINATED against the persisted
  * eval-gram index ([[DecontaminateStream.cutBatch]] = the q89/q150
  * `Decontaminate` kernel), and (3) its surviving cleaned text PACKED
  * into fixed-budget sequences continuing each split's running totals
  * ([[PackStream.packAndAppend]] = the q41 rule). One intake loop
  * produces the three artifacts a training-data service actually
  * serves: the curated ledger, the packed corpus, and the grown dedup
  * index — all shared-kernel with their batch twins, so streamed ≡
  * batch is by construction and pinned in CurationStreamSpec.
  *
  * ==Stage order==
  * Dedup FIRST (cheapest cut, and the index must see raw survivor text
  * so future batches dedup against what was kept), the quality gate
  * second (a quality-cut doc is dropped BEFORE the index append — its
  * future copies fail the same deterministic gate for the cost of one
  * map pass, so indexing it buys nothing), decon third over the gated
  * survivors only, packing last over the decontaminated text — the
  * q150 composition order at intake grain with the q217 gate spliced
  * where a production pipeline runs its classifier.
  *
  * ==Exactly-once accounting==
  * All sinks are [[BatchSink]] partitions, the dedup-index append runs
  * LAST, and the batch is sealed by [[CorpusStream]]'s commit-marker
  * protocol: marker present ⇒ the replay returns immediately; marker
  * absent ⇒ the replay excludes the batch's own possibly-partial prior
  * append from the pair view via its append ledger
  * ([[CorpusStream.dedupBatch]] `replayOfBatch`), so it reproduces the
  * identical survivors/cut/packs and re-runs the append.
  */
object CurationStream {

  /** Start the landing→curated+packed stream. `dedupIndexDir` must hold
    * a backend-family index (day-0 corpus or empty); `evalIndexDir` a
    * [[DecontaminateStream.buildEvalIndex]] gram table.
    */
  def start(
      spark: SparkSession, inDir: String, schema: StructType,
      dedupIndexDir: String, evalIndexDir: String,
      curatedDir: String, packDir: String, stateDir: String,
      checkpointDir: String,
      backend: CorpusStream.Backend = CorpusStream.MinHashText(),
      w: Int = Decontaminate.DefaultWindow,
      minScoreMicro: Option[Long] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(spark.readStream.schema(schema).parquet(inDir), trigger,
        checkpointDir)(
      curateBatch(_, _, dedupIndexDir, evalIndexDir, curatedDir, packDir,
        stateDir, backend, w, minScoreMicro))

  /** One micro-batch of the composed loop (exposed for direct batch use
    * and the spec). See class doc for stage order and replay contract.
    */
  def curateBatch(
      batch: DataFrame, batchId: Long,
      dedupIndexDir: String, evalIndexDir: String,
      curatedDir: String, packDir: String, stateDir: String,
      backend: CorpusStream.Backend = CorpusStream.MinHashText(),
      w: Int = Decontaminate.DefaultWindow,
      minScoreMicro: Option[Long] = None): Unit = {
    if (batch.isEmpty) return
    // sealed batch ⇒ full replay no-op (class doc)
    if (CorpusStream.appendCommitted(batch.sparkSession, dedupIndexDir, batchId))
      return
    val id = backend.idCol
    val textCol = backend match {
      case m: CorpusStream.MinHashText => m.textCol
      case _ => throw new IllegalArgumentException(
        "CurationStream curates TEXT batches; use a text backend")
    }
    // stage 1 — near-dup cut under the marker protocol: the batch's own
    // possibly-partial prior append (its append ledger) is excluded
    // from the pair view, so an unsealed replay reproduces the original
    // survivors exactly; redeliveries from other batches stay dropped
    val dedupSurvivors = CorpusStream.dedupBatch(batch, dedupIndexDir, backend,
      replayOfBatch = Some(batchId))
    // stage 1b — optional learned quality gate (q217): a pure
    // deterministic map pass, so replay-safe by construction; cut docs
    // never reach any sink OR the index (class doc on why)
    val survivors = minScoreMicro match {
      case None => dedupSurvivors
      case Some(t) =>
        val pass = graft.text.QualityClassifier
          .score(dedupSurvivors.select(col(id), col(textCol)), id, textCol)
          .filter(col("score_micro") >= t)
          .select(col(id))
        dedupSurvivors.join(pass, Seq(id), "left_semi")
          .transform(graft.core.Materialize.pin)
    }
    if (!survivors.isEmpty) {
      // stage 2 — span decontamination of survivors (pure)
      val cut = DecontaminateStream
        .cutBatch(survivors, id, textCol, evalIndexDir, w)
        .transform(graft.core.Materialize.pin)
      BatchSink.Partitions.publish(cut, curatedDir, batchId)
      // stage 3 — pack the DECONTAMINATED text (split keying and token
      // counts follow the final content, the q150→q41 composition)
      PackStream.packAndAppend(
        cut.filter(col("kept_text") =!= "")
          .select(col(id).as("doc_id"), col("kept_text").as("text")),
        batchId, stateDir, packDir)
      // ledger before append (the replay signal), then the seal
      CorpusStream.writeAppendLedger(survivors.select(col(id)), dedupIndexDir, batchId)
      backend.appendToIndex(survivors, dedupIndexDir)
    }
    CorpusStream.markAppendCommitted(batch.sparkSession, dedupIndexDir, batchId)
  }

  /** The curated ledger (all batches; q89 schema + batch_id). */
  def readCurated(spark: SparkSession, curatedDir: String): DataFrame =
    spark.read.parquet(curatedDir)

  /** The packed corpus (all batches; q41 schema + batch_id). */
  def readPacks(spark: SparkSession, packDir: String): DataFrame =
    spark.read.parquet(packDir)
}
