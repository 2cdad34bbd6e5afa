package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SimHash64

/** SimHash near-duplicate detection with pigeonhole banding: the 64-bit
  * fingerprint splits into 4×16-bit chunks — any pair within Hamming
  * distance ≤3 must agree on at least one whole chunk, so grouping by
  * (chunk_idx, chunk_value) finds every such pair with NO false
  * negatives, and the exact popcount(xor) filter removes false
  * positives. Same shuffle shape as MinHash LSH: bucket join, never
  * all-pairs.
  *
  * Bucket-width note (deliberately NOT capped, unlike
  * [[MinHashLSH.DefaultMaxBandBucket]]): the pigeonhole argument is a
  * ZERO-false-negative guarantee — every ≤3-bit pair agrees on some
  * chunk, and exact duplicates agree on all four — so dropping a wide
  * (chunk_idx, chunk_value) bucket would break the guarantee the q22/
  * q40 gates pin, exactly for the duplicate-heavy content dedup
  * exists for. A wide chunk bucket IS the duplicate cluster being
  * sought. The worst case is bounded differently here: chunk values
  * are 16-bit, so a bucket is one of 4×65536 cells, and a pathological
  * cell means near-identical fingerprints — resolve those through
  * [[graft.dedup.DedupClusters]] (one survivor per cluster), not by
  * discarding evidence.
  */
object SimHashDedup {

  val Chunks = 4
  val ChunkBits = 64 / Chunks
  /** Max Hamming distance with a zero-false-negative guarantee. */
  val MaxDistance: Int = Chunks - 1

  /** One row per (doc, chunk): (chunk_idx, chunk_value, id, simhash). */
  def chunkedDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    SimHash64.register(docs.sparkSession) // idempotent; callers need no setup
    val sim = SimHash64.simhash64(col(textCol))
    val chunks = array((0 until Chunks).map { i =>
      shiftrightunsigned(col("simhash"), i * ChunkBits).bitwiseAND(lit(0xFFFFL))
    }: _*)
    docs.select(col(idCol).as("sh_id"), sim.as("simhash"))
      .select(col("sh_id"), col("simhash"),
        posexplode(chunks).as(Seq("chunk_idx", "chunk_value")))
  }

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Pairs (id_a < id_b) within `maxDist` Hamming bits (≤ [[MaxDistance]]
    * for the no-false-negative guarantee).
    */
  def nearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = MaxDistance): DataFrame = {
    require(maxDist <= MaxDistance,
      s"maxDist=$maxDist loses the pigeonhole guarantee beyond $MaxDistance")
    val chunked = chunkedDocs(docs, idCol, textCol)
    val left = chunked.select(col("chunk_idx"), col("chunk_value"),
      col("sh_id").as("id_a"), col("simhash").as("sim_a"))
    val right = chunked.select(col("chunk_idx"), col("chunk_value"),
      col("sh_id").as("id_b"), col("simhash").as("sim_b"))
    left.join(right, Seq("chunk_idx", "chunk_value"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming_dist", hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming_dist") <= maxDist)
      .select("id_a", "id_b", "hamming_dist")
      .dropDuplicates("id_a", "id_b")
  }

  /** Convenience: register the simhash64 expression on a session. */
  def ensureRegistered(spark: SparkSession): Unit = SimHash64.register(spark)

  // ------------------------------------------------------------------
  // Incremental (corpus-vs-batch) simhash near-dup over a persisted
  // index — completes the incremental family (MinHash:
  // [[MinHashLSH.nearDuplicatesAgainst]]; embeddings:
  // [[graft.similarity.Similarity.cosineNearDuplicatesAgainst]]).
  // The index is ONE table — the chunked relation with the full
  // fingerprint riding along —
  //
  //   <indexDir>/chunks : (chunk_idx, chunk_value, sh_id, simhash)
  //
  // so the probe needs no separate verification scan: the exact
  // popcount(xor) filter evaluates inline on the joined rows. Per-batch
  // cost is O(batch) fingerprinting + a join against the stored chunk
  // table on the (chunk_idx, chunk_value) bucket key.
  // ------------------------------------------------------------------

  private def chunksPath(indexDir: String) = s"$indexDir/chunks"

  /** Build the persisted simhash index for `docs` (overwrites). */
  def buildIndex(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String): Unit =
    chunkedDocs(docs, idCol, textCol).write.mode("overwrite").parquet(chunksPath(indexDir))

  /** Near-duplicate pairs between `batch` and the persisted index
    * (plus within-batch pairs) — equal to [[nearDuplicates]] on
    * (corpus ∪ batch) restricted to pairs touching the batch, without
    * re-fingerprinting the corpus. Ids must be globally unique; a
    * batch doc already present in the index surfaces as its own
    * (id, id) pair at distance 0, which an incremental caller can
    * key a replay on.
    */
  def nearDuplicatesAgainst(
      batch: DataFrame, idCol: String, textCol: String, indexDir: String,
      maxDist: Int = MaxDistance): DataFrame = {
    require(maxDist <= MaxDistance,
      s"maxDist=$maxDist loses the pigeonhole guarantee beyond $MaxDistance")
    val corpus = batch.sparkSession.read.parquet(chunksPath(indexDir))
    val batchChunked = chunkedDocs(batch, idCol, textCol)
    val bb = batchChunked.select(col("chunk_idx"), col("chunk_value"),
        col("sh_id").as("id_a"), col("simhash").as("sim_a"))
      .join(batchChunked.select(col("chunk_idx"), col("chunk_value"),
        col("sh_id").as("id_b"), col("simhash").as("sim_b")),
        Seq("chunk_idx", "chunk_value"))
      .filter(col("id_a") < col("id_b"))
    // hamming is symmetric, so pair ordering by id is free
    val bc = batchChunked.select(col("chunk_idx"), col("chunk_value"),
        col("sh_id").as("batch_id"), col("simhash").as("sim_a"))
      .join(corpus.select(col("chunk_idx"), col("chunk_value"),
        col("sh_id").as("corpus_id"), col("simhash").as("sim_b")),
        Seq("chunk_idx", "chunk_value"))
      .select(least(col("batch_id"), col("corpus_id")).as("id_a"),
        greatest(col("batch_id"), col("corpus_id")).as("id_b"),
        col("sim_a"), col("sim_b"))
    bb.select("id_a", "id_b", "sim_a", "sim_b").union(bc)
      .withColumn("hamming_dist", hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming_dist") <= maxDist)
      .select("id_a", "id_b", "hamming_dist")
      .dropDuplicates("id_a", "id_b")
  }
}
