package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-index Hamming self-join over 64-bit perceptual hashes —
  * the shared search core under [[ImagePhash]] (DCT pHash) and
  * [[AudioFingerprint]] (energy-envelope fingerprint). Norouzi et
  * al.'s multi-index hashing shape, widened for perceptual radii:
  * the 64-bit hash splits into 8 × 8-bit chunks; the probe side of
  * the self-join emits each chunk value plus its 8 single-bit flips,
  * the index side emits exact values, and candidates come from
  * (chunk_idx, chunk_value) equality. A pair within Hamming ≤ 15 has
  * some chunk differing in ≤ ⌊15/8⌋ = 1 bit (pigeonhole), which a
  * 1-bit flip covers — the radius-15 guarantee. Exact
  * `bit_count(xor)` verification runs inline on the joined rows, so
  * false positives are impossible.
  *
  * At 100 TB: the hash relation is 16 bytes/item, the probe fanout is
  * a fixed ×9 per chunk, and the chunk join is the only shuffle —
  * pair work happens inside hash-collision buckets, never all-pairs.
  */
object MultiIndexHamming {

  val Chunks = 8
  val ChunkBits = 64 / Chunks
  /** Multi-probe-guaranteed search radius: some chunk differs in ≤ 1
    * bit for any pair within 2·Chunks − 1.
    */
  val MaxDistance: Int = 2 * Chunks - 1

  /** Chunked hash relation over (media_id, hash64):
    * (chunk_idx, chunk_value, media_id, hash64), one row per 8-bit
    * chunk. With `probe = true` each chunk also emits its 8
    * single-bit flips (the multi-probe side, ×9 fanout).
    */
  def chunked(hashes: DataFrame, hashCol: String, probe: Boolean = false): DataFrame = {
    val rows = hashes.select(col("media_id"), col(hashCol),
        posexplode(array((0 until Chunks).map { i =>
          shiftright(col(hashCol), i * ChunkBits)
            .bitwiseAND(lit((1L << ChunkBits) - 1))
        }: _*)))
      .select(col("pos").as("chunk_idx"), col("col").as("exact"),
        col("media_id"), col(hashCol))
    val variants =
      if (!probe) array(col("exact"))
      else array(col("exact") +:
        (0 until ChunkBits).map(b => col("exact").bitwiseXOR(lit(1L << b))): _*)
    rows.select(col("chunk_idx"), explode(variants).as("chunk_value"),
      col("media_id"), col(hashCol))
  }

  /** Cross-relation search: (probe_id, index_id, hamming_dist) for
    * every probe hash within `maxDist` bits of an index hash — the
    * incremental-dedup face (new batch vs persisted code index; the
    * q33/q34/q88 discipline: the index side is stored chunks, never a
    * rescan of raw media). Same multi-probe guarantee and inline
    * popcount verify as the self-join.
    */
  def searchAgainst(probe: DataFrame, index: DataFrame, hashCol: String,
      maxDist: Int = MaxDistance): DataFrame = {
    require(maxDist <= MaxDistance,
      s"maxDist=$maxDist loses the multi-probe guarantee beyond $MaxDistance")
    chunked(probe, hashCol, probe = true).select(col("chunk_idx"), col("chunk_value"),
        col("media_id").as("probe_id"), col(hashCol).as("h_p"))
      .join(chunked(index, hashCol).select(col("chunk_idx"), col("chunk_value"),
        col("media_id").as("index_id"), col(hashCol).as("h_i")),
        Seq("chunk_idx", "chunk_value"))
      .filter(col("probe_id") =!= col("index_id"))
      .withColumn("hamming_dist", bit_count(col("h_p").bitwiseXOR(col("h_i"))))
      .filter(col("hamming_dist") <= maxDist)
      .select("probe_id", "index_id", "hamming_dist")
      .dropDuplicates("probe_id", "index_id")
  }

  /** Near-duplicate pairs (id_a < id_b, hamming_dist) within `maxDist`
    * Hamming bits over a (media_id, `hashCol`) relation. Exact within
    * the multi-probe radius.
    */
  def nearDuplicatePairs(hashes: DataFrame, hashCol: String,
      maxDist: Int = MaxDistance): DataFrame = {
    require(maxDist <= MaxDistance,
      s"maxDist=$maxDist loses the multi-probe guarantee beyond $MaxDistance")
    val h = graft.core.Materialize.pin(hashes)
    chunked(h, hashCol, probe = true).select(col("chunk_idx"), col("chunk_value"),
        col("media_id").as("id_a"), col(hashCol).as("h_a"))
      .join(chunked(h, hashCol).select(col("chunk_idx"), col("chunk_value"),
        col("media_id").as("id_b"), col(hashCol).as("h_b")),
        Seq("chunk_idx", "chunk_value"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming_dist", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming_dist") <= maxDist)
      .select("id_a", "id_b", "hamming_dist")
      .dropDuplicates("id_a", "id_b")
  }
}
