package graft.similarity

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`). The hot
  * kernel is the native `dot64` Catalyst expression
  * ([[graft.functions.VectorOps]]) — codegen'd, no UDFs; every entry
  * point registers it on the executing session.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is
  *    broadcast (it's the small side by construction), so the corpus
  *    never shuffles — each partition scores its slice and keeps a
  *    bounded per-query top-k ([[graft.functions.TopKAgg]], a
  *    TypedImperativeAggregate with map-side partial combine), so the
  *    shuffle carries at most k entries per (split, query) instead of
  *    ranking all N scored ids in one global window. Correct baseline
  *    at any corpus size as long as |queries| stays broadcast-able.
  *  - [[RandomHyperplaneLsh]]: the scale path — sign-random-projection
  *    bucketing over L tables; only bucket-colliding pairs are scored.
  *    Corpus shuffles once per table on the bucket key; candidate
  *    volume is corpus/2^bits per bucket in expectation.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in doubles, left-to-right (deterministic, oracle-exact).
    * Backed by the native dot64 expression (codegen'd; the
    * aggregate/zip_with built-in form is an interpreted HOF) — the
    * executing session must register it, which every entry point in
    * this object and [[IvfIndex]] does.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot64(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors (cosine) of each query vector, excluding
    * self-matches; deterministic vec_id tie-break.
    * Output: (query_id, rank, vec_id, cosine).
    *
    * Scale shape: per-split bounded top-k via [[graft.functions.TopKAgg]]
    * — each input split keeps a k-entry heap per query (map-side partial
    * aggregation), so the exchange ships O(k · splits) entries per query
    * rather than all N scored corpus ids through a global window. Null
    * cosines (degenerate embeddings) are excluded from ranking rather
    * than ranked last, matching the non-null-by-construction inputs.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.functions.VectorOps.register(corpus.sparkSession)
    val c = corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    rankTopK(
      c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("q_emb"), col("emb")).as("cosine")),
      k)
  }

  /** (query_id, vec_id, cosine) → (query_id, rank, vec_id, cosine),
    * rank 1..k by cosine desc with vec_id tie-break — the shared ANN
    * ranking tail. A bounded per-split top-k aggregate
    * ([[graft.functions.TopKAgg]]): identical output to
    * `row_number().over(partitionBy(query_id).orderBy(cosine desc,
    * vec_id)) <= k`, but the exchange carries at most k entries per
    * (split, query) instead of every scored candidate id — the global
    * ranking window was the one ANN stage whose shuffle grew with the
    * corpus rather than with k.
    */
  private[similarity] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.TopKAgg.register(scored.sparkSession)
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topkBy(
        col("cosine"), col("vec_id"), k, asc = false).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("vec_id"), col("e.score").as("cosine"))
  }

  /** Sign-random-projection LSH: deterministic hyperplanes from a seed,
    * `bits` sign bits per table, `tables` independent tables to boost
    * recall (candidate = collides in ≥1 table).
    */
  final case class RandomHyperplaneLsh(dim: Int, bits: Int, tables: Int, seed: Long = 42L) {

    /** hyperplanes(t)(b) = unit-free gaussian vector, fixed by seed. */
    private val planes: Seq[Seq[Seq[Double]]] = {
      val rnd = new Random(seed)
      Seq.fill(tables, bits, dim)(rnd.nextGaussian())
    }

    /** Bucket key for table t: packed sign bits of the projections. */
    def bucket(emb: Column, t: Int): Column =
      (0 until bits).map { b =>
        val plane = array(planes(t)(b).map(lit): _*)
        when(Similarity.dot(emb, plane) >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)

    /** (table, bucket, vec_id, emb) — one row per vector per table. */
    def bucketed(vecs: DataFrame): DataFrame = {
      graft.functions.VectorOps.register(vecs.sparkSession)
      val emb = col("embedding").cast("array<double>")
      val buckets = array((0 until tables).map(t => bucket(emb, t)): _*)
      vecs.select(col("vec_id"), emb.as("emb"),
        posexplode(buckets).as(Seq("lsh_table", "lsh_bucket")))
    }

    /** Approximate top-k: score only bucket-colliding candidates.
      * Candidate pairs travel the bucket join and the distinct as bare
      * (query_id, vec_id) ids — embeddings re-join afterwards (query
      * side broadcast, corpus side one narrow hash join), so no vector
      * payload rides the wide shuffles. Output schema matches
      * [[bruteForceTopK]].
      */
    def approxTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
      val c = bucketed(corpus).select(col("lsh_table"), col("lsh_bucket"), col("vec_id"))
      val q = bucketed(queries).select(col("lsh_table"), col("lsh_bucket"),
        col("vec_id").as("query_id"))
      val cands = c.join(q, Seq("lsh_table", "lsh_bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
      val qEmb = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      val cEmb = corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      // equi-joins, no hints: AQE broadcasts a small query set and
      // shuffles a corpus-sized one — a forced broadcast would cap the
      // scale path at driver memory
      Similarity.rankTopK(
        cands
          .join(qEmb, Seq("query_id"))
          .join(cEmb, Seq("vec_id"))
          .select(col("query_id"), col("vec_id"),
            Similarity.cosine(col("q_emb"), col("emb")).as("cosine")),
        k)
    }
  }

  /** Embedding-space near-duplicate pairs: bucket-colliding pairs with
    * cosine above a threshold — the embedding analogue of MinHash
    * near-dup, same no-all-pairs shuffle shape.
    *
    * Full-corpus self-join form; a daily pipeline should use
    * [[buildCosineIndex]] + [[cosineNearDuplicatesAgainst]] so each
    * batch only buckets itself.
    *
    * Bucket-width note (deliberately NOT capped, unlike
    * [[graft.dedup.MinHashLSH.DefaultMaxBandBucket]]): sign buckets are
    * COARSE by design — 2^bits cells per table — so wide buckets are
    * expected and carry real pairs; identical vectors share EVERY
    * bucket, so dropping wide buckets would silently lose exact
    * duplicates (the guarantee the q32/q34 gates pin). The scale lever
    * here is `bits` ∝ log₂(N) (per-bucket occupancy ≈ N/2^bits keeps
    * the s² pair work bounded), plus more `tables` to restore recall —
    * a cap is the wrong tool for this family. Gate-measured
    * (BucketBoundSpec, N=400 + a 30-wide planted cluster, 2 tables):
    * background candidate volume 46,070 → 3,883 → 489 pairs at
    * bits 2 → 6 → 10 — geometric in bits, as the N²/2^bits model
    * predicts — while the cluster's tables·m(m−1)/2 contribution and
    * its full pair set survive at every setting.
    */
  def cosineNearDuplicates(
      vecs: DataFrame, lsh: RandomHyperplaneLsh, threshold: Double): DataFrame = {
    val b = lsh.bucketed(vecs).select(col("lsh_table"), col("lsh_bucket"), col("vec_id"))
    val pairs = b
      .join(b.withColumnRenamed("vec_id", "id_b"), Seq("lsh_table", "lsh_bucket"))
      .withColumnRenamed("vec_id", "id_a")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val emb = vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    verifyCosinePairs(pairs, emb, threshold)
  }

  /** Exact-cosine verification of candidate `pairs` against a
    * (vec_id, emb) relation — shared by the self-join and incremental
    * paths. Lazy; exposed within the package for plan-shape tests.
    */
  private[similarity] def verifyCosinePairs(
      pairs: DataFrame, emb: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("emb").as("emb_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("emb").as("emb_b")), Seq("id_b"))
      .withColumn("cosine", cosine(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  // ------------------------------------------------------------------
  // Incremental (corpus-vs-batch) embedding near-dup over a persisted
  // bucket index — the embedding twin of
  // [[graft.dedup.MinHashLSH.buildIndex]]/`nearDuplicatesAgainst`: a
  // daily embedding-dedup batch must not re-bucket the whole corpus,
  // so the corpus's derived state is persisted ONCE as two parquet
  // tables and each batch only buckets itself:
  //
  //   <indexDir>/buckets    : (lsh_table, lsh_bucket, vec_id)
  //   <indexDir>/embeddings : (vec_id, emb)   — for verification
  //
  // Per-batch cost: bucket the batch (bits × tables codegen'd dot64
  // projections per row, O(batch)), join batch buckets against the
  // stored bucket table (shuffle on the bucket key), verify candidates
  // against the stored embedding table pruned by a broadcast semi-join
  // to candidate ids — corpus embeddings are never re-projected.
  // ------------------------------------------------------------------

  private def bucketsPath(indexDir: String) = s"$indexDir/buckets"
  private def embeddingsPath(indexDir: String) = s"$indexDir/embeddings"

  /** Build the persisted cosine near-dup index for `vecs` at `indexDir`
    * (overwrites). Probe with the SAME `lsh` parameterization —
    * bucket keys are only comparable within one (dim, bits, tables,
    * seed).
    */
  def buildCosineIndex(
      vecs: DataFrame, lsh: RandomHyperplaneLsh, indexDir: String): Unit = {
    lsh.bucketed(vecs).select(col("lsh_table"), col("lsh_bucket"), col("vec_id"))
      .write.mode("overwrite").parquet(bucketsPath(indexDir))
    vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .write.mode("overwrite").parquet(embeddingsPath(indexDir))
  }

  /** Candidate pairs touching the batch: batch×batch (id_a < id_b)
    * plus batch×corpus (ordered with least/greatest). Lazy — exposed
    * for plan-shape tests; the corpus side must be a stored-bucket
    * scan.
    */
  private[similarity] def incrementalBucketCandidates(
      corpusBuckets: DataFrame, batchBuckets: DataFrame): DataFrame = {
    val bb = batchBuckets
      .select(col("lsh_table"), col("lsh_bucket"), col("vec_id").as("id_a"))
      .join(batchBuckets.select(col("lsh_table"), col("lsh_bucket"), col("vec_id").as("id_b")),
        Seq("lsh_table", "lsh_bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val bc = batchBuckets
      .select(col("lsh_table"), col("lsh_bucket"), col("vec_id").as("batch_id"))
      .join(corpusBuckets.select(col("lsh_table"), col("lsh_bucket"), col("vec_id").as("corpus_id")),
        Seq("lsh_table", "lsh_bucket"))
      .select(least(col("batch_id"), col("corpus_id")).as("id_a"),
        greatest(col("batch_id"), col("corpus_id")).as("id_b"))
    bb.union(bc).distinct()
  }

  /** Near-duplicate pairs between `batch` and the persisted index at
    * `indexDir` (plus within-batch pairs) — equal to
    * [[cosineNearDuplicates]] on (corpus ∪ batch) restricted to pairs
    * touching the batch, without re-bucketing anything corpus-side.
    * Ids must be globally unique across corpus and batch; `lsh` must
    * match the index build. EAGER: the result is materialized before
    * returning, so the caller may immediately rebuild the index.
    */
  def cosineNearDuplicatesAgainst(
      batch: DataFrame, lsh: RandomHyperplaneLsh, indexDir: String,
      threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    graft.functions.VectorOps.register(spark)
    val corpusBuckets = spark.read.parquet(bucketsPath(indexDir))
    val corpusEmb = spark.read.parquet(embeddingsPath(indexDir))
    // cached, not pinned: four subtrees of the one probe job consume
    // the batch's buckets (both self-join sides, the corpus candidate
    // join, the candidate-key set)
    graft.core.Materialize.cached(lsh.bucketed(batch)
        .select(col("lsh_table"), col("lsh_bucket"), col("vec_id"))) { batchBuckets =>
      val pairs = incrementalBucketCandidates(corpusBuckets, batchBuckets)
      // verification reads corpus embeddings for CANDIDATE ids only: the
      // candidate id set is small by construction, so a broadcast
      // semi-join prunes the stored-embedding scan before the pair joins.
      // Candidate CORPUS ids are exactly the corpus vectors sharing a
      // bucket with the batch (batch ids are all in `emb` anyway), so the
      // set is derived straight from the stored-bucket scan — not from
      // `pairs` — leaving `pairs` single-consumer: the whole probe is ONE
      // job instead of a candidate-checkpoint job plus a verify job.
      val candIds = corpusBuckets
        .join(broadcast(batchBuckets.select(col("lsh_table"), col("lsh_bucket")).distinct()),
          Seq("lsh_table", "lsh_bucket"), "left_semi")
        .select(col("vec_id")).distinct()
      // dropDuplicates: a crash-replayed batch doc already persisted in
      // the index would otherwise appear in `emb` twice (batch side and
      // stored side) and duplicate every pair row it touches
      val emb = batch
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .unionByName(corpusEmb.join(broadcast(candIds), Seq("vec_id"), "left_semi"))
        .dropDuplicates("vec_id")
      graft.core.Materialize.pin(verifyCosinePairs(pairs, emb, threshold))
    }
  }
}
