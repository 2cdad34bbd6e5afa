package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.text.TextFunctions

/** MinHash + LSH banding near-duplicate detection, built entirely from
  * codegen'd built-in functions (no UDFs):
  *
  *   word shingles → k minhashes (xxhash64 seeded by slot index) →
  *   b band keys → shuffle on (band_idx, band_hash) → candidate pairs
  *   within buckets only → exact Jaccard verification.
  *
  * Scale design: the only shuffles are the band-key self-join and the
  * final pair distinct — candidate volume is O(colliding pairs), never
  * the all-pairs O(n²) a crossJoin would cost. Detection probability
  * for Jaccard j is 1-(1-j^r)^b (r = k/b rows per band); the defaults
  * (k=128, b=16, r=8) catch j≥0.9 with P > 0.9999 and pass j≤0.5 with
  * P < 7%, and every surviving pair is exact-verified, so false
  * positives are impossible — only borderline-jaccard misses are.
  */
object MinHashLSH {

  /** Band buckets wider than this are DEGRADED — not dropped — in
    * candidate-pair generation. An LSH band bucket of width s
    * contributes s² candidate pairs to the self-join — a
    * corpus-frequent boilerplate signature (every page sharing one
    * template band) is the classic LSH skew killer at scale: one
    * bucket of 10⁶ docs is 10¹² pairs on one reducer. A bucket within
    * the cap enumerates its pairs fully (≤ maxBucket²/2); a bucket
    * OVER the cap instead emits a bounded representative star — each
    * member paired with the bucket's minimum id, O(s) pairs — so a
    * duplicate cluster wider than the cap (which shares EVERY band
    * bucket, making all of them oversized) still surfaces as one
    * connected component around its minimum-id member instead of
    * vanishing. That preserves cluster-survivor dedup semantics
    * exactly for exact-copy clusters (every star pair verifies at
    * J = 1); for merely-similar members the star edge can fail
    * verification where some dropped member↔member edge would have
    * passed — the degradation, counted and logged loudly by the eager
    * entry points via [[Observation]] metrics collected during the
    * same job. Raise the cap (or pre-strip boilerplate) if the log
    * fires on content you care about.
    */
  val DefaultMaxBandBucket: Int = 1024

  /** Distinct word n-gram shingles; docs shorter than n shingle to the
    * whole text so they can still collide with near-copies. Array form
    * — use on small row counts (candidate verification): the
    * transform/slice lambdas are interpreted per row. Corpus-scale
    * paths use [[shingleRows]].
    */
  def wordShingles(text: Column, n: Int): Column = {
    val ts = TextFunctions.tokens(text)
    val sh = when(size(ts) < n, array(concat_ws(" ", ts)))
      .otherwise(transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + lit(1), lit(n)))))
    array_distinct(sh)
  }

  /** Relational shingling: one (id, shingle) row per n-gram — possibly
    * with duplicates (min/set aggregations downstream are insensitive;
    * dedup with the consuming groupBy when sets are needed).
    *
    * Shape: whitespace-normalize once, then ONE codegen'd
    * `regexp_extract_all` pass pulls every overlapping n-gram via a
    * zero-width lookahead anchored at token starts —
    * `(?:^| )(?=(tok( tok){n-1}))` — and a single explode turns the
    * matches into rows. Entirely map-side (no shuffle) and entirely
    * whole-stage-codegen: round-3 profiling showed this 4.5× faster
    * than both the posexplode+window `lead` formulation (shuffle+sort
    * of every token) and the interpreted `transform`/`slice` HOF array
    * form. Same whole-text fallback for docs shorter than n tokens
    * (including the empty-string row for blank docs, matching
    * `concat_ws` over an empty token array).
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("sid"), explode(shingleArray(col(textCol), n)).as("sh"))

  /** The in-row (possibly duplicated) shingle array [[shingleRows]]
    * explodes — exposed so per-doc-local consumers (q26's self-pair
    * Jaccard) can stay entirely in-row instead of exploding to rows
    * and shuffling the shingle strings back together.
    */
  def shingleArray(textCol: Column, n: Int): Column = {
    require(n >= 1, s"shingle size n=$n must be >= 1")
    // lower+collapse-whitespace BEFORE trim so non-space whitespace
    // (tabs/newlines) at the edges is also trimmed; tokens are then
    // exactly TextFunctions.tokens' split("\\s+") non-empty tokens,
    // single-space-joined.
    val norm = trim(regexp_replace(lower(textCol), "\\s+", " "))
    val pat = "(?:^| )(?=(" + ("[^ ]+ " * (n - 1)) + "[^ ]+))"
    val grams = regexp_extract_all(norm, lit(pat), lit(1))
    when(size(grams) === 0, array(norm)).otherwise(grams)
  }

  /** Deterministic multiply-shift coefficients for the k universal
    * hash families: slot i over base hash h is a_i·h + b_i (64-bit
    * wraparound; a_i odd). One string hash per shingle, k long
    * multiply-adds — instead of k full string hashes.
    */
  private def coefficients(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x9E3779B97F4A7C15L)
    Seq.fill(k)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** Per-doc k-slot minhash signature via explode + hash-aggregate:
    * (id, shingle) rows → one xxhash64 per shingle → groupBy(id) with
    * k `min(a_i·h + b_i)` aggregates (multiply-shift universal
    * hashing). Fully whole-stage-codegen'd — no higher-order
    * functions in the hot path (HOFs are interpreted, and a k-column
    * HOF formulation additionally recomputes the shingling per column
    * under Catalyst projection collapse). One shuffle on the doc id
    * with map-side partial min — scales linearly.
    * Output: (mh_id, s_0 … s_{k-1}).
    */
  def signatures(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    signaturesFromShingles(shingleRows(docs, idCol, textCol, n), k)

  /** [[signatures]] over an existing (sid, sh) relation — lets callers
    * that need the shingles again later (verification) compute them
    * once and persist.
    */
  def signaturesFromShingles(sh: DataFrame, k: Int): DataFrame = {
    val ab = coefficients(k)
    val slots = ab.zipWithIndex.map { case ((a, b), i) =>
      min(col("h") * a + b).as(s"s_$i")
    }
    sh.select(col("sid").as("mh_id"), xxhash64(col("sh")).as("h"))
      .groupBy(col("mh_id"))
      .agg(slots.head, slots.tail: _*)
  }

  /** b band keys over the signature columns: band i = xxhash64 of
    * (i, slots i·r … i·r+r−1). Each slot is a materialized aggregate
    * output, referenced once — no recompute hazard.
    */
  def bandKeyCols(b: Int, r: Int): Seq[Column] =
    (0 until b).map { i =>
      xxhash64((lit(i) +: (0 until r).map(j => col(s"s_${i * r + j}"))): _*)
    }

  /** Exact Jaccard over two shingle arrays (already distinct). Fine on
    * candidate pairs (small row counts); for corpus-wide scoring use
    * [[jaccardSets]] — array intersect/union are interpreted per-row
    * and projection collapse recomputes the shingle subtrees per
    * reference.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Corpus-wide exact Jaccard between two shingle-array columns,
    * computed relationally: explode each side once, flag membership,
    * and reduce with two codegen'd hash-aggregations —
    * |A∩B| = Σ(in_a·in_b), |A∪B| = distinct shingle count. Each
    * shingle subtree evaluates exactly once per row; the shuffles are
    * on (id, shingle) then id.
    */
  def jaccardSets(
      docs: DataFrame, idCol: String, aCol: String, bCol: String): DataFrame = {
    val a = docs.select(col(idCol).as("js_id"), explode(col(aCol)).as("sh"))
      .withColumn("in_a", lit(1)).withColumn("in_b", lit(0))
    val b = docs.select(col(idCol).as("js_id"), explode(col(bCol)).as("sh"))
      .withColumn("in_a", lit(0)).withColumn("in_b", lit(1))
    jaccardFromFlagged(a.union(b))
  }

  /** [[jaccardSets]] over two TEXT columns via [[shingleRows]] — no
    * array materialization, no interpreted lambdas; the whole pipeline
    * is explodes, windows, and hash-aggregations.
    */
  def jaccardTexts(
      docs: DataFrame, idCol: String, aTextCol: String, bTextCol: String,
      n: Int): DataFrame = {
    val a = shingleRows(docs, idCol, aTextCol, n)
      .select(col("sid").as("js_id"), col("sh"))
      .withColumn("in_a", lit(1)).withColumn("in_b", lit(0))
    val b = shingleRows(docs, idCol, bTextCol, n)
      .select(col("sid").as("js_id"), col("sh"))
      .withColumn("in_a", lit(0)).withColumn("in_b", lit(1))
    jaccardFromFlagged(a.union(b))
  }

  private def jaccardFromFlagged(flagged: DataFrame): DataFrame =
    flagged
      .groupBy(col("js_id"), col("sh"))
      .agg(max(col("in_a")).as("fa"), max(col("in_b")).as("fb"))
      .groupBy(col("js_id"))
      .agg((sum(col("fa") * col("fb")).cast("double") / count(lit(1))).as("jaccard"))

  /** One row per (doc, band): (band_idx, band_hash, id). Only the id
    * rides the band shuffle — shingle arrays would multiply the shuffle
    * width by the band count for nothing (they're re-derived only for
    * the tiny candidate set during verification).
    */
  def bandedDocs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, b: Int): DataFrame =
    bandedFromShingles(shingleRows(docs, idCol, textCol, n), k, b)

  private[dedup] def bandedFromShingles(sh: DataFrame, k: Int, b: Int): DataFrame = {
    require(k % b == 0, s"k=$k must be divisible by b=$b")
    val r = k / b
    signaturesFromShingles(sh, k)
      .select(col("mh_id"),
        posexplode(array(bandKeyCols(b, r): _*)).as(Seq("band_idx", "band_hash")))
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Annotates a banded relation with its bucket width and minimum id,
    * keeping `rep` (the bucket's min id) non-null exactly on rows in
    * buckets wider than `maxBucket` (see [[DefaultMaxBandBucket]]).
    * Downstream consumers read the schema as: rep null → enumerate the
    * bucket's pairs fully; rep non-null → the bucket is oversized and
    * degrades to the (rep, member) star. Singleton buckets are dropped
    * when `keepSingletons` is false (they yield no self-join pairs —
    * skipping them prunes the join input for free); the incremental
    * path keeps them (a lone batch doc still probes the corpus). Width
    * and min come from one window over the band key — the SAME hash
    * partitioning the candidate self-join requires, so they ride the
    * exchange the join pays anyway, and the window's partition-key
    * sort satisfies a sort-merge join's ordering requirement.
    *
    * When `obs` is given, degrade accounting is collected DURING the
    * same job (zero extra passes) — callers must evaluate the result
    * exactly once (checkpoint) before reusing it, both so the metrics
    * are exact and because Spark rejects one observation attached to
    * two plan subtrees.
    */
  private def cappedBands(
      banded: DataFrame, maxBucket: Int, obs: Option[Observation],
      keepSingletons: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("band_idx"), col("band_hash"))
    val widthed = banded
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("bmin", min(col("mh_id")).over(w))
    val observed = obs.map(o => widthed.observe(o,
      sum(when(col("bsz") > maxBucket, lit(1L)).otherwise(lit(0L))).as("degraded_rows"),
      max(col("bsz")).as("widest_bucket"))).getOrElse(widthed)
    val bounded = if (keepSingletons) observed else observed.filter(col("bsz") >= 2)
    bounded.select(col("band_idx"), col("band_hash"), col("mh_id"),
      when(col("bsz") > maxBucket, col("bmin")).as("rep"))
  }

  /** WARN loudly when an evaluated observation recorded degraded rows —
    * an oversized bucket falls back to representative star pairing, so
    * member↔member pairs colliding in no normal-width band are only
    * found if both members verify against the bucket's min id; that
    * must never pass silently. Callers invoke this right after the
    * eager action that evaluated the observed plan; the metric row
    * arrives via an async listener, so wait briefly rather than assume
    * it already landed.
    */
  private def warnDrops(obs: Observation, maxBucket: Int, what: String): Unit =
    try {
      val row = scala.concurrent.Await.result(
        obs.future, scala.concurrent.duration.Duration(60, "s"))
      // positional access, not by name: under foreachBatch the metric
      // row arrives as a schema-less GenericRow where fieldIndex throws.
      // Slot 0 = degraded_rows, 1 = widest_bucket (observe expr order);
      // both null on an empty input relation.
      val degraded =
        if (row.length > 0 && !row.isNullAt(0)) row.getLong(0) else 0L
      if (degraded > 0) {
        val widest = if (row.length > 1) row.get(1) else "?"
        log.warn(s"LSH $what: degraded $degraded (doc, band) rows in buckets " +
          s"wider than maxBucket=$maxBucket (widest: $widest) to min-id star " +
          "pairing — full pair enumeration is skipped there; raise maxBucket " +
          "or strip boilerplate if member-to-member pairs in those buckets matter.")
      }
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        log.warn(s"LSH $what: bucket-cap degrade metrics unavailable (listener timeout)")
    }

  /** Candidate pairs (id_a < id_b) from a [[cappedBands]]-annotated
    * relation. Normal buckets (rep null) self-join fully — the join
    * shuffles narrow (band_idx, band_hash, id) rows, bucket-local
    * pairs only, never more than maxBucket²/2 per bucket. Oversized
    * buckets (rep non-null) contribute only their (rep, member) star —
    * O(s) rows with no join at all, so a mega-bucket's cost is linear
    * in its width while its duplicate cluster stays connected.
    */
  private def pairsFromBands(capped: DataFrame): DataFrame = {
    val kept = capped.filter(col("rep").isNull)
    val left = kept.select(col("band_idx"), col("band_hash"), col("mh_id").as("id_a"))
    val right = kept.select(col("band_idx"), col("band_hash"), col("mh_id").as("id_b"))
    val full = left.join(right, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val star = capped.filter(col("rep").isNotNull && col("mh_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("mh_id").as("id_b"))
    full.union(star).distinct()
  }

  /** Candidate pairs (id_a < id_b): full pair enumeration within band
    * buckets of width ≤ maxBucket, min-id star pairs from wider ones
    * (see [[DefaultMaxBandBucket]]). Lazy — SILENT about degradation:
    * the [[Observation]] accounting only happens on the eager entry
    * points ([[nearDuplicates]] and friends), which observe the capped
    * relation during their own jobs. Callers who must know whether a
    * bucket degraded should use those, or pass maxBucket =
    * Int.MaxValue here to forgo the cap entirely.
    */
  def candidatePairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 128, b: Int = 16,
      maxBucket: Int = DefaultMaxBandBucket): DataFrame =
    candidatePairsFromShingles(shingleRows(docs, idCol, textCol, n), k, b, maxBucket)

  private def candidatePairsFromShingles(
      sh: DataFrame, k: Int, b: Int,
      maxBucket: Int = DefaultMaxBandBucket): DataFrame =
    pairsFromBands(cappedBands(bandedFromShingles(sh, k, b), maxBucket, None))

  /** Verified near-duplicate pairs at a Jaccard threshold. Exact
    * verification is fully relational: candidate pairs (the small
    * side) join the (id, shingle) rows per side, and two
    * hash-aggregations compute |A∩B| / |A∪B| — no shingle arrays ever
    * shuffle, no interpreted set-ops.
    *
    * The (sid, shingle) relation feeds both the signature and the
    * verification phase, so it is persisted (memory-then-disk) for the
    * duration. That keeps the expensive shingling to exactly one
    * evaluation and lets the banded self-join and the verify join read
    * from cache instead of recomputing the lineage (round-3 profile:
    * the recompute was ~2× the whole query).
    *
    * EAGER: this method runs the full shingle→signature→banding→verify
    * job before returning — the candidate set and the result (both
    * small by construction) are pinned ([[graft.core.Materialize]])
    * and the shingle cache is released before the method returns.
    */
  def nearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, k: Int = 128, b: Int = 16,
      maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    Materialize.cached(shingleRows(docs, idCol, textCol, n)) { sh =>
      // The capped band relation is pinned FIRST (evaluating the
      // bucket-width observation exactly once, and sparing the pair
      // self-join a double signature recompute); drops warn loudly.
      val obs = Observation()
      val kept = Materialize.pin(
        cappedBands(bandedFromShingles(sh, k, b), maxBucket, Some(obs)))
      warnDrops(obs, maxBucket, s"nearDuplicates(n=$n,k=$k,b=$b)")
      val pairs = Materialize.pin(pairsFromBands(kept))
      // pin the (small) verified set so the shingle cache can be
      // released before returning
      Materialize.pin(verifyPairs(pairs, sh, threshold))
    }
  }

  /** Exact-Jaccard verification of candidate `pairs` against an
    * (sid, sh) shingle relation — fully relational, shared by the
    * self-join and incremental paths. Melts each pair into its two
    * (sid, membership-flag) probes so the shingle relation is
    * referenced ONCE (a union-of-two-joins formulation would evaluate
    * it twice), then two hash-aggregations compute |A∩B| / |A∪B|.
    * Duplicate (sid, sh) rows on the input are fine — the first
    * groupBy collapses them.
    */
  private[dedup] def verifyPairs(
      pairs: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val probes = pairs.select(col("id_a"), col("id_b"),
      explode(array(
        struct(col("id_a").as("sid"), lit(1).as("in_a"), lit(0).as("in_b")),
        struct(col("id_b").as("sid"), lit(0).as("in_a"), lit(1).as("in_b")))).as("p"))
      .select(col("id_a"), col("id_b"), col("p.sid"), col("p.in_a"), col("p.in_b"))
    probes.join(sh, "sid")
      .groupBy(col("id_a"), col("id_b"), col("sh"))
      .agg(max(col("in_a")).as("fa"), max(col("in_b")).as("fb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((sum(col("fa") * col("fb")).cast("double") / count(lit(1))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------------------------------
  // Incremental (corpus-vs-batch) near-dup over a persisted index.
  //
  // A real training-data pipeline deduplicates each incoming batch
  // against everything already kept — re-shingling the whole corpus
  // per daily batch would be O(corpus) regex work per day. Instead the
  // corpus's derived state is persisted ONCE as two parquet tables and
  // each batch only shingles itself:
  //
  //   <indexDir>/shingles : distinct (sid, sh)        — for verification
  //   <indexDir>/bands    : (mh_id, band_idx, band_hash) — for candidates
  //
  // Per-batch cost: shingle+sign+band the batch (O(batch)), join batch
  // bands against the stored band table (shuffle on the band key), and
  // verify candidates against the stored shingle table pruned by a
  // broadcast semi-join to candidate ids — the corpus text is never
  // re-read and its shingles are never recomputed. No reference
  // analogue (the reference has no dedup at all); this extends the
  // q21 self-join shape (nearDuplicates above) to day-2 operation.
  // ------------------------------------------------------------------

  private def shinglesPath(indexDir: String) = s"$indexDir/shingles"
  private def bandsPath(indexDir: String) = s"$indexDir/bands"

  /** Build the persisted near-dup index for `docs` at `indexDir`
    * (overwrites). The shingle relation is evaluated once (persisted)
    * and feeds both tables. Store the SAME (n, k, b) you will pass to
    * [[nearDuplicatesAgainst]] — band keys are only comparable within
    * one parameterization.
    */
  def buildIndex(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String,
      n: Int = 3, k: Int = 128, b: Int = 16): Unit =
    // distinct: signatures/bands are min-aggregates over the hashed
    // shingles and verification collapses duplicates, so storing each
    // (sid, sh) once is free index compression
    Materialize.cached(shingleRows(docs, idCol, textCol, n).distinct()) { sh =>
      sh.write.mode("overwrite").parquet(shinglesPath(indexDir))
      bandedFromShingles(sh, k, b).write.mode("overwrite").parquet(bandsPath(indexDir))
    }

  /** Candidate pairs touching the batch: batch×batch (id_a < id_b)
    * plus batch×corpus (ordered with least/greatest). Lazy — exposed
    * for plan-shape tests; the corpus side must be a stored-band scan.
    *
    * Both sides are width-annotated INDEPENDENTLY (an oversized corpus
    * bucket × its batch collisions is s_corpus × s_batch pairs — the
    * same skew killer as the self-join). An oversized bucket degrades
    * on its own side: the batch self-join falls to the batch min-id
    * star, and in the cross probe an oversized side is COLLAPSED to
    * its single min-id representative row — a batch doc hitting an
    * oversized corpus bucket pairs with that cluster's representative
    * (≤1 cross pair per batch row per band) instead of all s members.
    * Batch-singleton buckets stay in (a lone batch doc still probes
    * the corpus); they are no-ops in the batch self-join.
    *
    * Degrade accounting: `obs` observes the corpus side, `batchObs`
    * the batch side. A caller passing `batchObs` must reference the
    * batch relation through ONE evaluation (the eager entry point
    * checkpoints its annotated batch) — here the observed batch
    * subtree feeds three joins, so metrics from a lazily-passed
    * `batchObs` would multiply-count.
    */
  private[dedup] def incrementalCandidates(
      corpusBands: DataFrame, batchBands: DataFrame,
      maxBucket: Int = DefaultMaxBandBucket,
      obs: Option[Observation] = None,
      batchObs: Option[Observation] = None): DataFrame =
    incrementalCandidatesAnnotated(
      corpusBands,
      cappedBands(batchBands, maxBucket, batchObs, keepSingletons = true),
      maxBucket, obs)

  /** [[incrementalCandidates]] over an already-[[cappedBands]]-annotated
    * (and ideally checkpointed) batch relation. */
  private def incrementalCandidatesAnnotated(
      corpusBands: DataFrame, batchAnn: DataFrame,
      maxBucket: Int, obs: Option[Observation]): DataFrame = {
    def collapsed(ann: DataFrame, as: String): DataFrame =
      ann.filter(col("rep").isNull || col("mh_id") === col("rep"))
        .select(col("band_idx"), col("band_hash"), col("mh_id").as(as))
    val bb = pairsFromBands(batchAnn)
    val corpusAnn =
      cappedBands(corpusBands, maxBucket, obs, keepSingletons = true)
    val bc = collapsed(batchAnn, "batch_id")
      .join(collapsed(corpusAnn, "corpus_id"), Seq("band_idx", "band_hash"))
      .select(least(col("batch_id"), col("corpus_id")).as("id_a"),
        greatest(col("batch_id"), col("corpus_id")).as("id_b"))
    bb.union(bc).distinct()
  }

  /** Full self-join near-dup over a PERSISTED index — [[nearDuplicates]]
    * with every derived input read back instead of recomputed:
    * candidates come from a stored-band self-join, verification reads
    * stored shingles pruned (broadcast semi-join) to candidate ids.
    * The day-N full re-score — e.g. after a threshold change, or a
    * repeated corpus-wide dedup — at zero shingling/signature cost.
    * Equal to `nearDuplicates` over the indexed docs by construction
    * (bands and shingles are deterministic functions of the text).
    * EAGER, like [[nearDuplicates]].
    */
  def nearDuplicatesFromIndex(
      spark: SparkSession, indexDir: String, threshold: Double,
      maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    val bands = spark.read.parquet(bandsPath(indexDir))
    val obs = Observation()
    val kept = Materialize.pin(cappedBands(bands, maxBucket, Some(obs)))
    warnDrops(obs, maxBucket, s"nearDuplicatesFromIndex($indexDir)")
    val pairs = Materialize.pin(pairsFromBands(kept))
    val candIds = pairs.select(col("id_a").as("sid"))
      .union(pairs.select(col("id_b").as("sid"))).distinct()
    // NO broadcast hint here, unlike the batch-probe path: a corpus-wide
    // re-score's candidate set is O(colliding docs) — potentially the
    // whole corpus — and a forced broadcast of it would cap this at
    // driver memory; AQE still broadcasts when it actually fits
    val sh = spark.read.parquet(shinglesPath(indexDir))
      .join(candIds, Seq("sid"), "left_semi")
    Materialize.pin(verifyPairs(pairs, sh, threshold))
  }

  /** Near-duplicate pairs between `batch` and the persisted index at
    * `indexDir` (plus within-batch pairs) — the incremental form of
    * [[nearDuplicates]]: equal to running it on (corpus ∪ batch)
    * restricted to pairs touching the batch, without recomputing
    * anything corpus-side. Ids must be globally unique across corpus
    * and batch. (n, k, b) must match the index build. EAGER, like
    * [[nearDuplicates]] — the result is materialized and the batch
    * shingle cache released before returning, so the caller may
    * immediately rebuild (or even delete) the index.
    */
  def nearDuplicatesAgainst(
      batch: DataFrame, idCol: String, textCol: String, indexDir: String,
      threshold: Double, n: Int = 3, k: Int = 128, b: Int = 16,
      maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    val spark = batch.sparkSession
    Materialize.cached(shingleRows(batch, idCol, textCol, n)) { batchSh =>
      probeAgainst(batchSh, bandedFromShingles(batchSh, k, b),
        spark.read.parquet(shinglesPath(indexDir)),
        spark.read.parquet(bandsPath(indexDir)),
        threshold, maxBucket, s"nearDuplicatesAgainst($indexDir,n=$n,k=$k,b=$b)")
    }
  }

  /** Incremental near-dup where the BATCH side is itself a persisted
    * index (its shingles+bands were written once via [[buildIndex]]
    * when the batch arrived): equal to [[nearDuplicatesAgainst]] on
    * the indexed batch's docs by construction (stored shingles/bands
    * are deterministic functions of the text), but each call pays
    * only the PROBE — two stored-band scans, the candidate join, and
    * the exact verify — never re-shingling or re-signing either side.
    * This is the steady-state day-N shape: every batch pays its
    * derivation exactly once (on arrival, when its own index is
    * built), and every later question — re-dedup after a
    * threshold change, audit of a past batch, the q33 gate — probes
    * stored state. At 100 TB the regex+k-hash derivation is the
    * dominant cost and must never run twice for the same bytes.
    * Both indexes must share (n, k, b); ids must be globally unique
    * across the two. EAGER, like [[nearDuplicatesAgainst]].
    */
  def nearDuplicatesBetweenIndexes(
      spark: SparkSession, batchIndexDir: String, indexDir: String,
      threshold: Double, maxBucket: Int = DefaultMaxBandBucket): DataFrame =
    probeAgainst(
      spark.read.parquet(shinglesPath(batchIndexDir)),
      spark.read.parquet(bandsPath(batchIndexDir)),
      spark.read.parquet(shinglesPath(indexDir)),
      spark.read.parquet(bandsPath(indexDir)),
      threshold, maxBucket,
      s"nearDuplicatesBetweenIndexes($batchIndexDir,$indexDir)")

  /** Shared probe core of the two incremental entry points: annotate
    * the batch bands, generate batch-touching candidates against the
    * corpus bands, exact-verify against the union of batch shingles
    * and candidate-pruned corpus shingles. `batchSh`/`batchBands` must
    * be cheap to re-scan (cached or parquet-backed): the annotated
    * band relation is checkpointed (it feeds three candidate subtrees
    * and its degrade observation must evaluate exactly once), but the
    * shingle relation is read again by the verify join.
    */
  private def probeAgainst(
      batchSh: DataFrame, batchBands: DataFrame,
      corpusSh: DataFrame, corpusBands: DataFrame,
      threshold: Double, maxBucket: Int, what: String): DataFrame = {
    val obs = Observation()
    val batchObs = Observation()
    val batchAnn = Materialize.pin(cappedBands(batchBands, maxBucket, Some(batchObs),
        keepSingletons = true))
    warnDrops(batchObs, maxBucket, s"$what batch side")
    val pairs = Materialize.pin(
      incrementalCandidatesAnnotated(corpusBands, batchAnn, maxBucket, Some(obs)))
    warnDrops(obs, maxBucket, s"$what corpus side")
    // verification reads corpus shingles for CANDIDATE docs only: the
    // candidate id set is small by construction, so a broadcast
    // semi-join prunes the stored-shingle scan before the probe join
    val candIds = pairs.select(col("id_a").as("sid"))
      .union(pairs.select(col("id_b").as("sid"))).distinct()
    val sh = batchSh.union(
      corpusSh.join(broadcast(candIds), Seq("sid"), "left_semi"))
    Materialize.pin(verifyPairs(pairs, sh, threshold))
  }

  /** [[nearDuplicates]] with the VERIFIED PAIR RELATION persisted under
    * [[graft.core.Warehouse]] (build-once, fingerprint-keyed on the
    * source data + every LSH knob + the caller's `corpusTag` naming the
    * planted-corpus construction): the banded self-join + exact-Jaccard
    * verify — the expensive stage of every corpus-wide dedup — runs
    * once per corpus state, and each consumer (survivor resolution,
    * cluster stats, leakage-safe splitting, quality-preferring dedup)
    * probes the same stored (id_a, id_b, jaccard) relation. This is the
    * q165-family shared-kernel discipline applied to the MinHash path:
    * at 100 TB the pair relation is the one artifact a curation stack
    * cannot afford to recompute per downstream question.
    *
    * `corpus` is by-name: on a warm warehouse the planted corpus is
    * never even constructed. `corpusTag` MUST change whenever the
    * caller's corpus-construction code changes — the fingerprint sees
    * the source files and LSH params, not caller code.
    */
  def nearDuplicatesCached(
      spark: SparkSession, sourcePath: String, corpusTag: String,
      corpus: => DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, k: Int = 128, b: Int = 16,
      maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    val dir = graft.core.Warehouse.derivedDir(spark, "mnh_pairs", sourcePath,
      params = s"corpus=$corpusTag,theta=$threshold,n=$n,k=$k,b=$b,mb=$maxBucket")
    val out = graft.core.Warehouse.ensureBuilt(spark, dir) { d =>
      nearDuplicates(corpus, idCol, textCol, threshold, n, k, b, maxBucket)
        .write.mode("overwrite").parquet(d)
    }
    spark.read.parquet(out)
  }
}
