package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Multimodal-column pipeline as a driver-verifiable query: synthetic
  * binary media (real PNGs and WAVs from a deterministic generator) →
  * size-aware repartition → batched REAL decode (ImageIO pixels, RIFF
  * PCM samples; GENERIC video containers stay byte-histogram stubs —
  * animated GIF gets the real q221 frame path) → per-kind feature
  * statistics. Rows-only check: the corpus is generated Scala-side, so
  * no DuckDB oracle — determinism is what the driver can assert, and
  * the decode correctness (planted dims/channel means/sample rates) is
  * spec-covered in MultimodalSpec.
  */
object MultimodalQueries {

  def q29MultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMedia(s, 1000)
    val features = Multimodal.extractFeatures(
      Multimodal.repartitionForDecode(media, targetBytes = 256 * 1024))
    features.toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        round(element_at(col("features"), 1), 6).as("f0"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("f0")), 6).as("avg_f0"))
      .orderBy(col("kind"))
  }

  /** Near-duplicate IMAGE detection — the multimodal dedup a training
    * pipeline actually runs, composing the two real paths end-to-end:
    * REAL PNG bytes → REAL ImageIO decode
    * ([[Multimodal.extractFeatures]] → [[Multimodal.decodeImage]]) →
    * scale-free luma-histogram feature vector → LSH-bucketed cosine
    * near-dup ([[graft.similarity.Similarity.cosineNearDuplicates]],
    * no all-pairs). The corpus plants 24 originals with
    * pairwise-distinct two-tone histograms plus one ~2%-perturbed copy
    * of each ([[Multimodal.imageDedupCorpus]]); at threshold 0.99 the
    * result is exactly the 24 planted (original, copy) pairs —
    * perturbed copies found, unrelated images not (exactness
    * spec-pinned in ImageNearDupSpec). Rows-only driver check: the
    * pixels→features path is not SQL-expressible.
    */
  def q35ImageNearDup(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.imageDedupCorpus(s, groups = 24)
    val features = Multimodal.extractFeatures(
      Multimodal.repartitionForDecode(media, targetBytes = 256 * 1024))
    // embedding = the 8-bin luma histogram (decodeImage f8..f15;
    // 1-indexed slice 9..16) — scale-free, so a perturbed copy stays
    // near-identical while distinct originals are near-orthogonal
    val vecs = features.toDF().select(
      col("media_id").as("vec_id"),
      slice(col("features"), 9, 8).as("embedding"))
    val lsh = graft.similarity.Similarity.RandomHyperplaneLsh(dim = 8, bits = 4, tables = 4)
    graft.similarity.Similarity.cosineNearDuplicates(vecs, lsh, threshold = 0.99)
      .withColumn("cosine_r6", round(col("cosine"), 6))
      .drop("cosine")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Perceptual-hash image near-dup — the crop/re-encode-robust twin
    * of q35 (whose luma HISTOGRAM carries no spatial structure: it
    * pairs any two images with the same tone mix and misses nothing a
    * recolor does): REAL PNG bytes → [[graft.multimodal.ImagePhash]]
    * DCT pHash (32×32 box-resampled luma → 2-D DCT-II → 8×8 block →
    * median-threshold 64 bits) → multi-index Hamming self-join
    * (8 × 8-bit chunks + 1-bit multi-probe, radius ≤ 15 guaranteed) →
    * exact popcount verify. The corpus plants 8 natural-image-like
    * fields with a 2×-resolution re-encode, a ~1% crop, and a ~0.5°
    * rotation of each ([[Multimodal.phashDedupCorpus]]): all planted
    * copies land ≤ 14 bits from their original, distinct fields ≥ 24
    * (ImageNearDupSpec pins both margins). Rows-only driver check:
    * pixels→DCT is not SQL-expressible.
    */
  def q204ImagePhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.ImagePhash
    val corpus = Multimodal.phashDedupCorpus(s, groups = 8)
    media.nearDuplicates(corpus)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Audio near-dup — the third face of the multimodal dedup triangle
    * (text simhash64 q22, image pHash q204, audio here; video joined
    * the family via q221's real animated-GIF frame decode): REAL
    * 16-bit PCM WAV bytes →
    * [[graft.multimodal.AudioFingerprint]] energy-envelope fingerprint
    * (64 duration-proportional frames → per-frame RMS → sign of the
    * temporal energy delta, the Haitsma–Kalker shape at frame grain) →
    * the SAME multi-index Hamming search as q204
    * ([[graft.multimodal.MultiIndexHamming]], radius ≤ 15 guaranteed,
    * inline popcount verify). The corpus plants 8 clips with distinct
    * seeded envelopes plus a 2×-sample-rate re-encode, a −6 dB gain
    * copy, and a ~1%-noise copy of each
    * ([[graft.multimodal.Multimodal.audioDedupCorpus]]); planted
    * copies land within a few bits (gain-invariant energy ratios,
    * duration-proportional frames), distinct envelopes ~32 bits apart
    * (AudioNearDupSpec pins both margins). Rows-only driver check:
    * bytes→PCM→envelope is not SQL-expressible (the q35/q204
    * argument).
    */
  def q208AudioNearDup(s: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.audioDedupCorpus(s, groups = 8)
    graft.multimodal.AudioFingerprint.nearDuplicates(corpus)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Incremental pHash near-dup — the multimodal face of the q33/q34/
    * q40 incremental-index family: the original images' 64-bit codes
    * persist ONCE under the Warehouse (16 bytes/image, decoded once;
    * fingerprint-keyed like every other index — the planted corpus
    * itself is a pure function of its group count, so the anchor only
    * forces a rebuild on a testdata refresh), and the day-2 batch
    * (the re-encode/crop/rotate copies) decodes ONLY itself and probes
    * the stored codes via [[graft.multimodal.MultiIndexHamming
    * .searchAgainst]]. Equivalence to the batch q204 restricted to
    * (batch × index) pairs is spec-pinned (ImageNearDupSpec).
    * Rows-only driver check (the q204 argument).
    */
  def q210ImagePhashIncremental(s: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.phashDedupCorpus(s, groups = 8)
    val idx = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "phash_index",
        s"$dir/documents.parquet", params = "plant8.v1")) { d =>
      graft.multimodal.ImagePhash.writeIndex(corpus.filter(_.media_id < 1000), d)
    }
    graft.multimodal.ImagePhash
      .nearDuplicatesAgainst(corpus.filter(_.media_id >= 1000), idx)
      .orderBy(col("probe_id"), col("index_id"))
  }

  // ===== q221 — video near-dup over real animated-GIF decode ==============

  /** The FOURTH face of the multimodal dedup family — the one round-18
    * still declared a stub: REAL multi-frame video decode (animated
    * GIF, the JDK's one genuine multi-frame codec —
    * [[graft.multimodal.VideoFrames]]) → temporal frame sampling
    * (every 2nd frame) → per-frame DCT pHash (the SAME
    * [[graft.multimodal.ImagePhash.phashOf]] kernel as stills, one
    * shared perceptual space) → alignment-free clip matching (a pair
    * needs ≥ half the shorter side's sampled frames to match, so both
    * a re-encode and a head-TRIMMED copy surface). Corpus plants a 2×
    * re-encode, a 2-frame trim, and a luma regrade per group
    * ([[Multimodal.videoDedupCorpus]]); margins and the trim's shifted
    * timeline are pinned in VideoNearDupSpec. Rows-only driver check
    * (bytes→frames→DCT is not SQL-expressible — the q204 argument).
    * mp4/webm stay out of sandbox reach (no JDK codec); the decode
    * seam is one function, everything downstream is codec-agnostic.
    */
  def q221VideoNearDup(s: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.videoDedupCorpus(s, groups = 6)
    graft.multimodal.VideoFrames.nearDuplicates(corpus)
      .orderBy(col("id_a"), col("id_b"))
  }

  // ===== q219 — cross-modal asset-grain duplicate report ==================

  /** One deterministic TEXT per asset of the multimodal corpus, same
    * id convention as [[Multimodal.phashDedupCorpus]] /
    * [[Multimodal.audioDedupCorpus]] (group g original = g, variants =
    * 1000/2000/3000 + g): the re-encode variant carries the original
    * text VERBATIM (re-encoding bytes does not rewrite the caption —
    * and it guarantees the all-three-modalities agreement the spec
    * pins), the crop/rotation variants append one marker token (near
    * but not identical — whether a given group's append stays within
    * the simhash radius is deterministic per seed, and the report is
    * oracled against whatever the relations say), and distinct groups'
    * seeded word draws stay far apart.
    */
  private[queries] def crossmodalTexts(s: SparkSession, groups: Int): DataFrame = {
    import s.implicits._
    val vocab = Vector(
      "river", "stone", "harbor", "lantern", "meadow", "copper", "violin",
      "archive", "pepper", "willow", "anchor", "marble", "sparrow", "timber",
      "candle", "orchard", "saddle", "thunder", "velvet", "whistle", "barrel",
      "crystal", "dolphin", "ember", "falcon", "garnet", "hammock", "island",
      "jasmine", "kettle", "ladder", "mirror", "needle", "oyster", "pebble",
      "quiver", "ribbon", "shadow", "trellis", "umbrella", "valley", "walnut",
      "yarrow", "zephyr", "beacon", "cinder", "drift", "estuary", "fathom",
      "glacier", "hollow", "ivory", "juniper", "kiln", "lagoon", "mosaic",
      "nectar", "onyx", "prairie", "quarry", "russet", "spire", "tundra",
      "vortex")
    (0 until groups).flatMap { g =>
      val rnd = new scala.util.Random(g * 104729 + 31)
      val base = (1 to 40).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      Seq((g.toLong, base), (1000L + g, base),
        (2000L + g, base + " beta"), (3000L + g, base + " gamma"))
    }.toDF("doc_id", "text")
  }

  /** The four pair relations captured per corpus dir by [[q219]] runs
    * in this process — the q82/q90 literal-injection convention: Verify
    * runs every query BEFORE dumping oracle SQL, so the dump sees them.
    */
  private val q219CapturedPairs = new scala.collection.concurrent.TrieMap[
    String, Seq[(String, Seq[(Long, Long)])]]()

  /** Cross-modal ASSET-grain duplicate report — the composition the
    * dedup family's four faces (q22 text simhash, q204 image pHash,
    * q208 audio fingerprint, q221 video frame-hash) were built for: a
    * real curation run wants ONE verdict per crawled asset, not four
    * pair lists. Each asset carries all four modalities (shared id
    * convention); the four
    * near-dup relations are outer-merged at pair grain (any modality
    * flags ⇒ duplicate candidate; the agreeing-modality count is the
    * CONFIDENCE), then rolled to asset grain: verdict, the minimum-id
    * duplicate partner, and that partner's modality agreement, with
    * the variant kind as the source dimension.
    *
    * ORACLED by the q82 literal-injection pattern: the four pair
    * lists (the already-argued non-SQL decode paths) are captured and
    * spliced into the oracle as VALUES relations, and the JOIN/rollup
    * layer — the thing this query adds — is recomputed independently
    * by DuckDB from those literals.
    *
    * Scale shape: pair relations are near-dup-sparse (O(dups), not
    * O(assets²)); the merge is a grouped set-collect at pair grain,
    * the rollup one aggregation at asset grain; modality id spaces
    * must be reconciled upstream (here by construction — a production
    * run joins each modality's media key to the asset key first).
    */
  def q219CrossmodalDupReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = 8
    graft.dedup.SimHashDedup.ensureRegistered(s)
    // One pin per modality: each decode+near-dup
    // pipeline executes EXACTLY once, its lineage truncates to the
    // materialized pair rows, and everything downstream — the
    // distributed rollup AND the oracle literal capture — reads those
    // rows. The r19 shape collected the pairs to the driver and
    // re-parallelized them, which is O(dups) driver memory at corpus
    // scale; the report is now a distributed union of the checkpointed
    // relations, and the driver sees pair rows only in the
    // test-scale-only oracle capture below.
    def once(df: DataFrame): DataFrame =
      df.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .transform(graft.core.Materialize.pin)
    // the four modality pipelines are independent — materialize them
    // concurrently (guide §2.6: actions are only sequential because
    // the driver calls them sequentially; each pipeline's tail would
    // otherwise leave the other three waiting)
    val rel = graft.core.Concurrent.run(s.sparkContext, Seq(
      "text" -> (() => once(graft.dedup.SimHashDedup
        .nearDuplicates(crossmodalTexts(s, groups), "doc_id", "text"))),
      "image" -> (() => once(graft.multimodal.ImagePhash
        .nearDuplicates(Multimodal.phashDedupCorpus(s, groups)))),
      "audio" -> (() => once(graft.multimodal.AudioFingerprint
        .nearDuplicates(Multimodal.audioDedupCorpus(s, groups)))),
      "video" -> (() => once(graft.multimodal.VideoFrames
        .nearDuplicates(Multimodal.videoDedupCorpus(s, groups))))))
    // oracle capture — the q82 literal-injection convention, bounded by
    // construction here (≤ 48 rows per modality over the 32-asset
    // planted corpus, margin-spec-pinned) and reading the already-
    // materialized checkpoint, never re-running a decode. This feeds
    // ONLY q219Sql; the returned report below does not depend on it.
    q219CapturedPairs.put(dir, rel.map { case (m, df) =>
      m -> df.as[(Long, Long)].collect().toSeq.sorted
    })

    val flagged = rel
      .map { case (m, df) => df.withColumn("m", lit(m)) }
      .reduce(_ unionByName _)
    val pairs = flagged
      .groupBy(col("id_a"), col("id_b"))
      .agg(concat_ws(",", sort_array(collect_set(col("m")))).as("modalities"),
        size(collect_set(col("m"))).cast("long").as("n_modalities"))
    val touch = pairs.select(col("id_a").as("asset_id"), col("id_b").as("partner"),
        col("modalities"), col("n_modalities"))
      .unionByName(pairs.select(col("id_b").as("asset_id"), col("id_a").as("partner"),
        col("modalities"), col("n_modalities")))
    val best = touch.groupBy(col("asset_id"))
      .agg(min(col("partner")).as("dup_of"),
        min_by(col("modalities"), col("partner")).as("modalities"),
        min_by(col("n_modalities"), col("partner")).as("n_modalities"))
    val assets = (0 until groups)
      .flatMap(g => Seq(g.toLong, 1000L + g, 2000L + g, 3000L + g))
      .toDF("asset_id")
    assets
      .join(best, Seq("asset_id"), "left")
      .select(col("asset_id"),
        when(col("asset_id") < 1000, "original")
          .when(col("asset_id") < 2000, "reencode")
          .when(col("asset_id") < 3000, "crop_gain")
          .otherwise("rot_noise").as("variant"),
        when(col("dup_of").isNull, "unique").otherwise("duplicate").as("verdict"),
        col("dup_of"),
        coalesce(col("n_modalities"), lit(0L)).as("n_modalities"),
        coalesce(col("modalities"), lit("")).as("modalities"))
      .orderBy(col("asset_id"))
  }

  private def pairValues(ps: Seq[(Long, Long)]): String =
    if (ps.isEmpty)
      "SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b WHERE FALSE"
    else "SELECT * FROM (VALUES " +
      ps.map { case (a, b) => s"($a,$b)" }.mkString(",") + ") t(id_a, id_b)"

  /** The q82-convention oracle: injects the captured pair lists only
    * when exactly ONE corpus has been captured this process; otherwise
    * renders a valid empty-result query (only dumpable if q219 never
    * ran, in which case there is no result to compare — the q90 rule).
    */
  def q219Sql: String = {
    val captured = q219CapturedPairs.readOnlySnapshot().values.toSeq match {
      case Seq(single) => single
      case _ => Seq("text", "image", "audio", "video")
        .map(_ -> Seq.empty[(Long, Long)])
    }
    val assetRows = (0 until 8)
      .flatMap(g => Seq(g.toLong, 1000L + g, 2000L + g, 3000L + g))
      .map(a => s"($a)").mkString(",")
    val modalityCtes = captured
      .map { case (m, ps) => s"${m}_p AS (${pairValues(ps)})" }.mkString(",\n")
    val flaggedUnion = captured
      .map { case (m, _) => s"SELECT id_a, id_b, '$m' AS m FROM ${m}_p" }
      .mkString("\n  UNION ALL ")
    s"""WITH $modalityCtes,
       |flagged AS (
       |  $flaggedUnion),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    array_to_string(list_sort(list(DISTINCT m)), ',') AS modalities,
       |    CAST(count(DISTINCT m) AS BIGINT) AS n_modalities
       |  FROM flagged GROUP BY 1, 2),
       |touch AS (
       |  SELECT id_a AS asset_id, id_b AS partner, modalities, n_modalities FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a, modalities, n_modalities FROM pairs),
       |best AS (
       |  SELECT asset_id, min(partner) AS dup_of,
       |    min_by(modalities, partner) AS modalities,
       |    min_by(n_modalities, partner) AS n_modalities
       |  FROM touch GROUP BY 1),
       |assets AS (SELECT * FROM (VALUES $assetRows) t(asset_id))
       |SELECT CAST(a.asset_id AS BIGINT) AS asset_id,
       |  CASE WHEN a.asset_id < 1000 THEN 'original'
       |       WHEN a.asset_id < 2000 THEN 'reencode'
       |       WHEN a.asset_id < 3000 THEN 'crop_gain'
       |       ELSE 'rot_noise' END AS variant,
       |  CASE WHEN b.dup_of IS NULL THEN 'unique' ELSE 'duplicate' END AS verdict,
       |  b.dup_of,
       |  COALESCE(b.n_modalities, 0) AS n_modalities,
       |  COALESCE(b.modalities, '') AS modalities
       |FROM assets a LEFT JOIN best b USING (asset_id)
       |ORDER BY asset_id""".stripMargin
  }

  // ===== q227 — incremental (day-2) cross-modal dup report ================

  /** The four (probe, index) pair lists captured per corpus dir by
    * [[q227IncrementalCrossmodal]] runs in this process — the q219
    * convention.
    */
  private val q227CapturedPairs = new scala.collection.concurrent.TrieMap[
    String, Seq[(String, Seq[(Long, Long)])]]()

  /** DAY-2 face of the cross-modal report — what the q219 composition
    * runs every morning at 100 TB: the corpus ORIGINALS are indexed
    * ONCE per modality (simhash chunk table, pHash codes, audio
    * fingerprints, video frame hashes — all Warehouse-keyed, the
    * image/audio indexes SHARED with q210/q223), and the arriving
    * variant batch decodes ONLY ITSELF, probing the four stored
    * indexes. Modality verdicts then merge at (probe, index) grain and
    * roll to one verdict per batch asset — same confidence semantics
    * as q219, fixed (batch asset → corpus partner) orientation. The
    * corpus is never re-decoded after day 1 in ANY modality.
    *
    * Oracled by q219's literal-injection pattern: the four captured
    * probe-pair lists ride as VALUES and DuckDB recomputes the
    * merge/rollup independently. Each relation is eagerly
    * pinned (the q219 discipline): probes decode once, the
    * report is a distributed union.
    */
  def q227IncrementalCrossmodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = 8
    graft.dedup.SimHashDedup.ensureRegistered(s)
    val texts = crossmodalTexts(s, groups)
    val textIdx = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "simhash_xmodal_index",
        s"$dir/documents.parquet", params = "plant8.v1")) { d =>
      graft.dedup.SimHashDedup.buildIndex(
        texts.filter(col("doc_id") < 1000), "doc_id", "text", d)
    }
    val imgCorpus = Multimodal.phashDedupCorpus(s, groups)
    val imgIdx = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "phash_index",
        s"$dir/documents.parquet", params = "plant8.v1")) { d =>
      graft.multimodal.ImagePhash.writeIndex(imgCorpus.filter(_.media_id < 1000), d)
    }
    val audCorpus = Multimodal.audioDedupCorpus(s, groups)
    val audIdx = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "afp_index",
        s"$dir/documents.parquet", params = "plant8.v1")) { d =>
      graft.multimodal.AudioFingerprint.writeIndex(audCorpus.filter(_.media_id < 1000), d)
    }
    val vidCorpus = Multimodal.videoDedupCorpus(s, groups)
    val vidIdx = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "video_frame_index",
        s"$dir/documents.parquet", params = "plant8.e2.v1")) { d =>
      graft.multimodal.VideoFrames.writeIndex(vidCorpus.filter(_.media_id < 1000), d)
    }
    def once(df: DataFrame): DataFrame =
      df.select(col("probe_id").cast("long"), col("index_id").cast("long"))
        .transform(graft.core.Materialize.pin)
    // simhash's incremental face also emits within-batch pairs; the
    // day-2 report keys on batch→corpus edges, so keep cross pairs
    // only (id_a < 1000 ≤ id_b: the stored side is always the
    // smaller id by the planted convention)
    val textPairs = graft.dedup.SimHashDedup
      .nearDuplicatesAgainst(texts.filter(col("doc_id") >= 1000),
        "doc_id", "text", textIdx)
      .filter(col("id_a") < 1000 && col("id_b") >= 1000)
      .select(col("id_b").as("probe_id"), col("id_a").as("index_id"))
    // the four index probes are independent — materialize concurrently
    // (guide §2.6; the q219 discipline)
    val rel = graft.core.Concurrent.run(s.sparkContext, Seq(
      "text" -> (() => once(textPairs)),
      "image" -> (() => once(graft.multimodal.ImagePhash
        .nearDuplicatesAgainst(imgCorpus.filter(_.media_id >= 1000), imgIdx))),
      "audio" -> (() => once(graft.multimodal.AudioFingerprint
        .nearDuplicatesAgainst(audCorpus.filter(_.media_id >= 1000), audIdx))),
      "video" -> (() => once(graft.multimodal.VideoFrames
        .nearDuplicatesAgainst(vidCorpus.filter(_.media_id >= 1000), vidIdx)))))
    q227CapturedPairs.put(dir, rel.map { case (m, df) =>
      m -> df.as[(Long, Long)].collect().toSeq.sorted
    })

    val flagged = rel
      .map { case (m, df) => df.withColumn("m", lit(m)) }
      .reduce(_ unionByName _)
    val pairs = flagged
      .groupBy(col("probe_id"), col("index_id"))
      .agg(concat_ws(",", sort_array(collect_set(col("m")))).as("modalities"),
        size(collect_set(col("m"))).cast("long").as("n_modalities"))
    val best = pairs.groupBy(col("probe_id").as("asset_id"))
      .agg(min(col("index_id")).as("dup_of"),
        min_by(col("modalities"), col("index_id")).as("modalities"),
        min_by(col("n_modalities"), col("index_id")).as("n_modalities"))
    val batchAssets = (0 until groups)
      .flatMap(g => Seq(1000L + g, 2000L + g, 3000L + g))
      .toDF("asset_id")
    batchAssets
      .join(best, Seq("asset_id"), "left")
      .select(col("asset_id"),
        when(col("asset_id") < 2000, "reencode")
          .when(col("asset_id") < 3000, "crop_gain")
          .otherwise("rot_noise").as("variant"),
        when(col("dup_of").isNull, "unique").otherwise("duplicate").as("verdict"),
        col("dup_of"),
        coalesce(col("n_modalities"), lit(0L)).as("n_modalities"),
        coalesce(col("modalities"), lit("")).as("modalities"))
      .orderBy(col("asset_id"))
  }

  /** q219-convention oracle for [[q227IncrementalCrossmodal]]. */
  def q227Sql: String = {
    val captured = q227CapturedPairs.readOnlySnapshot().values.toSeq match {
      case Seq(single) => single
      case _ => Seq("text", "image", "audio", "video")
        .map(_ -> Seq.empty[(Long, Long)])
    }
    val assetRows = (0 until 8)
      .flatMap(g => Seq(1000L + g, 2000L + g, 3000L + g))
      .map(a => s"($a)").mkString(",")
    val modalityCtes = captured
      .map { case (m, ps) =>
        val values =
          if (ps.isEmpty)
            "SELECT CAST(NULL AS BIGINT) AS probe_id, CAST(NULL AS BIGINT) AS index_id WHERE FALSE"
          else "SELECT * FROM (VALUES " +
            ps.map { case (a, b) => s"($a,$b)" }.mkString(",") + ") t(probe_id, index_id)"
        s"${m}_p AS ($values)"
      }.mkString(",\n")
    val flaggedUnion = captured
      .map { case (m, _) => s"SELECT probe_id, index_id, '$m' AS m FROM ${m}_p" }
      .mkString("\n  UNION ALL ")
    s"""WITH $modalityCtes,
       |flagged AS (
       |  $flaggedUnion),
       |pairs AS (
       |  SELECT probe_id, index_id,
       |    array_to_string(list_sort(list(DISTINCT m)), ',') AS modalities,
       |    CAST(count(DISTINCT m) AS BIGINT) AS n_modalities
       |  FROM flagged GROUP BY 1, 2),
       |best AS (
       |  SELECT probe_id AS asset_id, min(index_id) AS dup_of,
       |    min_by(modalities, index_id) AS modalities,
       |    min_by(n_modalities, index_id) AS n_modalities
       |  FROM pairs GROUP BY 1),
       |assets AS (SELECT * FROM (VALUES $assetRows) t(asset_id))
       |SELECT CAST(a.asset_id AS BIGINT) AS asset_id,
       |  CASE WHEN a.asset_id < 2000 THEN 'reencode'
       |       WHEN a.asset_id < 3000 THEN 'crop_gain'
       |       ELSE 'rot_noise' END AS variant,
       |  CASE WHEN b.dup_of IS NULL THEN 'unique' ELSE 'duplicate' END AS verdict,
       |  b.dup_of,
       |  COALESCE(b.n_modalities, 0) AS n_modalities,
       |  COALESCE(b.modalities, '') AS modalities
       |FROM assets a LEFT JOIN best b USING (asset_id)
       |ORDER BY asset_id""".stripMargin
  }

  // ===== q223/q224 — incremental audio/video near-dup =====================

  /** Incremental AUDIO near-dup — q210's day-2 discipline for the
    * audio modality: the planted corpus's ORIGINALS are fingerprinted
    * once into a Warehouse-keyed code index (16 bytes/clip), and the
    * probe decodes ONLY the variant batch against stored codes — the
    * corpus is never re-decoded after day 1. Rows-only (the q210
    * argument: fingerprint internals aren't SQL-expressible; the
    * margin ladder is pinned by AudioNearDupSpec and probe ≡ batch by
    * IncrementalMediaSpec).
    */
  def q223AudioFpIncremental(s: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.audioDedupCorpus(s, groups = 8)
    val idx = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "afp_index",
        s"$dir/documents.parquet", params = "plant8.v1")) { d =>
      graft.multimodal.AudioFingerprint.writeIndex(corpus.filter(_.media_id < 1000), d)
    }
    graft.multimodal.AudioFingerprint
      .nearDuplicatesAgainst(corpus.filter(_.media_id >= 1000), idx)
      .orderBy(col("probe_id"), col("index_id"))
  }

  /** Incremental VIDEO near-dup — the frame-grain index face: corpus
    * clips decode once into a stored (media_id, ord, phash) relation;
    * day-2 probes decode only their own frames and the alignment-free
    * rollup runs over (batch × index) frame-hash collisions. Rows-only
    * (q210/q221 argument), anchored by VideoNearDupSpec's margins and
    * IncrementalMediaSpec's probe ≡ batch proof.
    */
  def q224VideoNearDupIncremental(s: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.videoDedupCorpus(s, groups = 6)
    val idx = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "video_frame_index",
        s"$dir/documents.parquet", params = "plant6.e2.v1")) { d =>
      graft.multimodal.VideoFrames.writeIndex(corpus.filter(_.media_id < 1000), d)
    }
    graft.multimodal.VideoFrames
      .nearDuplicatesAgainst(corpus.filter(_.media_id >= 1000), idx)
      .orderBy(col("probe_id"), col("index_id"))
  }

  // ===== q222 — mp4 container metadata ====================================

  /** Deterministic mp4 corpus: REAL ISO BMFF headers
    * ([[graft.multimodal.Mp4Boxes.encodeMp4]]) whose brand / timescale
    * / duration / track count are fixed formulas of the id — so an
    * independent oracle can recompute the expected metadata without
    * ever seeing the bytes, which forces the Spark side to actually
    * PARSE them. mvhd alternates version 0/1 by id parity (both live
    * in the wild); every 9th payload is torn mid-moov
    * ([[graft.multimodal.Mp4Boxes.corruptMp4]]) to exercise the
    * None convention.
    */
  private[queries] def mp4Corpus(
      s: SparkSession, n: Int): org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord] = {
    import s.implicits._
    val brands = Seq("isom", "mp42", "avc1", "dash")
    s.range(n).map { i =>
      val bytes =
        if (i % 9 == 8) graft.multimodal.Mp4Boxes.corruptMp4(brands((i % 4).toInt))
        else graft.multimodal.Mp4Boxes.encodeMp4(
          majorBrand = brands((i % 4).toInt),
          timescale = 600L * (1 + i % 5),
          duration = (i + 1) * 1234L,
          nTracks = 1 + (i % 3).toInt,
          mvhdVersion = (i % 2).toInt,
          mdatLen = 32 + (i % 50).toInt,
          seed = i)
      graft.multimodal.MediaRecord(i, "video", "video/mp4", 0, 0,
        if (i % 9 == 8) 0L else (i + 1) * 1234L * 1000L / (600L * (1 + i % 5)),
        bytes)
    }
  }

  /** MP4 container metadata as typed columns — the real metadata-grain
    * video operator (frame decode still needs a codec the JVM lacks;
    * header atoms don't): per payload, parse the public ISO BMFF box
    * layout ([[graft.multimodal.Mp4Boxes]]) into brand / timescale /
    * duration / track count, with torn payloads surfacing as
    * valid=false null rows instead of failed tasks. EXACT-oracled: the
    * corpus embeds id-formula fields at encode time and DuckDB
    * recomputes them from `range()` — any parser offset error breaks
    * the hash.
    *
    * Scale shape: embarrassingly parallel map over the payload column
    * (the one seam where per-row JVM byte-walking is the right tool —
    * no Catalyst expression walks recursive length-prefixed binary),
    * behind [[Multimodal.repartitionForDecode]]'s size-aware
    * repartition so skewed payload sizes don't skew tasks.
    */
  def q222Mp4Metadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 48
    val parsed = Multimodal
      .repartitionForDecode(mp4Corpus(s, n), targetBytes = 256 * 1024)
      .map { m =>
        val p = graft.multimodal.Mp4Boxes.parse(m.content)
        (m.media_id, p.isDefined,
          p.map(_.majorBrand), p.map(_.timescale),
          p.map(_.duration),
          p.map(x => x.duration * 1000L / x.timescale),
          p.map(_.nTracks.toLong))
      }
      .toDF("media_id", "valid", "major_brand", "timescale",
        "duration_units", "duration_ms", "n_tracks")
    parsed.orderBy(col("media_id"))
  }

  val q222Sql: String =
    """SELECT CAST(i AS BIGINT) AS media_id,
      |  (i % 9 <> 8) AS valid,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       WHEN i % 4 = 0 THEN 'isom' WHEN i % 4 = 1 THEN 'mp42'
      |       WHEN i % 4 = 2 THEN 'avc1' ELSE 'dash' END AS major_brand,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       ELSE CAST(600 * (1 + i % 5) AS BIGINT) END AS timescale,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       ELSE CAST((i + 1) * 1234 AS BIGINT) END AS duration_units,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       ELSE CAST((i + 1) * 1234 * 1000 // (600 * (1 + i % 5)) AS BIGINT)
      |       END AS duration_ms,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       ELSE CAST(1 + i % 3 AS BIGINT) END AS n_tracks
      |FROM range(0, 48) t(i)
      |ORDER BY media_id""".stripMargin

  // ===== q226 — webm/Matroska (EBML) container metadata ===================

  /** Deterministic webm corpus — the [[mp4Corpus]] discipline on the
    * EBML layout: header fields are id formulas embedded at encode time
    * ([[graft.multimodal.WebmEbml.encodeWebm]]), DocType alternates
    * webm/matroska, every 9th payload is torn mid-Segment.
    */
  private[queries] def webmCorpus(
      s: SparkSession, n: Int): org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord] = {
    import s.implicits._
    s.range(n).map { i =>
      val dt = if (i % 2 == 0) "webm" else "matroska"
      val bytes =
        if (i % 9 == 8) graft.multimodal.WebmEbml.corruptWebm(dt)
        else graft.multimodal.WebmEbml.encodeWebm(
          docType = dt,
          timestampScaleNs = 1000000L * (1 + i % 3),
          durationTicks = (i + 1) * 777L,
          nTracks = 1 + (i % 4).toInt,
          fillerLen = 24 + (i % 40).toInt,
          seed = i)
      graft.multimodal.MediaRecord(i, "video", s"video/$dt", 0, 0,
        if (i % 9 == 8) 0L else (i + 1) * 777L * (1 + i % 3),
        bytes)
    }
  }

  /** webm/Matroska container metadata as typed columns — [[q222Mp4Metadata]]'s
    * EBML twin ([[graft.multimodal.WebmEbml]]: RFC 8794 VINT walking,
    * DocType / TimestampScale / float Duration / TrackEntry count),
    * torn payloads as valid=false null rows. EXACT-oracled by the q222
    * argument: DuckDB recomputes the embedded id-formula fields from
    * `range()`; any VINT or ID-offset error in the parser breaks the
    * hash. Same embarrassingly-parallel decode-seam shape as q222.
    */
  def q226WebmMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 48
    val parsed = Multimodal
      .repartitionForDecode(webmCorpus(s, n), targetBytes = 256 * 1024)
      .map { m =>
        val p = graft.multimodal.WebmEbml.parse(m.content)
        (m.media_id, p.isDefined,
          p.map(_.docType), p.map(_.timestampScaleNs),
          p.flatMap(_.durationTicks),
          // multiply BEFORE dividing: a legal sub-ms scale (1000 ns)
          // would otherwise truncate to 0 ms for every file
          p.flatMap(x => x.durationTicks.map(_ * x.timestampScaleNs / 1000000L)),
          p.map(_.nTracks.toLong))
      }
      .toDF("media_id", "valid", "doc_type", "timestamp_scale_ns",
        "duration_ticks", "duration_ms", "n_tracks")
    parsed.orderBy(col("media_id"))
  }

  val q226Sql: String =
    """SELECT CAST(i AS BIGINT) AS media_id,
      |  (i % 9 <> 8) AS valid,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       WHEN i % 2 = 0 THEN 'webm' ELSE 'matroska' END AS doc_type,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       ELSE CAST(1000000 * (1 + i % 3) AS BIGINT) END AS timestamp_scale_ns,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       ELSE CAST((i + 1) * 777 AS BIGINT) END AS duration_ticks,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       ELSE CAST((i + 1) * 777 * (1 + i % 3) AS BIGINT) END AS duration_ms,
      |  CASE WHEN i % 9 = 8 THEN NULL
      |       ELSE CAST(1 + i % 4 AS BIGINT) END AS n_tracks
      |FROM range(0, 48) t(i)
      |ORDER BY media_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_multimodal_features" -> (q29MultimodalFeatures _),
    "q35_image_neardup" -> (q35ImageNearDup _),
    "q204_image_phash_neardup" -> (q204ImagePhashNearDup _),
    "q208_audio_neardup" -> (q208AudioNearDup _),
    "q210_image_phash_incremental" -> (q210ImagePhashIncremental _),
    "q219_crossmodal_dup_report" -> (q219CrossmodalDupReport _),
    "q221_video_neardup" -> (q221VideoNearDup _),
    "q222_mp4_metadata" -> (q222Mp4Metadata _),
    "q223_audio_fp_incremental" -> (q223AudioFpIncremental _),
    "q224_video_neardup_incremental" -> (q224VideoNearDupIncremental _),
    "q226_webm_metadata" -> (q226WebmMetadata _),
    "q227_incremental_crossmodal" -> (q227IncrementalCrossmodal _))

  /** def, not val: q219 re-renders with the pair lists captured by its
    * latest run (the q82 convention — Verify dumps oracle SQL after
    * running the queries).
    */
  def oracleSql: Map[String, String] = Map(
    "q219_crossmodal_dup_report" -> q219Sql,
    "q222_mp4_metadata" -> q222Sql,
    "q226_webm_metadata" -> q226Sql,
    "q227_incremental_crossmodal" -> q227Sql)
}
