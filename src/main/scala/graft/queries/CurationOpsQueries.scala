package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Tables}
import graft.dedup.MinHashLSH

/** Corpus-curation analytics beyond the reference's operator set
  * (SURVEY.md beyond-reference table): cube reporting, unigram-LM
  * surprisal scoring, passage-grain duplication measurement, and
  * event-rate anomaly detection. Every query is DuckDB-oracled; float
  * outputs either quantize to fixed-point longs before any
  * order-dependent aggregation (q77) or derive from exact integer sums
  * (q78, q79), so results are bit-stable under AQE re-partitioning —
  * the same property `core.Exact` gives the parity queries.
  */
object CurationOpsQueries {

  private val AllSentinel = "(all)"

  // ===== q76 — cube scorecard (all four grouping sets) ====================

  /** Document counts and volume at EVERY grouping set of
    * (source, lang): per pair, per source, per lang, and grand total —
    * q60's rollup can't answer "per lang across sources" without a
    * second scan; `cube` plans the same single Expand + one shuffle
    * with four grouping sets instead of three. At 100 TB this is the
    * cheapest way to serve both marginals of a mixture dashboard:
    * strictly one pass of the fact table, partial aggregation
    * map-side, no re-read per dimension.
    */
  def q76CubeScorecard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    docs.cube(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        grouping(col("source")).as("g_source"),
        grouping(col("lang")).as("g_lang"))
      .select(coalesce(col("source"), lit(AllSentinel)).as("source"),
        coalesce(col("lang"), lit(AllSentinel)).as("lang"),
        col("g_source"), col("g_lang"), col("n_docs"), col("total_chars"))
      .orderBy(col("g_source"), col("g_lang"), col("source"), col("lang"))
  }

  val q76Sql: String =
    """SELECT coalesce(source, '(all)') AS source,
      |  coalesce(lang, '(all)') AS lang,
      |  CAST(GROUPING(source) AS TINYINT) AS g_source,
      |  CAST(GROUPING(lang) AS TINYINT) AS g_lang,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY CUBE(source, lang)
      |ORDER BY g_source, g_lang, 1, 2""".stripMargin

  // ===== q164 — arbitrary grouping sets (beyond rollup/cube) ==============

  /** The grouping-set shapes rollup (q60) and cube (q76) CANNOT
    * express: exactly the two pair marginals (source, lang) and
    * (source, length_class), nothing else. cube over the three
    * dimensions would expand every row into 8 grouping sets to serve 2;
    * explicit `groupingSets` plans the same single Expand with exactly
    * the requested 2 — at 100 TB that is a 4× cut of the shuffled
    * volume for this dashboard. GROUPING() markers disambiguate which
    * set a row belongs to, same discipline as q76.
    *
    * Scale shape: one scan, one Expand (×2), one hash aggregate with
    * map-side partials. Strictly cheaper than the cube plan it
    * replaces.
    */
  def q164GroupingSets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .withColumn("length_class",
        when(col("n_chars") < 100, "short")
          .when(col("n_chars") < 200, "medium")
          .otherwise("long"))
    docs.groupingSets(
        Seq(Seq(col("source"), col("lang")),
          Seq(col("source"), col("length_class"))),
        col("source"), col("lang"), col("length_class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        grouping(col("lang")).as("g_lang"),
        grouping(col("length_class")).as("g_len"))
      .select(col("source"), coalesce(col("lang"), lit(AllSentinel)).as("lang"),
        coalesce(col("length_class"), lit(AllSentinel)).as("length_class"),
        col("g_lang"), col("g_len"), col("n_docs"), col("total_chars"))
      .orderBy(col("source"), col("g_lang"), col("lang"), col("length_class"))
  }

  val q164Sql: String =
    """SELECT source, coalesce(lang, '(all)') AS lang,
      |  coalesce(length_class, '(all)') AS length_class,
      |  CAST(GROUPING(lang) AS TINYINT) AS g_lang,
      |  CAST(GROUPING(length_class) AS TINYINT) AS g_len,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM (
      |  SELECT source, lang, n_chars,
      |    CASE WHEN n_chars < 100 THEN 'short'
      |      WHEN n_chars < 200 THEN 'medium' ELSE 'long' END AS length_class
      |  FROM documents)
      |GROUP BY GROUPING SETS ((source, lang), (source, length_class))
      |ORDER BY source, g_lang, lang, length_class""".stripMargin

  // ===== q77 — unigram-LM surprisal score per document ====================

  /** Per-document average unigram surprisal −ln p(w) — the simplest
    * perplexity-style quality signal (a CCNet/Gopher-family filter:
    * template text full of corpus-frequent tokens scores low, rare-token
    * gibberish scores high; both tails get cut). Tokens are the corpus
    * shingler at n=1, so the vocabulary is shared with the dedup and
    * TF-IDF paths.
    *
    * Determinism: per-token surprisal is a SCALAR (ln of a count ratio,
    * the q56 precedent) quantized to integer micro-units BEFORE the
    * per-doc aggregation, so the sum is exact and order-independent —
    * a raw double sum of logs would drift in the last ulps under AQE
    * partial-merge reordering and break the oracle hash.
    *
    * Scale shape: two hash aggregates (vocabulary counts, per-doc
    * score) + a join on token. The count side is vocabulary-sized —
    * joined, NOT broadcast (q56's rule: at 100 TB the vocabulary does
    * not fit an executor); the grand total is a 1-row aggregate,
    * broadcast.
    */
  def q77UnigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toks = MinHashLSH.shingleRows(docs, "doc_id", "text", n = 1)
      .filter(col("sh") =!= "")
      .select(col("sid").as("doc_id"), col("sh").as("w"))
    val cnts = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = cnts.agg(sum(col("c")).cast("double").as("n"))
    toks.join(cnts, "w")
      .crossJoin(broadcast(tot))
      // floor(v + 0.5), not round(): Spark rounds HALF_UP, DuckDB
      // half-to-even — surprisal is ≥ 0 so the spellings agree, and the
      // q80/q83 form keeps both engines on the same tie rule by
      // construction rather than by measure-zero luck
      .withColumn("micro",
        floor(-log(col("c") / col("n")) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum(col("micro")).cast("double") / count(lit(1)) + lit(0.5)) / lit(1e6))
          .as("surprisal_r6"))
      .orderBy(col("doc_id"))
  }

  val q77Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
      |  FROM documents),
      |tok AS (SELECT * FROM toks WHERE w <> ''),
      |cnts AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnts),
      |scored AS (
      |  SELECT t.doc_id, CAST(floor(-ln(c / n) * 1000000 + 0.5) AS BIGINT) AS micro
      |  FROM tok t JOIN cnts USING (w), tot)
      |SELECT doc_id, count(*) AS n_tokens,
      |  floor(CAST(sum(micro) AS DOUBLE) / count(*) + 0.5) / 1000000 AS surprisal_r6
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ===== q78 — passage-grain duplication fraction =========================

  /** Per-document fraction of 16-word tiles that occur more than once
    * in the corpus — the MassiveText/Gopher "duplicate fraction"
    * filter at passage grain: exact-dedup (q09/q19) misses documents
    * that EMBED copied passages in fresh text; this measures exactly
    * that. Tiles are non-overlapping windows of the raw space-split
    * words; ragged tails (< 16 words) are not tiled, and documents
    * under 16 words emit no row — too short for passage evidence
    * either way.
    *
    * Scale shape: tiles are generated with `sequence`+`explode`+`slice`
    * (zero shuffles, the q73 chunker pattern), occurrence counts via a
    * window over the tile hash — ONE shuffle keyed by md5(tile), which
    * is uniform by construction (no skew, no salting needed) — then one
    * per-doc aggregate. The hash is the shuffle key, never the 16-word
    * string: bytes moved per tile are constant.
    */
  def q78PassageDupFraction(s: SparkSession, dir: String): DataFrame = {
    val w = 16
    val tiles = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("nt", floor(size(col("ws")) / w).cast("int"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), col("nt") - 1)).as("i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("ws"), col("i") * w + 1, lit(w)), " ")).as("h"))
    tiles
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_tiles"))
      .withColumn("dup_frac_r6",
        round(col("dup_tiles").cast("double") / col("n_tiles"), 6))
      .orderBy(col("doc_id"))
  }

  val q78Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tiles AS (
      |  SELECT doc_id, md5(array_to_string(ws[(i*16+1):(i*16+16)], ' ')) AS h
      |  FROM w, unnest(range(CAST(floor(len(ws)/16) AS BIGINT))) AS t(i)),
      |occ AS (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS c FROM tiles)
      |SELECT doc_id, count(*) AS n_tiles,
      |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_tiles,
      |  round(CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac_r6
      |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ===== q79 — hourly event-rate anomalies (z-score) ======================

  /** Hours whose event count sits more than two sample standard
    * deviations from that event type's hourly mean — the ingest-
    * monitoring primitive (a scraper burst or a dead source shows up
    * here first). Mean and stddev derive from exact integer window
    * sums (Σc, Σc² over the type's hours — the `Exact.stdd` identity),
    * so z is bit-stable; types with one hour or zero variance emit
    * nothing rather than dividing by zero.
    *
    * Scale shape: one hash aggregate shuffled by (hour, type), then a
    * window partitioned by type alone — safe because its input is
    * already hour-grain (≤ 8760 rows per type per year, not raw
    * events). The hour bucket is integer `div` on epoch-nanos (q14's
    * rule: double math at 1e18 loses sub-second precision).
    */
  def q79EventAnomalies(s: SparkSession, dir: String): DataFrame = {
    val hour = from_unixtime(expr("ts div 3600000000000") * 3600,
      "yyyy-MM-dd HH:mm:ss")
    val hourly = Tables.load(s, dir, "events")
      .groupBy(hour.as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val byType = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("nh", count(lit(1)).over(byType))
      .withColumn("s1", sum(col("n_events")).over(byType).cast("double"))
      .withColumn("s2", sum(col("n_events") * col("n_events")).over(byType).cast("double"))
      .filter(col("nh") > 1 && (col("s2") - col("s1") * col("s1") / col("nh")) > 0)
      .withColumn("zv", (col("n_events") - col("s1") / col("nh")) /
        sqrt(greatest(col("s2") - col("s1") * col("s1") / col("nh"), lit(0.0))
          / (col("nh") - 1)))
      .filter(abs(col("zv")) > 2)
      .select(col("hour"), col("event_type"), col("n_events"),
        round(col("zv"), 6).as("z_r6"))
      .orderBy(col("event_type"), col("hour"))
  }

  val q79Sql: String =
    """WITH hourly AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |    event_type, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT *, count(*) OVER w AS nh,
      |    CAST(sum(n_events) OVER w AS DOUBLE) AS s1,
      |    CAST(sum(n_events * n_events) OVER w AS DOUBLE) AS s2
      |  FROM hourly WINDOW w AS (PARTITION BY event_type)),
      |z AS (
      |  SELECT hour, event_type, n_events,
      |    (n_events - s1 / nh)
      |      / sqrt(greatest(s2 - s1 * s1 / nh, CAST(0 AS DOUBLE)) / (nh - 1)) AS zv
      |  FROM stats WHERE nh > 1 AND (s2 - s1 * s1 / nh) > 0)
      |SELECT hour, event_type, n_events, round(zv, 6) AS z_r6
      |FROM z WHERE abs(zv) > 2 ORDER BY event_type, hour""".stripMargin

  // ===== q80 — int8 scalar quantization of embeddings =====================

  /** Per-vector int8 scalar quantization — the vector-compression step
    * an embedding pipeline applies before ANN at scale: codes =
    * round((x−mn)·255/(mx−mn)) per element, 4× smaller than float32,
    * reconstruction error provably ≤ (mx−mn)/510 per element (half a
    * quantization step under nearest rounding). Output per vector: the
    * md5 of the code string (compact exact-comparable form), the
    * min/max dequantization params, and the max reconstruction error.
    *
    * Exactly oracle-able because every op is deterministic per-row IEEE
    * double arithmetic in the SAME order both engines evaluate
    * (`floor(v + 0.5)` spelled out — Spark's `round` is HALF_UP while
    * DuckDB's is not guaranteed to match at exact .5 ties), and the
    * only aggregations are `array_min`/`array_max` — order-independent.
    *
    * Scale shape: pure per-row higher-order functions — ZERO shuffles
    * except the presentation sort; the scan prunes to
    * (vec_id, embedding). A 100 TB embedding table quantizes in one
    * embarrassingly parallel map pass.
    */
  def q80EmbeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = col("e"); val mn = col("mn"); val mx = col("mx"); val rng = mx - mn
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("mn", array_min(e))
      .withColumn("mx", array_max(e))
      .withColumn("codes",
        when(mx === mn, transform(e, _ => lit(0L)))
          .otherwise(transform(e,
            x => floor((x - mn) * lit(255.0) / rng + lit(0.5)).cast("long"))))
      .withColumn("max_err",
        array_max(zip_with(e, col("codes"),
          (x, c) => abs(x - (mn + c * rng / lit(255.0))))))
      .select(col("vec_id"), size(e).as("n_dims"),
        md5(array_join(transform(col("codes"), _.cast("string")), ",")).as("code_md5"),
        round(mn, 6).as("mn_r6"), round(mx, 6).as("mx_r6"),
        round(col("max_err"), 9).as("max_err_r9"))
      .orderBy(col("vec_id"))
  }

  val q80Sql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |    list_min(CAST(embedding AS DOUBLE[])) AS mn,
      |    list_max(CAST(embedding AS DOUBLE[])) AS mx
      |  FROM embeddings),
      |c AS (
      |  SELECT vec_id, e, mn, mx,
      |    CASE WHEN mx = mn THEN list_transform(e, x -> CAST(0 AS BIGINT))
      |      ELSE list_transform(e,
      |        x -> CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT))
      |    END AS codes
      |  FROM v)
      |SELECT vec_id, len(e) AS n_dims,
      |  md5(array_to_string(codes, ',')) AS code_md5,
      |  round(mn, 6) AS mn_r6, round(mx, 6) AS mx_r6,
      |  round(list_max(list_transform(range(1, len(e) + 1),
      |    i -> abs(e[i] - (mn + codes[i] * (mx - mn) / 255.0)))), 9) AS max_err_r9
      |FROM c ORDER BY vec_id""".stripMargin

  // ===== q81 — exact heavy-hitter tokens via bounded-memory sketch ========

  /** Tokens making up ≥ 0.5% of each source's token stream — with
    * EXACT counts, found without vocabulary-sized state: pass 1 runs
    * one [[graft.functions.FreqTokensAgg]] (Misra–Gries, O(capacity)
    * memory per source, the repo's first TypedImperativeAggregate) to
    * get a certified no-false-negative candidate list; pass 2
    * broadcast-joins the tiny candidate set back over the token stream
    * and counts ONLY candidate tokens exactly. The q65 bloom pattern
    * for aggregation: sketch prunes, exact join decides, so the result
    * is provably independent of sketch internals — a naive exact
    * groupBy(source, token) holds the full vocabulary in the
    * aggregation hash; here shuffle+state are candidate-sized.
    *
    * The sketch evaluates to (n, thr, cand): n is the exact stream
    * length it counted, thr = max(1, ceil(0.005·n)), and it FAILS
    * LOUDLY if purging eroded its certificate past thr (silently
    * missing a heavy hitter is wrong, not approximate).
    */
  def q81FrequentTokens(s: SparkSession, dir: String): DataFrame = {
    graft.functions.FreqTokens.register(s)
    val docs = Tables.load(s, dir, "documents")
    val toks = MinHashLSH.shingleRows(docs, "source", "text", n = 1)
      .filter(col("sh") =!= "")
      .select(col("sid").as("source"), col("sh").as("w"))
    val sk = toks.groupBy(col("source"))
      .agg(graft.functions.FreqTokens.freqTokens(col("w"), 4096, 0.005).as("fk"))
    val cand = sk.select(col("source"), col("fk").getField("thr").as("thr"),
      explode(col("fk").getField("cand")).as("w"))
    toks.join(broadcast(cand), Seq("source", "w"))
      .groupBy(col("source"), col("w"), col("thr"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= col("thr"))
      .select(col("source"), col("w"), col("c"))
      .orderBy(col("source"), col("w"))
  }

  val q81Sql: String =
    """WITH toks AS (
      |  SELECT source,
      |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
      |  FROM documents),
      |tok AS (SELECT * FROM toks WHERE w <> ''),
      |tot AS (SELECT source, count(*) AS n FROM tok GROUP BY source),
      |cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w)
      |SELECT c.source, c.w, c.c
      |FROM cnt c JOIN tot t ON c.source = t.source
      |WHERE c.c >= greatest(CAST(1 AS BIGINT), CAST(ceil(0.005 * t.n) AS BIGINT))
      |ORDER BY 1, 2""".stripMargin

  // ===== q84 — duplicate-span extraction (position-grain dedup) ===========

  /** WHERE the duplicated text sits, not just how much: every maximal
    * span of words covered by overlapping 8-word windows that occur
    * more than once in the corpus — the position-grain refinement of
    * q78's tile fraction, and the batch primitive behind substring-
    * level dedup (Lee et al. 2022 cut exact duplicate spans, not whole
    * documents; a span list is what a surgical cutter consumes).
    *
    * Windows are stride-1 (every occurrence of a copied passage is
    * covered, unlike q78's aligned tiles which miss shifted copies);
    * flagged windows at positions i, j merge into one span when
    * j − i ≤ w (their word ranges overlap or touch), the classic
    * gaps-and-islands rule. Self-repetition inside one document counts
    * — a training-data cutter wants those spans too.
    *
    * Scale shape: window generation is `sequence`+`explode`+`slice`
    * (zero shuffles); the duplicated-hash inventory is an AGGREGATE
    * with map-side partial combine joined back onto the window stream
    * (the dedupCutOf/r21 discipline — the former count WINDOW keyed by
    * the hash shuffled AND SORTED every window row), with the c > 1
    * filter dropping the unique-window long tail before the join-back
    * (broadcast-size on ordinary corpora); the hash is the raw 16-byte
    * digest, never the hex string, and never the window text; span
    * merge is a per-doc lag/sum window over the flagged subset only.
    * The q78 discipline at stride 1: rows shuffled ≈ total corpus
    * words, each constant-width.
    */
  def q84DuplicateSpans(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    // checkpointed: the duplicated-hash aggregate and the flag join
    // both consume the window relation — one md5 pass, not two
    val wins = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - w)).as("i"))
      .select(col("doc_id"), col("i"),
        unhex(md5(array_join(slice(col("ws"), col("i") + 1, lit(w)), " "))).as("h"))
      .transform(Materialize.pin)
    val dupH = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val flagged = wins.join(dupH, Seq("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    flagged
      .withColumn("prev", lag(col("i"), 1).over(byDoc))
      .withColumn("ns",
        when(col("prev").isNull || col("i") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("ns")).over(byDoc))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("i")).cast("long").as("span_start"),
        (max(col("i")) + lit(w - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_words"),
        col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  val q84Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |wins AS (
      |  SELECT doc_id, i, md5(array_to_string(ws[(i+1):(i+8)], ' ')) AS h
      |  FROM w, unnest(range(len(ws) - 8 + 1)) AS t(i)
      |  WHERE len(ws) >= 8),
      |flagged AS (
      |  SELECT doc_id, i FROM (
      |    SELECT doc_id, i, count(*) OVER (PARTITION BY h) AS c FROM wins) WHERE c > 1),
      |marked AS (
      |  SELECT doc_id, i,
      |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
      |          OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8 THEN 1 ELSE 0 END AS ns
      |  FROM flagged),
      |sp AS (
      |  SELECT doc_id, i, sum(ns) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      |  FROM marked)
      |SELECT doc_id, min(i) AS span_start, max(i) + 7 AS span_end,
      |  max(i) + 7 - min(i) + 1 AS span_words, count(*) AS n_windows
      |FROM sp GROUP BY doc_id, span_id ORDER BY doc_id, span_start""".stripMargin

  // ===== q86 — source-overlap matrix (corpus lineage) =====================

  /** WHICH sources share text with which: for every source pair, the
    * count of distinct 8-word windows present in both, plus the
    * gram-set Jaccard — the corpus-lineage view behind mixture
    * decisions (two "independent" crawls sharing 30% of their grams
    * are not independent weight in a data mixture) and the
    * source-grain rollup of q84's span evidence.
    *
    * Scale shape: the gram inventory is `distinct (source, h)` — one
    * hash-keyed shuffle, md5-uniform; the pair expansion self-joins on
    * h, so candidate volume is O(Σ_h s_h²) with s_h ≤ |sources| — a
    * CONSTANT per gram (≤ S²/2 pairs), never corpus². Per-source sizes
    * (S rows) broadcast onto the pair aggregate. The q21/LSH
    * discipline: all-pairs work happens only where a hash already
    * collides.
    */
  def q86SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val wins = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("source"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - w)).as("i"))
      // raw 16-byte digest (internal key only): the distinct, the
      // checkpoint and the self-join all carry ~40% fewer bytes than
      // the 32-char hex string (guide §2.3 narrower types)
      .select(col("source"),
        unhex(md5(array_join(slice(col("ws"), col("i") + 1, lit(w)), " "))).as("h"))
      .distinct()
      // eager checkpoint: the per-source sizes and BOTH sides of the
      // h self-join consume this relation — without it the explode +
      // md5 + distinct subtree runs three times (8 scans in the r21
      // before-plan)
      .transform(Materialize.pin)
    val sizes = wins.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val shared = wins.as("a")
      .join(wins.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_grams").as("grams_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_grams").as("grams_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("grams_a"), col("grams_b"),
        // floor(v·1e6 + 0.5)/1e6, not round(): jaccard is a small
        // rational that CAN land exactly on a 0.5e-6 boundary (dyadic
        // ratios), where Spark's HALF_UP and DuckDB's half-to-even
        // disagree — the q77/q80/q83 micro-rounding convention
        (floor(col("n_shared").cast("double")
          / (col("grams_a") + col("grams_b") - col("n_shared"))
          * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("jaccard_r6"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q86Sql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |wins AS (
      |  SELECT DISTINCT source, md5(array_to_string(ws[(i+1):(i+8)], ' ')) AS h
      |  FROM w, unnest(range(len(ws) - 8 + 1)) AS t(i)
      |  WHERE len(ws) >= 8),
      |sizes AS (SELECT source, count(*) AS n_grams FROM wins GROUP BY source),
      |shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      |  FROM wins a JOIN wins b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s.source_a, s.source_b, s.n_shared,
      |  sa.n_grams AS grams_a, sb.n_grams AS grams_b,
      |  floor(CAST(s.n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - s.n_shared)
      |        * 1000000 + 0.5) / 1000000 AS jaccard_r6
      |FROM shared s
      |JOIN sizes sa ON sa.source = s.source_a
      |JOIN sizes sb ON sb.source = s.source_b
      |ORDER BY source_a, source_b""".stripMargin

  // ===== q87 — duplicate-span CUT (substring-level dedup) =================

  /** The surgical step q84's span list exists for: REMOVE duplicated
    * passages from the corpus while keeping exactly one canonical copy
    * (Lee et al. 2022's dedup cut, word-grain). Rules, all
    * deterministic:
    *
    *  - a stride-1 8-word window is a duplicate when its text occurs
    *    more than once corpus-wide (q84's flag);
    *  - each duplicated window's CANONICAL occurrence is its
    *    corpus-wide first — min (doc_id, position) — which keeps its
    *    words;
    *  - a word is cut iff some covering duplicate-window occurrence is
    *    non-canonical AND no covering canonical occurrence protects it
    *    (boundary words shared with a canonical window survive, so the
    *    kept copy is never torn).
    *
    * Output: per doc, the rebuilt text plus words_total/words_cut —
    * a fully-duplicated non-canonical doc rebuilds to ''.
    *
    * Scale shape: linear explodes all the way — windows (stride 1),
    * w-position coverage rows (8× word count, constant factor), one
    * (doc, pos) hash-agg for the cut set, one anti join + per-doc
    * rebuild agg. Shuffle keys are md5-uniform window hashes and
    * (doc_id, pos) — no skew pivot; nothing quadratic anywhere (the
    * occurrence aggregate counts, it never pairs). Canonical-copy
    * detection is a map-side-combined aggregate per window hash
    * (count + min (doc_id, i)) joined back onto the window stream
    * after the c > 1 prefilter — never a sort of the window relation.
    */
  def q87DedupCut(s: SparkSession, dir: String): DataFrame =
    dedupCutOf(Tables.load(s, dir, "documents"), sortByDoc = true)

  /** q87's cut over an arbitrary (doc_id, text) relation — the same
    * word-grain canonical-copy dedup applied to a corpus SLICE (q94
    * runs it on the training side only: dedup scope is a pipeline
    * choice, and eval text must not act as a canonical-copy donor for
    * training text).
    */
  private def dedupCutOf(docsDf: DataFrame, sortByDoc: Boolean = false): DataFrame = {
    val w = 8
    val words = docsDf
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    // checkpointed: the occurrence aggregate and the flag join both
    // consume the window relation — one md5 pass, not two
    val wins = words.filter(size(col("ws")) >= w)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - w)).as("i"))
      // raw 16-byte digest, not the hex string: h is internal (key
      // only), and the binary form checkpoints and shuffles ~40% fewer
      // bytes per window row (guide §2.3 narrower types)
      .select(col("doc_id"), col("i"),
        unhex(md5(array_join(slice(col("ws"), col("i") + 1, lit(w)), " "))).as("h"))
      .transform(Materialize.pin)
    // duplicated-window inventory as an AGGREGATE, not a window: the
    // former count + row_number pair shuffled and SORTED every window
    // row by (h, doc_id, i); the aggregate partial-combines map-side,
    // the c > 1 filter drops the unique-window long tail BEFORE the
    // flag join (broadcast-size on ordinary corpora, md5-uniform
    // equi-join otherwise), and the canonical occurrence is the min
    // (doc_id, i) — exactly row_number() = 1 under that order, since
    // each occurrence's (doc_id, i) is unique within its h. The pair
    // is PACKED into one long (doc_id << 24 | i): min(struct) is not a
    // HashAggregate-mutable buffer type, so the struct form silently
    // planned as SortAggregate — a full sort of the window relation,
    // the exact cost this aggregate exists to avoid. Packed-long min
    // is lexicographic-equivalent while doc_id < 2^39 and i < 2^24
    // (16M words/doc); past that the long overflows and the wrong
    // occurrence would silently become canonical, so a row outside the
    // bound fails the aggregate's own job instead.
    val packed = when(col("doc_id") < lit(1L << 39) && col("i") < lit(1 << 24),
        shiftleft(col("doc_id"), 24) + col("i"))
      .otherwise(raise_error(concat(
        lit("dedup cut: packed canonical key needs doc_id < 2^39 and i < 2^24, got doc_id="),
        col("doc_id").cast("string"), lit(", i="), col("i").cast("string"))))
    val dups = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(packed).as("m"))
      .filter(col("c") > 1)
      .select(col("h"), col("m"))
    val cover = wins.join(dups, Seq("h"))
      .select(col("doc_id"), (packed === col("m")).as("canon"),
        explode(sequence(col("i"), col("i") + lit(w - 1))).as("p"))
    // per-doc cut-position SET: covered positions where some
    // non-canonical duplicate window lands and no canonical window
    // protects — ONE doc-keyed aggregate (dup-covered minus
    // canon-covered position sets, identical membership to the former
    // (doc, p)-grain has_dup/has_canon filter) instead of two
    // exchanges; cover is duplicate-window volume only, and a doc's
    // position set is bounded by its own length
    val cutArr = cover.groupBy(col("doc_id"))
      .agg(array_except(
        collect_set(when(!col("canon"), col("p"))),
        collect_set(when(col("canon"), col("p")))).as("ps"))
    // doc-grain rebuild (guide §8; the Decontaminate.cut twin): kept
    // positions = sequence(0, n-1) minus the cut set — array_except
    // preserves order and hashes ps per row, element_at is O(1) — so
    // the corpus's words never posexplode, never anti-join shuffle on
    // (doc, pos), and never re-sort per doc
    val joined = words.join(cutArr, Seq("doc_id"), "left")
    dedupRebuild(if (sortByDoc) joined.orderBy(col("doc_id")) else joined)
  }
  // sortByDoc=false for the pipeline callers (q94/q150): they
  // checkpoint this relation and re-order their final ledgers anyway —
  // sorting here made the checkpoint pay a full range exchange + sort
  // of the rebuilt text for nothing. q87 (whose declared output is
  // ordered) sorts BELOW the rebuild projection, see [[dedupRebuild]].

  /** The doc-grain rebuild projection over a (doc_id, ws, ps) row —
    * split out so q87 can sort BELOW it (a range exchange samples its
    * whole child once before partitioning; sorting above this
    * projection would evaluate the rebuild twice).
    */
  private def dedupRebuild(joined: DataFrame): DataFrame =
    joined
      .select(col("doc_id"), size(col("ws")).cast("long").as("words_total"),
        expr("transform(array_except(sequence(0, size(ws) - 1)," +
          " coalesce(ps, cast(array() as array<int>)))," +
          " p -> element_at(ws, p + 1))").as("kw"))
      .select(col("doc_id"), col("words_total"),
        (col("words_total") - size(col("kw")).cast("long")).as("words_cut"),
        array_join(col("kw"), " ").as("kept_text"))

  val q87Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |wins AS (
      |  SELECT doc_id, i, md5(array_to_string(ws[(i+1):(i+8)], ' ')) AS h
      |  FROM d, unnest(range(len(ws) - 8 + 1)) AS t(i)
      |  WHERE len(ws) >= 8),
      |fl AS (
      |  SELECT doc_id, i,
      |    count(*) OVER (PARTITION BY h) AS c,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
      |  FROM wins),
      |cover AS (
      |  SELECT doc_id, i + u AS p, rn = 1 AS canon
      |  FROM (SELECT * FROM fl WHERE c > 1), unnest(range(8)) AS t(u)),
      |cut AS (
      |  SELECT doc_id, p FROM cover GROUP BY doc_id, p
      |  HAVING max(CASE WHEN NOT canon THEN 1 ELSE 0 END) = 1
      |     AND max(CASE WHEN canon THEN 1 ELSE 0 END) = 0),
      |wordsx AS (
      |  SELECT doc_id, u AS pos, ws[u + 1] AS word
      |  FROM d, unnest(range(len(ws))) AS t(u)),
      |reb AS (
      |  SELECT w.doc_id, count(*) AS words_kept,
      |    string_agg(w.word, ' ' ORDER BY w.pos) AS kept_text
      |  FROM wordsx w
      |  WHERE NOT EXISTS (SELECT 1 FROM cut c WHERE c.doc_id = w.doc_id AND c.p = w.pos)
      |  GROUP BY w.doc_id)
      |SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS words_total,
      |  CAST(len(d.ws) - coalesce(words_kept, 0) AS BIGINT) AS words_cut,
      |  coalesce(kept_text, '') AS kept_text
      |FROM d LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin

  // ===== q89 — decontamination CUT (span-grain eval removal) ==============

  /** The surgical third stage of the decontamination family: q39 FLAGS
    * contaminated training docs, q65 scales the flagging with a bloom
    * prune, and this REMOVES the contaminated text itself — every
    * training word covered by an 8-word window whose text occurs in
    * the held-out set is cut (NO canonical exemption, unlike q87's
    * intra-corpus rule: eval text must not survive anywhere in
    * training). Dropping whole documents wastes the clean remainder;
    * span-grain cutting keeps it.
    *
    * Same corpus split as q39/q65: docs 0–199 are the held-out side,
    * the rest plus planted copies of the first 10 (ids +3000000) are
    * training — the plants prove the cutter fires.
    *
    * Scale shape: window generation is linear and shuffle-free; the
    * flag is ONE equi-join on the md5 window hash (held-out side
    * aggregated distinct first — no broadcast assumption, AQE
    * broadcasts when it fits); cut-set and rebuild as in q87. At
    * 100 TB, pre-prune the training window stream with the q65 bloom
    * before this join — results identical, the join then touches only
    * survivors.
    */
  def q89DecontaminateCut(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") >= 200)
      .union(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
    // shared span-cut kernel ([[graft.dedup.Decontaminate]]) — the same
    // code path q94 and q150 run as their second stage
    val contamGrams = graft.dedup.Decontaminate.evalGrams(
      docs.filter(col("doc_id") < 200), "doc_id", "text")
    graft.dedup.Decontaminate.cut(train, "doc_id", "text", contamGrams)
      .orderBy(col("doc_id"))
  }

  val q89Sql: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |train AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM base WHERE doc_id >= 200
      |  UNION ALL
      |  SELECT doc_id + 3000000, string_split(text, ' ') FROM base WHERE doc_id < 10),
      |cg AS (
      |  SELECT DISTINCT md5(array_to_string(ws[(i+1):(i+8)], ' ')) AS h
      |  FROM (SELECT string_split(text, ' ') AS ws FROM base WHERE doc_id < 200),
      |       unnest(range(len(ws) - 8 + 1)) AS t(i)
      |  WHERE len(ws) >= 8),
      |tw AS (
      |  SELECT doc_id, i, md5(array_to_string(ws[(i+1):(i+8)], ' ')) AS h
      |  FROM train, unnest(range(len(ws) - 8 + 1)) AS t(i)
      |  WHERE len(ws) >= 8),
      |cut AS (
      |  SELECT DISTINCT doc_id, i + u AS p
      |  FROM tw JOIN cg USING (h), unnest(range(8)) AS t(u)),
      |wordsx AS (
      |  SELECT doc_id, u AS pos, ws[u + 1] AS word
      |  FROM train, unnest(range(len(ws))) AS t(u)),
      |reb AS (
      |  SELECT w.doc_id, count(*) AS words_kept,
      |    string_agg(w.word, ' ' ORDER BY w.pos) AS kept_text
      |  FROM wordsx w
      |  WHERE NOT EXISTS (SELECT 1 FROM cut c WHERE c.doc_id = w.doc_id AND c.p = w.pos)
      |  GROUP BY w.doc_id)
      |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS words_total,
      |  CAST(len(t.ws) - coalesce(words_kept, 0) AS BIGINT) AS words_cut,
      |  coalesce(kept_text, '') AS kept_text
      |FROM train t LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin

  // ===== q94 — composed curation CUT pipeline (q87 → q89) =================

  /** The two-stage surgical curation pipeline a real corpus runs, as
    * ONE composed query: stage 1 removes intra-corpus duplicated
    * passages keeping a canonical copy (q87's word-grain Lee-et-al
    * cut), stage 2 excises held-out eval spans from the SURVIVOR text
    * (q89's decontamination cut via the shared
    * [[graft.dedup.Decontaminate]] kernel) — order matters and is the
    * production order: dedup first so decontamination scans (and
    * rebuilds) the smaller post-dedup corpus. Same corpus split AND
    * plants as q89 (docs < 200 held-out; training = the rest plus
    * copies of the first 10 held-out docs at +3000000): stage 1 runs
    * on the TRAINING side only — eval text must not act as a
    * canonical-copy donor — so the plants sail through dedup (their
    * text occurs once in training) and are excised by decon, proving
    * BOTH stages fire on disjoint content.
    *
    * Output per training doc: words_total → words_dedup_cut →
    * words_after_dedup → words_decon_cut → final_text — the
    * per-document attrition ledger of both cuts.
    *
    * Stage 1 is evaluated once (pinned — it feeds stage 2's
    * input AND the final ledger join; the q74/q33 eager convention).
    * Docs fully consumed by dedup (kept_text = '') skip stage 2 and
    * report zero decon attrition — '' would otherwise split to a
    * phantom 1-word doc.
    *
    * Scale shape: strictly the sum of its parts — both stages are
    * linear explodes + md5-uniform hash joins (q87/q89 docs); the
    * composition adds one doc-keyed broadcast-size join for the
    * ledger. At 100 TB the q65 bloom pre-prune slots between the
    * stages unchanged.
    */
  def q94CurationCutPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") >= 200)
      .union(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
    val stage1 = dedupCutOf(train)
      .select(col("doc_id"), col("words_total"),
        col("words_cut").as("words_dedup_cut"), col("kept_text"))
      .transform(Materialize.pin)
    val grams = graft.dedup.Decontaminate.evalGrams(
      docs.filter(col("doc_id") < 200), "doc_id", "text")
    val stage2 = graft.dedup.Decontaminate.cut(
        stage1.filter(col("kept_text") =!= "").select(col("doc_id"), col("kept_text")),
        "doc_id", "kept_text", grams)
      .select(col("doc_id"), col("words_total").as("words_after_dedup"),
        col("words_cut").as("words_decon_cut"), col("kept_text").as("final_text"))
    stage1.select(col("doc_id"), col("words_total"), col("words_dedup_cut"))
      .join(stage2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("words_total"), col("words_dedup_cut"),
        coalesce(col("words_after_dedup"), lit(0L)).as("words_after_dedup"),
        coalesce(col("words_decon_cut"), lit(0L)).as("words_decon_cut"),
        coalesce(col("final_text"), lit("")).as("final_text"))
      .orderBy(col("doc_id"))
  }

  /** q87's CTE chain re-labeled as stage 1, then q89's cut CTEs run
    * over the stage-1 survivor text — the oracle recomputes BOTH cuts
    * and their composition independently.
    */
  val q94Sql: String =
    """WITH d0 AS (SELECT doc_id, text FROM documents),
      |tr0 AS (
      |  SELECT doc_id, text FROM d0 WHERE doc_id >= 200
      |  UNION ALL
      |  SELECT doc_id + 3000000, text FROM d0 WHERE doc_id < 10),
      |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM tr0),
      |wins AS (
      |  SELECT doc_id, i, md5(array_to_string(ws[(i+1):(i+8)], ' ')) AS h
      |  FROM d, unnest(range(len(ws) - 8 + 1)) AS t(i)
      |  WHERE len(ws) >= 8),
      |fl AS (
      |  SELECT doc_id, i,
      |    count(*) OVER (PARTITION BY h) AS c,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
      |  FROM wins),
      |cover AS (
      |  SELECT doc_id, i + u AS p, rn = 1 AS canon
      |  FROM (SELECT * FROM fl WHERE c > 1), unnest(range(8)) AS t(u)),
      |cut AS (
      |  SELECT doc_id, p FROM cover GROUP BY doc_id, p
      |  HAVING max(CASE WHEN NOT canon THEN 1 ELSE 0 END) = 1
      |     AND max(CASE WHEN canon THEN 1 ELSE 0 END) = 0),
      |wordsx AS (
      |  SELECT doc_id, u AS pos, ws[u + 1] AS word
      |  FROM d, unnest(range(len(ws))) AS t(u)),
      |reb AS (
      |  SELECT w.doc_id, count(*) AS words_kept,
      |    string_agg(w.word, ' ' ORDER BY w.pos) AS kept_text
      |  FROM wordsx w
      |  WHERE NOT EXISTS (SELECT 1 FROM cut c WHERE c.doc_id = w.doc_id AND c.p = w.pos)
      |  GROUP BY w.doc_id),
      |s1 AS (
      |  SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS words_total,
      |    CAST(len(d.ws) - coalesce(words_kept, 0) AS BIGINT) AS words_dedup_cut,
      |    coalesce(kept_text, '') AS kept_text
      |  FROM d LEFT JOIN reb USING (doc_id)),
      |cg AS (
      |  SELECT DISTINCT md5(array_to_string(ws2[(i+1):(i+8)], ' ')) AS h2
      |  FROM (SELECT string_split(text, ' ') AS ws2 FROM documents WHERE doc_id < 200),
      |       unnest(range(len(ws2) - 8 + 1)) AS t(i)
      |  WHERE len(ws2) >= 8),
      |tr AS (SELECT doc_id, string_split(kept_text, ' ') AS tws FROM s1
      |       WHERE kept_text <> ''),
      |tw AS (
      |  SELECT doc_id, i, md5(array_to_string(tws[(i+1):(i+8)], ' ')) AS h2
      |  FROM tr, unnest(range(len(tws) - 8 + 1)) AS t(i)
      |  WHERE len(tws) >= 8),
      |cut2 AS (
      |  SELECT DISTINCT doc_id, i + u AS p
      |  FROM tw JOIN cg USING (h2), unnest(range(8)) AS t(u)),
      |wx2 AS (
      |  SELECT doc_id, u AS pos, tws[u + 1] AS word
      |  FROM tr, unnest(range(len(tws))) AS t(u)),
      |reb2 AS (
      |  SELECT w.doc_id, count(*) AS words_kept2,
      |    string_agg(w.word, ' ' ORDER BY w.pos) AS final_text
      |  FROM wx2 w
      |  WHERE NOT EXISTS (SELECT 1 FROM cut2 c WHERE c.doc_id = w.doc_id AND c.p = w.pos)
      |  GROUP BY w.doc_id),
      |s2 AS (
      |  SELECT t.doc_id, CAST(len(t.tws) AS BIGINT) AS words_after_dedup,
      |    CAST(len(t.tws) - coalesce(words_kept2, 0) AS BIGINT) AS words_decon_cut,
      |    coalesce(final_text, '') AS final_text
      |  FROM tr t LEFT JOIN reb2 USING (doc_id))
      |SELECT s1.doc_id, s1.words_total, s1.words_dedup_cut,
      |  coalesce(s2.words_after_dedup, 0) AS words_after_dedup,
      |  coalesce(s2.words_decon_cut, 0) AS words_decon_cut,
      |  coalesce(s2.final_text, '') AS final_text
      |FROM s1 LEFT JOIN s2 USING (doc_id)
      |ORDER BY s1.doc_id""".stripMargin

  // ===== q150 — full curation cut pipeline (intra → dedup → decon) ========

  /** The complete three-stage surgical curation pass in ONE ledgered
    * query — q129's intra-document repetition cut (rebuilt to text),
    * then q87's cross-document canonical-copy cut, then q89's
    * span-grain decontamination — the RefinedWeb/FineWeb order
    * (scrub self-repetition first so it can't masquerade as
    * corpus-level duplication, dedup second, eval excision last so
    * nothing downstream re-introduces leaked text). Plants exercise
    * every stage: +4000000 self-appended docs fire the intra cut,
    * +3000000 eval copies sail through dedup and die to decon (the
    * q94 argument). Per-document attrition ledger:
    * words_total0 → intra_cut → after_intra → dedup_cut →
    * after_dedup → decon_cut → final_text.
    *
    * Scale shape: stage 0 is the q129 shape (map-side tiling, one
    * doc-keyed exchange for window + ordered rebuild); stages 1–2 are
    * q87/q89's audited kernels over progressively SMALLER text (each
    * stage feeds the next's survivors only); stage boundaries are
    * eagerly checkpointed so no stage's lineage replays another's
    * shuffles.
    */
  def q150FullCuration(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") >= 200)
      .union(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      .union(docs.filter(col("doc_id").between(200, 204))
        .select(col("doc_id"), split(col("text"), " ").as("pws"))
        .withColumn("pnt", floor(size(col("pws")) / w).cast("int"))
        .filter(col("pnt") > 0)
        // double a TILE-ALIGNED prefix — the non-overlapping tile grid is
        // alignment-sensitive, so an arbitrary-length doubling would miss it
        .select((col("doc_id") + 4000000).as("doc_id"),
          concat(array_join(slice(col("pws"), lit(1), col("pnt") * w), " "),
            lit(" "),
            array_join(slice(col("pws"), lit(1), col("pnt") * w), " ")).as("text")))
    val words = train.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .withColumn("nt", floor(col("n") / w).cast("int"))
    // stage 0 is IN-ROW (the q129 rewrite): a document's tiles, their
    // first-occurrence dedup (`array_distinct` keeps exactly the first
    // occurrence of each tile, in order — the former (doc, tile-hash)
    // min-index aggregate) and the rebuilt text are per-doc functions
    // of its own word array, so the whole stage is one map-side
    // projection — no explode of tile rows, no exchanges, no
    // tile-text shuffle. The explode(array(...)) barrier materializes
    // the deduped tile array once per row (projection collapse would
    // otherwise re-evaluate the per-tile transform per consumer).
    val tailCol = array_join(
      slice(col("ws"), col("nt") * w + 1, col("n") - col("nt") * w), " ")
    val stage0 = words
      .select(col("doc_id"), col("ws"), col("n"), col("nt"),
        explode(array(when(col("nt") > 0, array_distinct(transform(
          sequence(lit(0), col("nt") - 1),
          i => array_join(slice(col("ws"), i * w + 1, lit(w)), " ")))))).as("kept"))
      .select(col("doc_id"), col("n").cast("long").as("words_total0"),
        when(col("kept").isNull, lit(0L))
          .otherwise(lit(w.toLong) * (col("nt").cast("long") - size(col("kept"))))
          .as("words_intra_cut"),
        when(col("kept").isNull, array_join(col("ws"), " "))
          .otherwise(concat_ws(" ",
            when(array_join(col("kept"), " ") =!= "", array_join(col("kept"), " ")),
            when(tailCol =!= "", tailCol))).as("text0"))
      .transform(Materialize.pin)
    val stage1 = dedupCutOf(stage0.select(col("doc_id"), col("text0").as("text")))
      .select(col("doc_id"), col("words_total").as("words_after_intra"),
        col("words_cut").as("words_dedup_cut"), col("kept_text"))
      .transform(Materialize.pin)
    val grams = graft.dedup.Decontaminate.evalGrams(
      docs.filter(col("doc_id") < 200), "doc_id", "text")
    val stage2 = graft.dedup.Decontaminate.cut(
        stage1.filter(col("kept_text") =!= "").select(col("doc_id"), col("kept_text")),
        "doc_id", "kept_text", grams)
      .select(col("doc_id"), col("words_total").as("words_after_dedup"),
        col("words_cut").as("words_decon_cut"), col("kept_text").as("final_text"))
    stage0.select(col("doc_id"), col("words_total0"), col("words_intra_cut"))
      .join(stage1.select(col("doc_id"), col("words_after_intra"),
        col("words_dedup_cut")), Seq("doc_id"), "left")
      .join(stage2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("words_total0"), col("words_intra_cut"),
        coalesce(col("words_after_intra"), lit(0L)).as("words_after_intra"),
        coalesce(col("words_dedup_cut"), lit(0L)).as("words_dedup_cut"),
        coalesce(col("words_after_dedup"), lit(0L)).as("words_after_dedup"),
        coalesce(col("words_decon_cut"), lit(0L)).as("words_decon_cut"),
        coalesce(col("final_text"), lit("")).as("final_text"))
      .orderBy(col("doc_id"))
  }

  /** q94's two-stage CTE chain with q129's intra-doc cut prepended as
    * stage 0 (s0 rebuilds text from kept tiles + ragged tail); the
    * oracle recomputes all three cuts and their composition.
    */
  val q150Sql: String =
    """WITH d0 AS (SELECT doc_id, text FROM documents),
      |tr0 AS (
      |  SELECT doc_id, text FROM d0 WHERE doc_id >= 200
      |  UNION ALL
      |  SELECT doc_id + 3000000, text FROM d0 WHERE doc_id < 10
      |  UNION ALL
      |  SELECT doc_id + 4000000,
      |    array_to_string(pws[1:(CAST(floor(len(pws)/8) AS BIGINT)*8)], ' ')
      |      || ' ' ||
      |    array_to_string(pws[1:(CAST(floor(len(pws)/8) AS BIGINT)*8)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS pws FROM d0
      |        WHERE doc_id BETWEEN 200 AND 204)
      |  WHERE floor(len(pws)/8) > 0),
      |w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM tr0),
      |t0 AS (
      |  SELECT doc_id, i, array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS tile,
      |    md5(array_to_string(ws[(i*8+1):(i*8+8)], ' ')) AS h
      |  FROM w0, unnest(range(CAST(floor(len(ws)/8) AS BIGINT))) AS t(i)
      |  WHERE floor(len(ws)/8) > 0),
      |k0 AS (
      |  SELECT doc_id, i, tile,
      |    CASE WHEN i = min(i) OVER (PARTITION BY doc_id, h) THEN 1 ELSE 0 END AS kept
      |  FROM t0),
      |agg0 AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN kept = 1 THEN tile END, ' ' ORDER BY i) AS ktext,
      |    count(*) AS n_tiles, CAST(sum(kept) AS BIGINT) AS kept_tiles
      |  FROM k0 GROUP BY 1),
      |s0 AS (
      |  SELECT w0.doc_id, CAST(len(w0.ws) AS BIGINT) AS words_total0,
      |    coalesce(8 * (agg0.n_tiles - agg0.kept_tiles), 0) AS words_intra_cut,
      |    CASE WHEN agg0.doc_id IS NULL THEN array_to_string(w0.ws, ' ')
      |         ELSE concat_ws(' ', nullif(agg0.ktext, ''),
      |           nullif(array_to_string(
      |             w0.ws[(CAST(floor(len(w0.ws)/8) AS BIGINT)*8+1):(len(w0.ws))], ' '),
      |             '')) END AS text0
      |  FROM w0 LEFT JOIN agg0 ON w0.doc_id = agg0.doc_id),
      |d AS (SELECT doc_id, string_split(text0, ' ') AS ws FROM s0),
      |wins AS (
      |  SELECT doc_id, i, md5(array_to_string(ws[(i+1):(i+8)], ' ')) AS h
      |  FROM d, unnest(range(len(ws) - 8 + 1)) AS t(i)
      |  WHERE len(ws) >= 8),
      |fl AS (
      |  SELECT doc_id, i,
      |    count(*) OVER (PARTITION BY h) AS c,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
      |  FROM wins),
      |cover AS (
      |  SELECT doc_id, i + u AS p, rn = 1 AS canon
      |  FROM (SELECT * FROM fl WHERE c > 1), unnest(range(8)) AS t(u)),
      |cut AS (
      |  SELECT doc_id, p FROM cover GROUP BY doc_id, p
      |  HAVING max(CASE WHEN NOT canon THEN 1 ELSE 0 END) = 1
      |     AND max(CASE WHEN canon THEN 1 ELSE 0 END) = 0),
      |wordsx AS (
      |  SELECT doc_id, u AS pos, ws[u + 1] AS word
      |  FROM d, unnest(range(len(ws))) AS t(u)),
      |reb AS (
      |  SELECT w.doc_id, count(*) AS words_kept,
      |    string_agg(w.word, ' ' ORDER BY w.pos) AS kept_text
      |  FROM wordsx w
      |  WHERE NOT EXISTS (SELECT 1 FROM cut c WHERE c.doc_id = w.doc_id AND c.p = w.pos)
      |  GROUP BY w.doc_id),
      |s1 AS (
      |  SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS words_after_intra,
      |    CAST(len(d.ws) - coalesce(words_kept, 0) AS BIGINT) AS words_dedup_cut,
      |    coalesce(kept_text, '') AS kept_text
      |  FROM d LEFT JOIN reb USING (doc_id)),
      |cg AS (
      |  SELECT DISTINCT md5(array_to_string(ws2[(i+1):(i+8)], ' ')) AS h2
      |  FROM (SELECT string_split(text, ' ') AS ws2 FROM documents WHERE doc_id < 200),
      |       unnest(range(len(ws2) - 8 + 1)) AS t(i)
      |  WHERE len(ws2) >= 8),
      |tr AS (SELECT doc_id, string_split(kept_text, ' ') AS tws FROM s1
      |       WHERE kept_text <> ''),
      |tw AS (
      |  SELECT doc_id, i, md5(array_to_string(tws[(i+1):(i+8)], ' ')) AS h2
      |  FROM tr, unnest(range(len(tws) - 8 + 1)) AS t(i)
      |  WHERE len(tws) >= 8),
      |cut2 AS (
      |  SELECT DISTINCT doc_id, i + u AS p
      |  FROM tw JOIN cg USING (h2), unnest(range(8)) AS t(u)),
      |wx2 AS (
      |  SELECT doc_id, u AS pos, tws[u + 1] AS word
      |  FROM tr, unnest(range(len(tws))) AS t(u)),
      |reb2 AS (
      |  SELECT w.doc_id, count(*) AS words_kept2,
      |    string_agg(w.word, ' ' ORDER BY w.pos) AS final_text
      |  FROM wx2 w
      |  WHERE NOT EXISTS (SELECT 1 FROM cut2 c WHERE c.doc_id = w.doc_id AND c.p = w.pos)
      |  GROUP BY w.doc_id),
      |s2 AS (
      |  SELECT t.doc_id, CAST(len(t.tws) AS BIGINT) AS words_after_dedup,
      |    CAST(len(t.tws) - coalesce(words_kept2, 0) AS BIGINT) AS words_decon_cut,
      |    coalesce(final_text, '') AS final_text
      |  FROM tr t LEFT JOIN reb2 USING (doc_id))
      |SELECT s0.doc_id, s0.words_total0, s0.words_intra_cut,
      |  coalesce(s1.words_after_intra, 0) AS words_after_intra,
      |  coalesce(s1.words_dedup_cut, 0) AS words_dedup_cut,
      |  coalesce(s2.words_after_dedup, 0) AS words_after_dedup,
      |  coalesce(s2.words_decon_cut, 0) AS words_decon_cut,
      |  coalesce(s2.final_text, '') AS final_text
      |FROM s0 LEFT JOIN s1 USING (doc_id) LEFT JOIN s2 USING (doc_id)
      |ORDER BY s0.doc_id""".stripMargin

  // ===== q111 — blocked edit-distance (fuzzy) dedup =======================

  /** Candidate pairs for [[q111FuzzyDedup]]'s blocked edit-distance
    * dedup, from an (doc_id, nt, len) relation: docs collide when they
    * share EITHER their normalized 64-char prefix or their 64-char
    * suffix (an in-place edit breaks at most one of the two keys, so
    * the second key is the recall backstop the single-prefix r19 shape
    * lacked), and a block wider than `maxBlock` is DEGRADED — not
    * enumerated — to its min-id representative star, exactly
    * [[graft.dedup.MinHashLSH.DefaultMaxBandBucket]]'s treatment of an
    * oversized LSH bucket. A corpus-frequent boilerplate opening (q186
    * measures them on this very corpus) would otherwise put s docs in
    * one prefix block and s²/2 pairs on one reducer; the star keeps the
    * block's cost O(s) while its members stay connected through the
    * representative, and a typo pair inside a hot-prefix block still
    * surfaces DIRECTLY through its suffix block WHEN that block is
    * within the cap (the usual case: boilerplate openings rarely pair
    * with boilerplate closings on the same docs). When BOTH of a
    * pair's blocks are oversized — shared license header AND footer —
    * only the two star edges remain and the direct pair is skipped,
    * the same declared degrade as an oversized LSH bucket
    * ([[graft.dedup.MinHashLSH.DefaultMaxBandBucket]]); this helper is
    * LAZY like `MinHashLSH.candidatePairs` and therefore silent about
    * it — raise the cap or pre-strip boilerplate if member↔member
    * pairs inside doubly-hot blocks matter.
    *
    * Output: (a_id, b_id, a_len, b_len), a_id < b_id, possibly with
    * duplicates (a pair can collide on both keys) — the caller owns
    * dedup and attaches text AFTER it (guide §8's move-big-rows-once
    * rule: blocking, width caps and pair dedup all run on narrow
    * (id, len, key) rows; the width/min block relation is a
    * map-side-combined aggregate joined back, never a payload window).
    */
  private[queries] def fuzzyCandidates(all: DataFrame, maxBlock: Int): DataFrame = {
    // Narrow blocking (guide §8: decide with small rows, move big rows
    // once): only (doc_id, len, bi, bk) flows through the block-width
    // aggregate and the block self-join — the normalized TEXT attaches
    // to the capped candidate pairs at the very end, via two id-keyed
    // joins, instead of riding every exchange. Block widths come from a
    // groupBy (map-side partial combine, no sort) joined back, not a
    // window over payload rows; the checkpoint stops the explode from
    // re-running per consumer (the r21 before-plan held 16 scans).
    val keyed = all.select(col("doc_id"), col("len"),
      explode(array(
        struct(lit(0).as("bi"), substring(col("nt"), 1, 64).as("bk")),
        struct(lit(1).as("bi"),
          when(col("len") <= 64, col("nt"))
            .otherwise(expr("substring(nt, len - 63, 64)")).as("bk"))))
        .as("k"))
      .select(col("doc_id"), col("len"),
        col("k.bi").as("bi"), col("k.bk").as("bk"))
    val blocks = keyed.groupBy(col("bi"), col("bk"))
      .agg(count(lit(1)).as("bsz"), min(col("doc_id")).as("bmin"))
      .filter(col("bsz") >= 2)
    // one eager checkpoint covers the three consumers (both self-join
    // sides + the star branch); keyed itself is a cheap map-side
    // explode over the caller's checkpointed doc relation
    val sized = keyed.join(blocks, Seq("bi", "bk"))
      .transform(Materialize.pin)
    val inCap = sized.filter(col("bsz") <= maxBlock)
    val a = inCap.select(col("bi"), col("bk"), col("doc_id").as("a_id"),
      col("len").as("a_len"))
    val b = inCap.select(col("bi"), col("bk"), col("doc_id").as("b_id"),
      col("len").as("b_len"))
    val full = a.join(b, Seq("bi", "bk"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_len", "b_len")
    // oversized block → (min-id rep, member) star, O(s) rows; the rep's
    // length rides in via one narrow join against the doc relation
    val star = sized
      .filter(col("bsz") > maxBlock && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a_id"), col("doc_id").as("b_id"),
        col("len").as("b_len"))
      .join(all.select(col("doc_id").as("a_id"), col("len").as("a_len")),
        Seq("a_id"))
      .select("a_id", "b_id", "a_len", "b_len")
    full.union(star)
  }

  /** Block width past which [[fuzzyCandidates]] degrades a block to
    * its representative star instead of enumerating its pairs. 256
    * full-width blocks cost ≤ 32k pairs each; at sf0.1 no real block
    * comes near it (4764 distinct prefixes / 5000 docs), so the cap is
    * results-neutral here while bounding the 100 TB boilerplate case.
    */
  private[queries] val FuzzyMaxBlock: Int = 256

  /** Fuzzy dedup by EDIT DISTANCE — the dedup-family member that
    * catches small in-place edits (typo fixes, injected words) that
    * shingle-Jaccard under-weights on short texts: pairs of documents
    * whose normalized texts are within levenshtein 12 on their leading
    * 256 chars. Planted variants (every 7th doc gets 5 chars inserted
    * at position 65) prove the detector fires.
    *
    * The scale shape is blocking, never all-pairs, and the blocks are
    * CAPPED: candidates must share their normalized 64-char prefix OR
    * suffix ([[fuzzyCandidates]] — two equi-join keys; an in-place
    * edit preserves at least one), a block wider than
    * [[FuzzyMaxBlock]] degrades to its min-id star (O(s) rows, the
    * MinHashLSH maxBucket treatment — r19's uncapped prefix block was
    * the one remaining s²/2 skew hazard in the dedup family), and a
    * length-delta prefilter (|Δlen| ≤ 12 is a lower bound on edit
    * distance) guards the O(256²) DP so it runs only on survivors.
    * At 100 TB the prefix length and the cap are the levers — longer
    * prefix → narrower blocks, same plan. One shuffle on the block
    * key; `levenshtein` is a codegen'd native expression on both
    * engines.
    */
  def q111FuzzyDedup(s: SparkSession, dir: String): DataFrame = {
    val norm = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("nt"))
    val variants = norm.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(substring(col("nt"), 1, 64), lit(" zzyq"),
          expr("substring(nt, 65)")).as("nt"))
    // eager checkpoint: both of fuzzyCandidates' key branches plus the
    // star representatives re-read this relation; the whitespace
    // normalize over the full text is the expensive part and must run
    // once, not once per consumer
    val all = norm.union(variants).withColumn("len", length(col("nt")))
      .transform(Materialize.pin)
    fuzzyCandidates(all, FuzzyMaxBlock)
      .filter(abs(col("a_len") - col("b_len")) <= 12)
      // dedupe BEFORE attaching text and running the DP: a pair
      // colliding on both block keys would otherwise run levenshtein
      // twice for one result row, and the dedup itself stays a narrow
      // (id, id) aggregate instead of sorting text payloads
      .dropDuplicates("a_id", "b_id")
      .select("a_id", "b_id")
      .join(all.select(col("doc_id").as("a_id"), col("nt").as("a_nt")), Seq("a_id"))
      .join(all.select(col("doc_id").as("b_id"), col("nt").as("b_nt")), Seq("b_id"))
      // bounded-band DP: levenshtein's 3-arg form stops at the
      // threshold (O(len·k) cells instead of O(len²)) and returns -1
      // past it — identical distances for every surviving row, and the
      // -1 rows are exactly the > 12 rows the filter dropped before
      .select(col("a_id"), col("b_id"),
        levenshtein(substring(col("a_nt"), 1, 256),
          substring(col("b_nt"), 1, 256), 12).as("edit_dist"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= 12)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q111Sql: String =
    """WITH n AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
      |  FROM documents),
      |v AS (
      |  SELECT doc_id + 3000000 AS doc_id,
      |    substr(nt, 1, 64) || ' zzyq' || substr(nt, 65) AS nt
      |  FROM n WHERE doc_id % 7 = 0),
      |u AS (
      |  SELECT doc_id, nt, length(nt) AS len
      |  FROM (SELECT * FROM n UNION ALL SELECT * FROM v)),
      |k AS (
      |  SELECT doc_id, nt, len, 0 AS bi, substr(nt, 1, 64) AS bk FROM u
      |  UNION ALL
      |  SELECT doc_id, nt, len, 1 AS bi,
      |    CASE WHEN len <= 64 THEN nt ELSE substr(nt, len - 63, 64) END AS bk
      |  FROM u),
      |w AS (
      |  SELECT doc_id, nt, len, bi, bk,
      |    count(*) OVER (PARTITION BY bi, bk) AS bsz,
      |    min(doc_id) OVER (PARTITION BY bi, bk) AS bmin
      |  FROM k),
      |cand AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nt AS a_nt, b.nt AS b_nt,
      |    a.len AS a_len, b.len AS b_len
      |  FROM w a JOIN w b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
      |  WHERE a.bsz BETWEEN 2 AND 256
      |  UNION ALL
      |  SELECT w.bmin AS a_id, w.doc_id AS b_id, r.nt AS a_nt, w.nt AS b_nt,
      |    r.len AS a_len, w.len AS b_len
      |  FROM w JOIN u r ON r.doc_id = w.bmin
      |  WHERE w.bsz > 256 AND w.doc_id <> w.bmin)
      |SELECT DISTINCT a_id, b_id,
      |  CAST(levenshtein(substr(a_nt, 1, 256), substr(b_nt, 1, 256)) AS INTEGER) AS edit_dist
      |FROM cand
      |WHERE abs(a_len - b_len) <= 12
      |  AND levenshtein(substr(a_nt, 1, 256), substr(b_nt, 1, 256)) <= 12
      |ORDER BY a_id, b_id""".stripMargin

  // ===== q112 — robust outlier cut (median / MAD) =========================

  /** Robust per-source length-outlier report: median and median
    * absolute deviation of `n_chars`, and how many documents sit more
    * than 3 MADs from their source's median — the outlier filter a
    * curation pass prefers over mean/stddev because a handful of
    * megadocuments can drag a mean past itself (the breakdown-point
    * argument). Medians use the exact interpolated `percentile` /
    * `quantile_cont` parity q30 established; deviations are dyadic
    * (k or k + 0.5), so every comparison is FP-exact on both engines.
    *
    * Scale shape: two grouped percentile passes over a (source, long)
    * projection with the tiny per-source stats BROADCAST back between
    * them — no row-level shuffle at all beyond the two aggregates;
    * at 100 TB swap `approx_percentile` into the same plan (the
    * q30→q31 move) and nothing else changes.
    */
  def q112RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("n_chars"))
    val med = docs.groupBy(col("source"))
      .agg(expr("percentile(n_chars, 0.5D)").as("med_chars"))
    val withDev = docs.join(broadcast(med), Seq("source"))
      .withColumn("dev", abs(col("n_chars") - col("med_chars")))
    val mad = withDev.groupBy(col("source"))
      .agg(expr("percentile(dev, 0.5D)").as("mad_chars"))
    withDev.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("med_chars")).as("med_chars"),
        max(col("mad_chars")).as("mad_chars"),
        sum(when(col("dev") > lit(3.0) * col("mad_chars"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_frac",
        round(col("n_outliers").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  val q112Sql: String =
    """WITH m AS (
      |  SELECT source, quantile_cont(n_chars, 0.5) AS med_chars
      |  FROM documents GROUP BY 1),
      |d AS (
      |  SELECT source, med_chars, abs(n_chars - med_chars) AS dev
      |  FROM documents JOIN m USING (source)),
      |md AS (
      |  SELECT source, quantile_cont(dev, 0.5) AS mad_chars
      |  FROM d GROUP BY 1)
      |SELECT source, count(*) AS n_docs,
      |  max(med_chars) AS med_chars, max(mad_chars) AS mad_chars,
      |  CAST(sum(CASE WHEN dev > 3 * mad_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(CAST(sum(CASE WHEN dev > 3 * mad_chars THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS outlier_frac
      |FROM d JOIN md USING (source)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q127 — bigram-LM surprisal score per document ====================

  /** Per-document average bigram surprisal −ln p(w₂|w₁) under the
    * corpus's own maximum-likelihood bigram model — the next rung above
    * q77's unigram signal and the closest SQL-expressible analogue of
    * the KenLM perplexity filter (CCNet, Wenzek et al. 2020): text
    * whose word ORDER is typical of the corpus scores low even when its
    * vocabulary is exotic, and shuffled/boilerplate-spliced text scores
    * high even when every word is common. p(w₂|w₁) = c(w₁w₂)/c(w₁·),
    * with c(w₁·) counted over bigram-first positions so the
    * conditional sums to exactly 1.
    *
    * Determinism: the q77 discipline — each bigram's −ln is a scalar
    * micro-quantized to a long BEFORE the per-doc mean, so the sum is
    * exact and AQE-order-independent.
    *
    * Scale shape: bigrams are generated map-side (split + sequence +
    * element_at — zero shuffles, the q78 tiling pattern); then two hash
    * aggregates (bigram counts, first-word counts) and two joins on
    * token keys. Both count sides are vocabulary-sized — joined, NOT
    * broadcast (the q56/q77 rule: a 100 TB corpus's bigram table does
    * not fit an executor); shuffle keys are single tokens/pairs with
    * near-Zipf skew absorbed by map-side partial aggregation.
    */
  def q127BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val bi = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(norm, " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 2)).as("i"))
      .select(col("doc_id"),
        element_at(col("ws"), col("i") + 1).as("w1"),
        element_at(col("ws"), col("i") + 2).as("w2"))
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("micro",
        floor(-log(col("c2").cast("double") / col("c1")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(sum(col("micro")).cast("double") / count(lit(1)) + lit(0.5)) / lit(1e6))
          .as("surprisal2_r6"))
      .orderBy(col("doc_id"))
  }

  val q127Sql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
      |  FROM w, unnest(range(CAST(len(ws) - 1 AS BIGINT))) AS t(i)
      |  WHERE len(ws) >= 2),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(floor(-ln(CAST(c2 AS DOUBLE) / c1) * 1000000 + 0.5) AS BIGINT) AS micro
      |  FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
      |SELECT doc_id, count(*) AS n_bigrams,
      |  floor(CAST(sum(micro) AS DOUBLE) / count(*) + 0.5) / 1000000 AS surprisal2_r6
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ===== q129 — intra-document repetition cut =============================

  /** Intra-document dedup CUT at tile grain: within each document,
    * every repeated 8-word tile after its first occurrence is removed —
    * the RefinedWeb/FineWeb intra-doc repetition scrub that q38 only
    * FLAGS and q87 only applies ACROSS documents. Self-appended docs
    * are planted (doc_id + 1000000, text twice, the q21/q74
    * convention) so the cut has a known nontrivial answer: a planted
    * doc keeps exactly its first half's tiles. Output carries an md5
    * fingerprint of the kept tile sequence IN ORDER, so the oracle
    * certifies the surviving content and its order, not just counts.
    *
    * Scale shape: the whole cut is IN-ROW — tiles, first-occurrence
    * dedup and the ordered fingerprint are per-document functions of
    * that document's word array alone, so they compute inside one
    * map-side projection (`array_distinct` keeps exactly the first
    * occurrence of each tile, in first-occurrence order — identical to
    * the former (doc, tile-hash) min-index aggregate, whose two
    * exchanges shipped one row per distinct tile); nothing shuffles
    * but the final presentation sort. Per-doc state is bounded by doc
    * length, so the shape holds at any corpus width. The planted union
    * rides the same scan via an in-row 2-struct explode instead of a
    * second parquet pass over the text column.
    */
  def q129IntraDocDedup(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs
      .select(explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    // the explode(array(...)) barrier materializes the deduped tile
    // array once per row — without it, projection collapse would
    // re-evaluate the per-tile md5 transform for every consumer.
    // The presentation sort runs HERE, below the tile projections: a
    // range exchange samples its whole child once before partitioning,
    // so sorting after the tile pass would evaluate it twice; every
    // operator above (projections, the 1-row explode barrier, the
    // nt>0 filter) is order-preserving
    planted
      .orderBy(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("nt", floor(size(col("ws")) / w).cast("int"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("nt").cast("long").as("n_tiles"),
        // dedup on tile TEXT first, md5 only the kept tiles — identical
        // key mapping (the oracle's h = md5(tile) grouping), one md5
        // per KEPT tile instead of one per tile
        explode(array(transform(array_distinct(transform(
          sequence(lit(0), col("nt") - 1),
          i => array_join(slice(col("ws"), i * w + 1, lit(w)), " "))),
          t => md5(t)))).as("kept"))
      .select(col("doc_id"), col("n_tiles"),
        size(col("kept")).cast("long").as("kept_tiles"),
        (col("n_tiles") - size(col("kept")).cast("long")).as("cut_tiles"),
        md5(array_join(col("kept"), " ")).as("kept_fp"))
  }

  val q129Sql: String =
    """WITH src AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' ' || text FROM documents),
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM src),
      |tiles AS (
      |  SELECT doc_id, i,
      |    md5(array_to_string(ws[(i*8+1):(i*8+8)], ' ')) AS h
      |  FROM w, unnest(range(CAST(floor(len(ws)/8) AS BIGINT))) AS t(i)
      |  WHERE floor(len(ws)/8) > 0),
      |f AS (
      |  SELECT doc_id, i, h,
      |    CASE WHEN i = min(i) OVER (PARTITION BY doc_id, h) THEN 1 ELSE 0 END AS kept
      |  FROM tiles)
      |SELECT doc_id, count(*) AS n_tiles,
      |  CAST(sum(kept) AS BIGINT) AS kept_tiles,
      |  CAST(count(*) - sum(kept) AS BIGINT) AS cut_tiles,
      |  md5(string_agg(CASE WHEN kept = 1 THEN h END, ' ' ORDER BY i)) AS kept_fp
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ===== q135 — asymmetric containment detection (tile grain) =============

  /** Directed containment C(A→B) = |tiles(A) ∩ tiles(B)| / |tiles(A)|
    * at distinct-8-word-tile grain, reported for every ordered pair
    * with C ≥ 0.5 — Broder's containment, the signal symmetric Jaccard
    * (q21/q26) structurally MISSES: a short excerpt inside a long
    * document has tiny Jaccard but containment 1. Planted excerpts
    * (doc_id + 1000000 = each doc's first-half words) have containment
    * exactly 1 in their source — a prefix's non-overlapping tiles are
    * a prefix of the full document's tiles.
    *
    * Scale shape: the pair generation is one equi-join on the tile
    * hash (md5-uniform shuffle keys, the q78/q84/q87 family) — pair
    * work is confined to tile-collision buckets, never all-pairs, and
    * only (id, hash) rows shuffle. A corpus-frequent boilerplate tile
    * widens its bucket; the documented lever is the q54 boilerplate
    * list as a stop-tile filter (and q81's heavy-hitter sketch at
    * stream time) — dropping tiles shared by > T docs bounds the
    * bucket width with negligible effect on ≥ 0.5 containment.
    */
  def q135Containment(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.union(
      docs.select((col("doc_id") + 1000000).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          floor(size(split(col("text"), " ")) / 2).cast("int")), " ").as("text")))
    val tiles = planted
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("nt", floor(size(col("ws")) / w).cast("int"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), col("nt") - 1)).as("i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("ws"), col("i") * w + 1, lit(w)), " ")).as("h"))
      .distinct()
      // eager checkpoint: the per-doc sizes and BOTH sides of the tile
      // self-join consume this relation (the q86 pattern — without it
      // the split + explode + md5 + distinct subtree runs three times)
      .transform(Materialize.pin)
    val na = tiles.groupBy(col("doc_id").as("id_a")).agg(count(lit(1)).as("n_a"))
    tiles.select(col("doc_id").as("id_a"), col("h"))
      .join(tiles.select(col("doc_id").as("id_b"), col("h")), "h")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(na, "id_a")
      .withColumn("containment_micro",
        floor(col("n_shared").cast("double") / col("n_a") * lit(1e6) + lit(0.5))
          .cast("long"))
      .filter(col("containment_micro") >= 500000)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("containment_micro"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q135Sql: String =
    """WITH src AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    array_to_string(ws[1:CAST(floor(len(ws)/2) AS BIGINT)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM src),
      |tiles AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(ws[(i*8+1):(i*8+8)], ' ')) AS h
      |  FROM w, unnest(range(CAST(floor(len(ws)/8) AS BIGINT))) AS t(i)
      |  WHERE floor(len(ws)/8) > 0),
      |na AS (SELECT doc_id AS id_a, count(*) AS n_a FROM tiles GROUP BY 1),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      |  FROM tiles a JOIN tiles b ON a.h = b.h AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, n_shared, n_a,
      |  CAST(floor(CAST(n_shared AS DOUBLE) / n_a * 1000000 + 0.5) AS BIGINT)
      |    AS containment_micro
      |FROM p JOIN na USING (id_a)
      |WHERE CAST(floor(CAST(n_shared AS DOUBLE) / n_a * 1000000 + 0.5) AS BIGINT)
      |  >= 500000
      |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q135_containment" -> (q135Containment _),
    "q150_full_curation" -> (q150FullCuration _),
    "q127_bigram_surprisal" -> (q127BigramSurprisal _),
    "q129_intra_doc_dedup" -> (q129IntraDocDedup _),
    "q112_robust_outliers" -> (q112RobustOutliers _),
    "q111_fuzzy_dedup" -> (q111FuzzyDedup _),
    "q87_dedup_cut" -> (q87DedupCut _),
    "q94_curation_cut_pipeline" -> (q94CurationCutPipeline _),
    "q89_decontaminate_cut" -> (q89DecontaminateCut _),
    "q76_cube_scorecard" -> (q76CubeScorecard _),
    "q164_grouping_sets" -> (q164GroupingSets _),
    "q77_unigram_surprisal" -> (q77UnigramSurprisal _),
    "q78_passage_dup_fraction" -> (q78PassageDupFraction _),
    "q79_event_anomalies" -> (q79EventAnomalies _),
    "q80_embedding_quantize" -> (q80EmbeddingQuantize _),
    "q81_frequent_tokens" -> (q81FrequentTokens _),
    "q84_duplicate_spans" -> (q84DuplicateSpans _),
    "q86_source_overlap" -> (q86SourceOverlap _))

  val oracleSql: Map[String, String] = Map(
    "q135_containment" -> q135Sql,
    "q150_full_curation" -> q150Sql,
    "q127_bigram_surprisal" -> q127Sql,
    "q129_intra_doc_dedup" -> q129Sql,
    "q112_robust_outliers" -> q112Sql,
    "q111_fuzzy_dedup" -> q111Sql,
    "q87_dedup_cut" -> q87Sql,
    "q94_curation_cut_pipeline" -> q94Sql,
    "q89_decontaminate_cut" -> q89Sql,
    "q76_cube_scorecard" -> q76Sql,
    "q164_grouping_sets" -> q164Sql,
    "q77_unigram_surprisal" -> q77Sql,
    "q78_passage_dup_fraction" -> q78Sql,
    "q79_event_anomalies" -> q79Sql,
    "q80_embedding_quantize" -> q80Sql,
    "q81_frequent_tokens" -> q81Sql,
    "q84_duplicate_spans" -> q84Sql,
    "q86_source_overlap" -> q86Sql)
}
