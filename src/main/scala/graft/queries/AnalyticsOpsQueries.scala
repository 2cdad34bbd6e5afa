package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Tables}
import graft.streaming.EventStream

/** Multidimensional-report and pipeline operators over the corpus and
  * event tables: rollup subtotals (q60), fixed-column pivots (q61),
  * per-entity time deltas (q62), quantile bucketing — exact ntile
  * anchor (q63) and its no-sort cut-point swap (q68) — snapshot
  * content-diff (q64), per-label embedding centroids (q69), native
  * session windows (q70), declared-schema JSON extraction (q71),
  * temperature-scaled language mixture (q72), and overlapping document
  * chunking (q73). All ten are DuckDB-oracled.
  *
  * Beyond-reference surface: the reference's reports are flat
  * one-level groupBys (`flows/gold.py:86-109`, `main.py:21-74`); these
  * add the OLAP shapes (ROLLUP / PIVOT / LAG / NTILE / EXCEPT-style
  * diff / SESSION) and curation steps the same tables need once they
  * feed a training-data pipeline.
  */
object AnalyticsOpsQueries {

  /** Rollup key columns coalesced to a sentinel so subtotal markers are
    * plain strings on both engines — sidesteps NULL-ordering and
    * NULL-vs-subtotal ambiguity in the gate's hash compare. The
    * `grouping()` flags still disambiguate a genuine "(all)" value.
    */
  private val AllSentinel = "(all)"

  // ===== q60 — rollup scorecard (source × lang subtotals) =================

  /** Document counts and size stats at every rollup level of
    * (source, lang): per (source, lang), per source, and grand total —
    * one pass, one operator. Spark's `rollup` plans a single Expand +
    * hash aggregate: each input row is replicated once per grouping
    * set map-side, then ONE shuffle aggregates all three levels
    * together — strictly cheaper at 100 TB than three separate
    * groupBys (three scans, three shuffles) and the idiomatic answer
    * to "subtotals without re-reading the fact table".
    */
  def q60RollupScorecard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    docs.rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        sum(col("n_chars")).as("total_chars"),
        grouping(col("source")).as("g_source"),
        grouping(col("lang")).as("g_lang"))
      .select(coalesce(col("source"), lit(AllSentinel)).as("source"),
        coalesce(col("lang"), lit(AllSentinel)).as("lang"),
        col("g_source"), col("g_lang"),
        col("n_docs"), col("avg_chars"), col("total_chars"))
      .orderBy(col("g_source"), col("g_lang"), col("source"), col("lang"))
  }

  val q60Sql: String =
    """SELECT coalesce(source, '(all)') AS source,
      |  coalesce(lang, '(all)') AS lang,
      |  CAST(GROUPING(source) AS TINYINT) AS g_source,
      |  CAST(GROUPING(lang) AS TINYINT) AS g_lang,
      |  count(*) AS n_docs,
      |  round(avg(n_chars), 6) AS avg_chars,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY ROLLUP(source, lang)
      |ORDER BY g_source, g_lang, 1, 2""".stripMargin

  // ===== q61 — pivoted length-class counts ================================

  /** Per-language document counts pivoted across fixed length classes
    * (short < 500 chars, medium < 2000, long otherwise) — the wide
    * report shape a mixture dashboard renders directly. The pivot
    * values are DECLARED (not discovered), which is the 100 TB rule:
    * an undeclared pivot runs an extra distinct-scan of the fact table
    * just to learn its own schema, and an unbounded value set makes
    * the row width data-dependent. With declared values Spark plans
    * one hash aggregate (pivot_first partials) — a single shuffle on
    * lang, no discovery pass.
    */
  def q61PivotLengthClasses(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .withColumn("len_class",
        when(col("n_chars") < 500, "short")
          .when(col("n_chars") < 2000, "medium")
          .otherwise("long"))
    docs.groupBy(col("lang"))
      .pivot("len_class", Seq("short", "medium", "long"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("short", "medium", "long"))
      .orderBy(col("lang"))
  }

  val q61Sql: String =
    """SELECT lang,
      |  count(CASE WHEN n_chars < 500 THEN 1 END) AS short,
      |  count(CASE WHEN n_chars >= 500 AND n_chars < 2000 THEN 1 END) AS medium,
      |  count(CASE WHEN n_chars >= 2000 THEN 1 END) AS long
      |FROM documents
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ===== q62 — per-user inter-event deltas (lag) ==========================

  /** Per-user inter-event-time statistics: gap = this event's timestamp
    * minus the previous one's (lag over (user, time, id)), then count /
    * mean / max of the gaps per user — the cadence signal that feeds
    * bot detection and session-timeout tuning. Timestamps are epoch-µs
    * on both sides (the q45–q50/q57 convention).
    *
    * Scale shape: ONE exchange on user_id feeds both the lag window
    * and the final aggregate (same key — Catalyst reuses the
    * partitioning, no second shuffle); window state is O(1) per row (a
    * single trailing value), never the group. Users are numerous and
    * individually small, so there is no skewed-partition hazard.
    */
  def q62EventDeltas(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.load(s, dir, "events")
      .withColumn("ts_us", unix_micros(EventStream.nanosToTs(col("ts"))))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap_us")), 6).as("avg_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy(col("user_id"))
  }

  val q62Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts), 1)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events)
      |SELECT user_id, count(*) AS n_gaps,
      |  round(avg(gap_us), 6) AS avg_gap_us, max(gap_us) AS max_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q211 — watermark / out-of-order-depth audit =======================

  /** How late does this stream actually arrive? The audit that sizes a
    * watermark BEFORE deploying the §2.9 streams: with `event_id` as
    * the arrival order (the monotone ingest sequence) and `ts` as
    * event time, an event is OUT OF ORDER when some earlier-arriving
    * event of the same user carries a later event time, and its
    * lateness is the gap to that running maximum. Per event type: how
    * many events, how many arrive out of order, and the worst lateness
    * — `withWatermark` set below the reported max silently drops data;
    * set far above it, state bloats. Integer µs arithmetic end-to-end
    * (the ts-nanos gotcha: truncate to µs Spark-side, `epoch_us` in
    * the oracle).
    *
    * Scale shape: ONE user-partitioned running-max window (state = one
    * value — never a global window), then one hash aggregate. The
    * same shape every CDC/session stream in `streaming/` already
    * plans.
    */
  def q211WatermarkAudit(s: SparkSession, dir: String): DataFrame = {
    val arrival = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(s, dir, "events")
      .withColumn("ts_us", unix_micros(EventStream.nanosToTs(col("ts"))))
      .withColumn("prev_max_us", max(col("ts_us")).over(arrival))
      .withColumn("lateness_us",
        when(col("prev_max_us") > col("ts_us"), col("prev_max_us") - col("ts_us"))
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("lateness_us") > 0, 1L).otherwise(0L)).as("n_out_of_order"),
        max(col("lateness_us")).as("max_lateness_us"),
        sum(col("lateness_us")).as("total_lateness_us"))
      .orderBy(col("event_type"))
  }

  val q211Sql: String =
    """WITH w AS (
      |  SELECT event_type, epoch_us(ts) AS ts_us,
      |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_us
      |  FROM events),
      |l AS (
      |  SELECT event_type,
      |    CASE WHEN prev_max_us > ts_us THEN prev_max_us - ts_us
      |         ELSE 0 END AS lateness_us
      |  FROM w)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_out_of_order,
      |  CAST(max(lateness_us) AS BIGINT) AS max_lateness_us,
      |  CAST(sum(lateness_us) AS BIGINT) AS total_lateness_us
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q63 — size-decile summary (ntile) ================================

  /** Corpus size deciles: every document assigned to one of 10
    * equal-count buckets by (n_chars, doc_id) — the doc_id tiebreak
    * makes the assignment total-ordered, so both engines cut the
    * deciles identically — then per-decile count and char-range. The
    * report a length-filter threshold is read off of.
    *
    * Scale shape: ntile over an unpartitioned window is the honest
    * cost of exact equal-count deciles, and it is a REAL single-node
    * funnel — Spark plans Exchange SinglePartition + Sort (and warns
    * so). That is exactly why q68 exists: same report from percentile
    * cut points with no window at all. This exact anchor stays as the
    * gate; q68 is the plan to run at 100 TB.
    */
  def q63SizeDeciles(s: SparkSession, dir: String): DataFrame = {
    val byChars = Window.orderBy(col("n_chars"), col("doc_id"))
    Tables.load(s, dir, "documents")
      .withColumn("decile", ntile(10).over(byChars))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("decile"))
  }

  val q63Sql: String =
    """WITH d AS (
      |  SELECT n_chars,
      |    CAST(NTILE(10) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS decile
      |  FROM documents)
      |SELECT decile, count(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q68 — value-cut decile buckets (no global sort) ==================

  /** q63's documented 100 TB swap, implemented: decile summaries from
    * percentile CUT POINTS instead of a global-sort ntile. One
    * aggregate computes the nine cut values, broadcast back as an
    * array; each row's bucket is `1 + |{cuts below it}|` — a codegen'd
    * higher-order filter over a 9-element array, pure map-side — then
    * one hash-agg shuffle on the bucket id. No global sort, no
    * single-partition window, no driver-side collect.
    *
    * Value-cut semantics (not equal-count): boundary ties share a
    * bucket, so counts are only approximately N/10 — the honest trade
    * against q63's exact equal-count anchor. The cuts here use the
    * exact `percentile` aggregate to stay oracle-comparable (DuckDB
    * `quantile_cont`, the q30 interpolation parity); at 100 TB swap
    * in `approx_percentile` cuts — the bucketing plan is unchanged.
    */
  def q68DecileBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val cuts = docs.agg(expr(
      "percentile(n_chars, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
      .as("qs"))
    docs.crossJoin(broadcast(cuts))
      .withColumn("decile", expr("1 + size(filter(qs, c -> n_chars > c))"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("decile"))
  }

  val q68Sql: String =
    """WITH c AS (
      |  SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      |  FROM documents),
      |b AS (
      |  SELECT CAST(1 + len(list_filter(c.qs, q -> d.n_chars > q)) AS INTEGER)
      |    AS decile, d.n_chars
      |  FROM documents d, c)
      |SELECT decile, count(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q64 — snapshot content diff (anti join) ==========================

  /** New-content detection between two corpus snapshots: snapshot A =
    * first 80% of doc ids, snapshot B = last 80% (60% overlap), and
    * the diff = B-docs whose md5(text) appears nowhere in A — the
    * incremental-crawl question ("which of today's documents are
    * actually new content?") answered by content, not by id, so
    * re-crawled copies of old pages are correctly excluded.
    *
    * Scale shape: a LEFT ANTI join on the content hash — one shuffle
    * on md5 for each side, no payload columns carried for A (Catalyst
    * prunes A to the hash column alone; the anti join emits B rows
    * untouched). At 100 TB A's hash set can also be a bloom-filter
    * pre-pass (`BloomFilterAggregate`) to cut the shuffle; the exact
    * anti join stays as the gate.
    */
  def q64SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val bounds = docs.agg(
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    // integer floor division (`div`): Column./ on longs is DOUBLE
    // division, which would put the cuts between ids while the oracle's
    // `//` floors them — a boundary id would then differ per engine
    val withCut = docs.crossJoin(broadcast(bounds))
      .withColumn("cut_a",
        col("lo") + call_function("div", (col("hi") - col("lo")) * 8, lit(10L)))
      .withColumn("cut_b",
        col("lo") + call_function("div", (col("hi") - col("lo")) * 2, lit(10L)))
    val snapA = withCut.filter(col("doc_id") <= col("cut_a"))
      .select(md5(col("text")).as("h"))
    val snapB = withCut.filter(col("doc_id") >= col("cut_b"))
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    snapB.join(snapA, Seq("h"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val q64Sql: String =
    """WITH bounds AS (
      |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      |cuts AS (
      |  SELECT lo + ((hi - lo) * 8) // 10 AS cut_a,
      |         lo + ((hi - lo) * 2) // 10 AS cut_b FROM bounds),
      |a AS (SELECT md5(text) AS h FROM documents, cuts WHERE doc_id <= cut_a),
      |b AS (SELECT doc_id, source, md5(text) AS h FROM documents, cuts
      |      WHERE doc_id >= cut_b)
      |SELECT b.doc_id, b.source FROM b
      |WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.h = b.h)
      |ORDER BY b.doc_id""".stripMargin

  // ===== q69 — per-label embedding centroids ==============================

  /** Element-wise mean embedding per label — the class-centroid
    * building block (IVF coarse quantizers, per-source semantic
    * profiles, cluster summaries all start here). Output is the flat
    * (label, pos, centroid component) form — gate-friendly and
    * directly joinable; reassembling arrays is one `collect_list`
    * away when a consumer wants vectors.
    *
    * Scale shape: `posexplode` is a codegen'd generate (dim× rows, no
    * shuffle), then ONE hash-agg shuffle on (label, pos) with
    * map-side partial sums — dim·|labels| final groups. Components
    * round to 6 decimals on both sides (the q20 float convention;
    * double summation order differs between engines at the last ulp).
    */
  def q69LabelCentroids(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("label"), (col("pos0") + 1).as("pos"))
      .agg(round(avg(col("v")), 6).as("centroid_r6"),
        count(lit(1)).as("n_vecs"))
      .orderBy(col("label"), col("pos"))
  }

  val q69Sql: String =
    """SELECT label, CAST(i AS INTEGER) AS pos,
      |  round(avg(CAST(v AS DOUBLE)), 6) AS centroid_r6,
      |  count(*) AS n_vecs
      |FROM (SELECT label, unnest(embedding) AS v,
      |        generate_subscripts(embedding, 1) AS i
      |      FROM embeddings)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ===== q70 — native session_window sessionization =======================

  /** q28's sessionization via Spark's NATIVE `session_window`
    * generator — the declarative form: no lag, no running sum, no
    * manual island arithmetic; the aggregate operator itself merges
    * events closer than the gap. Catalyst plans it as a single
    * session-aware aggregation (UpdatingSessionsExec + merge), and the
    * SAME expression under `withWatermark` is the streaming
    * sessionizer — the q14/q57 batch-twin pattern applied to sessions.
    *
    * Boundary: an event exactly `gap` after its predecessor MERGES —
    * sessions chain while `next.start <= prev.end` with
    * `end = ts + gap`, so the split rule is `diff > gap` (verified by
    * the exact-boundary case in AnalyticsOpsSpec; q28's manual chain
    * uses the same `>` rule). Session end is `last event + gap` (the
    * window's natural end), not the last event time — q28 reports
    * observed duration instead; both are kept deliberately.
    *
    * Scale shape: one exchange on user_id, per-partition session
    * merge; state per open session is O(1). At 100 TB this is the
    * operator to prefer over the q28 window chain — one aggregation
    * instead of two window passes plus an aggregate.
    */
  def q70SessionWindow(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events")
      .withColumn("ts_ev", EventStream.nanosToTs(col("ts")))
      .groupBy(session_window(col("ts_ev"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start"),
        unix_micros(col("session_window.end")).as("sess_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("sess_start"))
  }

  val q70Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts FROM events),
      |flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, ts,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |                      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, min(ts) AS sess_start,
      |  max(ts) + 1800000000 AS sess_end,
      |  count(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, sess_start""".stripMargin

  // ===== q71 — semi-structured JSON extraction ============================

  /** Schema-on-read over the `props` JSON column: `from_json` with a
    * DECLARED schema (`k LONG`) parses once into a typed struct —
    * codegen'd, null on malformed input (the engine's non-strict cast
    * posture applied to JSON) — then a plain typed aggregate per event
    * type. The declared schema is the 100 TB rule for the same reason
    * as q61's declared pivot values: schema inference over a JSON
    * column is an extra full scan, and a drifting inferred schema
    * changes the plan under the consumer's feet.
    *
    * Scale shape: parse is map-side inside whole-stage codegen, then
    * ONE hash-agg shuffle on event_type. Catalyst also prunes the
    * struct to the referenced field (JsonToStructs pushdown), so a
    * wider props schema would not widen the parse.
    */
  def q71JsonExtract(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events")
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 6).as("avg_k"))
      .orderBy(col("event_type"))
  }

  /** Null-safe restatement of Spark's `from_json(k LONG)` posture:
    * malformed JSON (TRY_CAST to JSON), a missing key, and a
    * non-integer value (json_type gate — Spark does NOT coerce "5" or
    * 6.9 to long) all null out instead of erroring the oracle.
    * DuckDB types EVERY non-negative JSON integer 'UBIGINT' (and only
    * negatives 'BIGINT'), so both must be admitted — but through
    * TRY_CAST, not CAST: a value in [2^63, 2^64) is a valid UBIGINT
    * that cannot fit a BIGINT, and a hard CAST would throw the oracle
    * where Spark's from_json nulls the row. TRY_CAST shares Spark's
    * overflow-to-null posture.
    */
  val q71Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CASE WHEN json_type(TRY_CAST(props AS JSON), '$.k') IN ('BIGINT','UBIGINT')
      |         THEN TRY_CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS BIGINT)
      |    END AS k
      |  FROM events)
      |SELECT event_type,
      |  count(k) AS n_with_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  round(avg(k), 6) AS avg_k
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q72 — temperature-scaled language mixture ========================

  /** The canonical multilingual rebalancing rule: sample language i
    * with probability ∝ n_i^α (α = 0.5 here) — low-resource languages
    * upweighted relative to their natural share, the exact scheme
    * multilingual training mixes use. Selection is content-keyed
    * (md5 bucket, the q37/q42/q55 determinism source): doc kept iff
    * `bucket/256 < keep_rate_i` where `keep_rate_i = min(1,
    * N·w_i / n_i)` and `w_i = n_i^α / Σ_j n_j^α` — reruns and engines
    * agree because no RNG is involved.
    *
    * Float caveat (q33-style precondition): both engines derive
    * keep_rate from the same integer aggregates with IEEE double
    * math; a doc flips only if its integer bucket/256 lands within
    * one ulp of a rate — impossible unless a rate is within ~1e-16 of
    * a multiple of 1/256, which integer-count-derived rates are not
    * at gate scale.
    *
    * Scale shape: language counts are a tiny aggregate broadcast
    * back; the keep decision is a map-side filter — the corpus is
    * never shuffled (q55's shape with a temperature-weighted rate).
    */
  def q72TemperatureMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val weights = counts
      .crossJoin(broadcast(counts.agg(
        sum(sqrt(col("n_lang"))).as("z"),
        sum(col("n_lang")).as("n_total"))))
      .withColumn("keep_rate",
        least(lit(1.0), col("n_total") * sqrt(col("n_lang")) / col("z") / col("n_lang")))
    docs.select(col("doc_id"), col("lang"), PipelineQueries.md5Bucket.as("bucket"))
      .join(broadcast(weights.select(col("lang"), col("keep_rate"))), "lang")
      .filter(col("bucket") / 256.0 < col("keep_rate"))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  val q72Sql: String =
    """WITH n AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
      |t AS (SELECT sum(sqrt(n_lang)) AS z, CAST(sum(n_lang) AS BIGINT) AS n_total FROM n),
      |w AS (SELECT lang, least(1.0, n_total * sqrt(n_lang) / z / n_lang) AS keep_rate
      |      FROM n, t),
      |b AS (
      |  SELECT doc_id, lang,
      |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
      |    + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS bucket
      |  FROM documents)
      |SELECT b.doc_id, b.lang, b.bucket
      |FROM b JOIN w USING (lang)
      |WHERE b.bucket / 256.0 < w.keep_rate
      |ORDER BY doc_id""".stripMargin

  // ===== q92 — temperature EPOCH materialization ==========================

  /** q72 generalized from keep/drop to fractional REPETITION — the
    * upsampling half of temperature mixing (Raffel et al. 2020's
    * T5-style α=0.5 rates, uncapped): rare languages get r > 1 and are
    * repeated, common ones r < 1 and are subsampled, materialized as
    * one output row per (doc, copy). copies = ⌊r⌋ + 1 extra iff the
    * doc's content-keyed md5 bucket lands under frac(r)·256 — the
    * SAME no-RNG bucket as q37/q55/q72, so reruns, engines, and
    * duplicate content all agree, and expected per-lang volume is
    * n_lang·r exactly. This is the step that turns mixture weights
    * into an actual training set ("epochs" per source).
    *
    * Float caveat: shares q72's precondition argument — both engines
    * derive r from the same integer aggregates with IEEE double math
    * (z's sum order over the handful of per-lang sqrt terms included),
    * and a doc flips only if bucket/256 lands within one ulp of
    * frac(r), or ⌊r⌋ within one ulp of an integer — integer-count-
    * derived rates are nowhere near either at gate scale.
    *
    * Scale shape: per-lang weights are a tiny broadcast; the copy
    * decision is a map-side projection and the explode is linear in
    * OUTPUT rows — the corpus never shuffles (the materialized epochs
    * stream straight to the training-set writer).
    */
  def q92EpochMaterialize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val weights = counts
      .crossJoin(broadcast(counts.agg(
        sum(sqrt(col("n_lang"))).as("z"),
        sum(col("n_lang")).as("n_total"))))
      .withColumn("r",
        col("n_total") * sqrt(col("n_lang")) / col("z") / col("n_lang"))
    docs.select(col("doc_id"), col("lang"), PipelineQueries.md5Bucket.as("bucket"))
      .join(broadcast(weights.select(col("lang"), col("r"))), "lang")
      .withColumn("n_copies",
        floor(col("r")).cast("long") +
          when(col("bucket") / 256.0 < col("r") - floor(col("r")), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  val q92Sql: String =
    """WITH n AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
      |t AS (SELECT sum(sqrt(n_lang)) AS z, CAST(sum(n_lang) AS BIGINT) AS n_total FROM n),
      |w AS (SELECT lang, n_total * sqrt(n_lang) / z / n_lang AS r FROM n, t),
      |b AS (
      |  SELECT doc_id, lang,
      |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
      |    + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS bucket
      |  FROM documents),
      |c AS (
      |  SELECT b.doc_id, b.lang,
      |    CAST(floor(r) AS BIGINT)
      |      + CASE WHEN b.bucket / 256.0 < r - floor(r) THEN 1 ELSE 0 END AS n_copies
      |  FROM b JOIN w USING (lang))
      |SELECT doc_id, lang, CAST(u AS BIGINT) AS copy_idx
      |FROM c, unnest(range(n_copies)) AS t(u)
      |ORDER BY doc_id, copy_idx""".stripMargin

  // ===== q73 — overlapping document chunking ==============================

  /** Split every document into fixed-size character windows with
    * overlap (500-char chunks, 100-char stride overlap → step 400) —
    * the chunker in front of every embedding/RAG indexing pipeline
    * and long-document pretraining split. Chunk starts are
    * `0, 400, 800, …` while a start strictly inside the text; a doc
    * shorter than one chunk yields exactly one chunk. Chunks carry
    * their md5 so downstream dedup (q19's shape) works at chunk
    * grain.
    *
    * Scale shape: `sequence` + `explode` is a codegen'd generate —
    * ~len/400 rows per doc, no shuffle anywhere in the operator (the
    * gate's orderBy is presentation only). Substring on the already-
    * loaded text column costs no extra scan.
    */
  def q73DocChunks(s: SparkSession, dir: String): DataFrame = {
    val size = 500
    val step = 400
    Tables.load(s, dir, "documents")
      .withColumn("len", length(col("text")))
      .withColumn("start",
        explode(sequence(lit(0), greatest(col("len") - 1, lit(0)), lit(step))))
      .select(col("doc_id"),
        (col("start") / step).cast("int").as("chunk_idx"),
        length(substring(col("text"), col("start") + 1, lit(size))).as("chunk_len"),
        md5(substring(col("text"), col("start") + 1, lit(size))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val q73Sql: String =
    """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
      |starts AS (
      |  SELECT doc_id, text, len,
      |    unnest(range(0, greatest(len, 1), 400)) AS start
      |  FROM d)
      |SELECT doc_id,
      |  CAST(start // 400 AS INTEGER) AS chunk_idx,
      |  CAST(length(substr(text, start + 1, 500)) AS INTEGER) AS chunk_len,
      |  md5(substr(text, start + 1, 500)) AS chunk_md5
      |FROM starts
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ========================================================================

  // ===== q97 — declarative data-integrity audit ===========================

  /** The post-load validation gate ([[graft.quality.IntegrityChecks]]):
    * FK-orphan, row-constraint, and key-uniqueness checks over the
    * star schema, reduced to one `(check_name, n_violations,
    * n_checked)` row each — the report a scheduler gates a promotion
    * on. Every check is a single scan + hash aggregate (referential
    * adds one equi-join against the distinct parent PK column), all
    * same-table row constraints are FUSED into one scan
    * ([[graft.quality.IntegrityChecks.predicates]]), and each scan
    * reads only the checked columns (columnar pruning); the audit
    * output is O(#checks) rows.
    */
  def q97IntegrityAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.IntegrityChecks._
    val li = Tables.load(s, dir, "lineitem")
    val ord = Tables.load(s, dir, "orders")
    val cust = Tables.load(s, dir, "customer")
    val part = Tables.load(s, dir, "part")
    audit(Seq(
      referential(li, "l_orderkey", ord, "o_orderkey", "li_orphan_orderkey"),
      referential(li, "l_partkey", part, "p_partkey", "li_orphan_partkey"),
      referential(ord, "o_custkey", cust, "c_custkey", "ord_orphan_custkey"),
      predicates(li, Seq(
        "li_nonpositive_qty" -> (col("l_quantity") <= 0),
        "li_discount_range" -> (col("l_discount") < 0 || col("l_discount") > 1))),
      predicate(ord, col("o_totalprice") <= 0, "ord_nonpositive_total"),
      uniqueKey(ord, "o_orderkey", "ord_unique_orderkey")))
  }

  val q97Sql: String =
    """SELECT 'li_orphan_orderkey' AS check_name,
      |  count(CASE WHEN p.__hit IS NULL THEN 1 END) AS n_violations,
      |  count(*) AS n_checked
      |FROM lineitem c LEFT JOIN
      |  (SELECT DISTINCT o_orderkey AS __k, 1 AS __hit FROM orders) p
      |  ON c.l_orderkey = p.__k
      |UNION ALL
      |SELECT 'li_orphan_partkey',
      |  count(CASE WHEN p.__hit IS NULL THEN 1 END), count(*)
      |FROM lineitem c LEFT JOIN
      |  (SELECT DISTINCT p_partkey AS __k, 1 AS __hit FROM part) p
      |  ON c.l_partkey = p.__k
      |UNION ALL
      |SELECT 'ord_orphan_custkey',
      |  count(CASE WHEN p.__hit IS NULL THEN 1 END), count(*)
      |FROM orders c LEFT JOIN
      |  (SELECT DISTINCT c_custkey AS __k, 1 AS __hit FROM customer) p
      |  ON c.o_custkey = p.__k
      |UNION ALL
      |SELECT 'li_nonpositive_qty',
      |  count(CASE WHEN l_quantity <= 0 THEN 1 END), count(*) FROM lineitem
      |UNION ALL
      |SELECT 'li_discount_range',
      |  count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END), count(*)
      |FROM lineitem
      |UNION ALL
      |SELECT 'ord_nonpositive_total',
      |  count(CASE WHEN o_totalprice <= 0 THEN 1 END), count(*) FROM orders
      |UNION ALL
      |SELECT 'ord_unique_orderkey',
      |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT),
      |  CAST(sum(n) AS BIGINT)
      |FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
      |ORDER BY check_name""".stripMargin

  // ===== q101 — SCD2 dimension merge ======================================

  /** Slowly-changing-dimension (type 2) MERGE without a table format:
    * apply a change batch — deterministically derived from the
    * snapshot so the gate needs no extra input: every key ≡ 0 (mod 10)
    * re-segments (`CHG-` prefix), every key ≡ 7 (mod 25) arrives as a
    * brand-new key — to the customer dimension, emitting versioned
    * history rows. Unchanged keys stay open at version 1; changed keys
    * close their v1 row (valid_to = 2) and open a v2 row; inserts open
    * at v2; a no-op update (same value) is recognized and leaves the
    * v1 row open — the full MERGE decomposition every table format
    * runs under the hood, which the reference's overwrite-only flows
    * cannot express. This is the oracled call-site for
    * [[graft.relational.Scd2.merge]].
    *
    * Scale shape: one full-outer equi-join on the key + a linear
    * 3-branch union; no windows, no skew surface beyond the key join.
    */
  def q101ScdMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.relational.Scd2
    val cur = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_mktsegment").as("segment"))
    val changes = cur.filter(col("key") % 10 === 0)
      .select(col("key"), concat(lit("CHG-"), col("segment")).as("segment"))
      .union(cur.filter(col("key") % 25 === 7)
        .select((col("key") + 1000000).as("key"), lit("NEW").as("segment")))
    Scd2.merge(Scd2.init(cur, "key", "segment", version = 1),
        changes, "key", "segment", version = 2)
      .orderBy(col("key"), col("valid_from"))
  }

  val q101Sql: String =
    """WITH cur AS (SELECT c_custkey AS key, c_mktsegment AS segment FROM customer),
      |chg AS (
      |  SELECT key, 'CHG-' || segment AS segment FROM cur WHERE key % 10 = 0
      |  UNION ALL
      |  SELECT key + 1000000, 'NEW' FROM cur WHERE key % 25 = 7),
      |j AS (
      |  SELECT coalesce(c.key, n.key) AS key, c.segment AS old_seg, n.segment AS new_seg
      |  FROM cur c FULL OUTER JOIN chg n ON c.key = n.key)
      |SELECT key, old_seg AS segment, 1 AS valid_from, CAST(NULL AS INTEGER) AS valid_to
      |FROM j WHERE old_seg IS NOT NULL AND (new_seg IS NULL OR new_seg = old_seg)
      |UNION ALL
      |SELECT key, old_seg, 1, 2
      |FROM j WHERE old_seg IS NOT NULL AND new_seg IS NOT NULL AND new_seg <> old_seg
      |UNION ALL
      |SELECT key, new_seg, 2, NULL
      |FROM j WHERE new_seg IS NOT NULL AND (old_seg IS NULL OR new_seg <> old_seg)
      |ORDER BY key, valid_from""".stripMargin

  // ===== q133 — SCD2 point-in-time lookup (time travel) ===================

  /** Time-travel read over the q101 SCD2 history: the full table state
    * AS OF version 1 and AS OF version 2, reconstructed from the
    * versioned interval rows — the query surface a real table format
    * serves with snapshots, expressed against the engine's own history
    * rows (the declared Iceberg-gap fallback, SURVEY §2.1). A history
    * row is visible at `as_of` iff valid_from ≤ as_of < valid_to
    * (open rows: valid_to NULL).
    *
    * Scale shape: ONE pass over the history — the as-of axis explodes
    * from a 2-element literal array (×2 fanout, no join, no window),
    * then the interval predicate filters map-side. K snapshots cost K×
    * fanout of one scan, never K scans; the final sort is the
    * verification-output convention.
    */
  def q133TimeTravelLookup(s: SparkSession, dir: String): DataFrame =
    q101ScdMerge(s, dir)
      .select(col("key"), col("segment"), col("valid_from"), col("valid_to"),
        explode(array(lit(1), lit(2))).as("as_of"))
      .filter(col("valid_from") <= col("as_of")
        && (col("valid_to").isNull || col("valid_to") > col("as_of")))
      .select(col("as_of"), col("key"), col("segment"))
      .orderBy(col("as_of"), col("key"))

  val q133Sql: String =
    """WITH cur AS (SELECT c_custkey AS key, c_mktsegment AS segment FROM customer),
      |chg AS (
      |  SELECT key, 'CHG-' || segment AS segment FROM cur WHERE key % 10 = 0
      |  UNION ALL
      |  SELECT key + 1000000, 'NEW' FROM cur WHERE key % 25 = 7),
      |j AS (
      |  SELECT coalesce(c.key, n.key) AS key, c.segment AS old_seg, n.segment AS new_seg
      |  FROM cur c FULL OUTER JOIN chg n ON c.key = n.key),
      |h AS (
      |  SELECT key, old_seg AS segment, 1 AS valid_from, CAST(NULL AS INTEGER) AS valid_to
      |  FROM j WHERE old_seg IS NOT NULL AND (new_seg IS NULL OR new_seg = old_seg)
      |  UNION ALL
      |  SELECT key, old_seg, 1, 2
      |  FROM j WHERE old_seg IS NOT NULL AND new_seg IS NOT NULL AND new_seg <> old_seg
      |  UNION ALL
      |  SELECT key, new_seg, 2, NULL
      |  FROM j WHERE new_seg IS NOT NULL AND (old_seg IS NULL OR new_seg <> old_seg))
      |SELECT t.as_of, key, segment
      |FROM h, (VALUES (1), (2)) AS t(as_of)
      |WHERE valid_from <= t.as_of AND (valid_to IS NULL OR valid_to > t.as_of)
      |ORDER BY t.as_of, key""".stripMargin

  // ===== q134 — snapshot CDC: insert/update/delete classification =========

  /** Change-data-capture between two document snapshots: the delta
    * stream a downstream incremental consumer replays. Snapshot B is
    * derived deterministically from A (doc_id ≡ 0 mod 7 deleted,
    * ≡ 0 mod 5 text-rewritten, fresh ids appended at +1000000), and
    * the query emits one (op, doc_id, fp) row per CHANGED key —
    * op ∈ {D, I, U} — with unchanged keys suppressed. Content equality
    * is by md5 fingerprint, so only (id, 32-byte fp) pairs ever
    * shuffle, never document bodies (the q64 discipline); this is the
    * MERGE-source shape q101's SCD2 and q133's time travel consume.
    *
    * Scale shape: one full-outer equi-join on doc_id + a map-side
    * 3-way CASE — no windows, no skew surface beyond the uniform key.
    */
  def q134SnapshotCdc(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.load(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp_a"))
    val docs = Tables.load(s, dir, "documents")
    val b = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 5 === 0, concat(lit("rev2 "), col("text")))
          .otherwise(col("text"))).as("fp_b"))
      .union(docs.select((col("doc_id") + 1000000).as("doc_id"),
        md5(concat(lit("new "), col("text"))).as("fp_b")))
    a.join(b, Seq("doc_id"), "full_outer")
      .filter(col("fp_a").isNull || col("fp_b").isNull || col("fp_a") =!= col("fp_b"))
      .select(
        when(col("fp_b").isNull, lit("D"))
          .when(col("fp_a").isNull, lit("I"))
          .otherwise(lit("U")).as("op"),
        col("doc_id"), coalesce(col("fp_b"), col("fp_a")).as("fp"))
      .orderBy(col("op"), col("doc_id"))
  }

  val q134Sql: String =
    """WITH a AS (SELECT doc_id, md5(text) AS fp_a FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN 'rev2 ' || text ELSE text END) AS fp_b
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, md5('new ' || text) FROM documents),
      |j AS (
      |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, fp_a, fp_b
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT CASE WHEN fp_b IS NULL THEN 'D'
      |            WHEN fp_a IS NULL THEN 'I' ELSE 'U' END AS op,
      |  doc_id, coalesce(fp_b, fp_a) AS fp
      |FROM j
      |WHERE fp_a IS NULL OR fp_b IS NULL OR fp_a <> fp_b
      |ORDER BY op, doc_id""".stripMargin

  // ===== q151 — unpivot/melt: wide measures to long (key, value) rows =====

  /** The inverse of q61's pivot: `unpivot` (Spark's melt) turns the
    * per-returnflag wide measure row (sum_qty, sum_price, n_rows) into
    * long (measure, value) rows — the reshape every metrics store and
    * plotting layer wants, covered here as a first-class API surface
    * with a DuckDB UNPIVOT oracle. Measures are exact integer cents
    * (the q110 discipline) so the reshape carries no float.
    *
    * Scale shape: the wide input is group-count-sized (one row per
    * returnflag); unpivot is a zero-shuffle row-local Expand — the
    * fact table is aggregated BEFORE reshaping, never melted raw
    * (melting 100 TB of raw rows triples the volume for nothing).
    */
  def q151UnpivotMeasures(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(expr("cast(floor(l_quantity * 100 + 0.5) as bigint)")).as("sum_qty_cents"),
        sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
          .as("sum_price_cents"),
        count(lit(1)).as("n_rows"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("sum_qty_cents"), col("sum_price_cents"), col("n_rows")),
        variableColumnName = "measure",
        valueColumnName = "value")
      .orderBy(col("l_returnflag"), col("measure"))

  val q151Sql: String =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS sum_qty_cents,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS sum_price_cents,
      |    count(*) AS n_rows
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, measure, value
      |FROM w UNPIVOT (value FOR measure IN (sum_qty_cents, sum_price_cents, n_rows))
      |ORDER BY l_returnflag, measure""".stripMargin

  // ===== q152 — set operations: snapshot content algebra ==================

  /** Distinct set algebra over content fingerprints — `intersect` and
    * `except` as first-class surfaces (q64's anti-join diff answers
    * "what's new"; these answer "what's SHARED" and "what VANISHED"
    * with set semantics, dedup included). Snapshots are q64's: A =
    * first 80% of doc ids, B = last 80%. One summary row: |A|, |B|,
    * |A∩B|, |A\B|, |B\A| — and the inclusion–exclusion identity
    * |A| = |A∩B| + |A\B| holds exactly by construction, which the
    * spec pins.
    *
    * Scale shape: INTERSECT/EXCEPT plan as left-semi/anti hash joins
    * on the fingerprint after per-side distincts — hash-partitioned,
    * no sort; only 32-byte hashes ever shuffle.
    */
  def q152SetOps(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val n = docs.agg(max(col("doc_id"))).head().getLong(0)
    val a = docs.filter(col("doc_id") <= n * 8 / 10).select(md5(col("text")).as("fp")).distinct()
    val b = docs.filter(col("doc_id") > n * 2 / 10).select(md5(col("text")).as("fp")).distinct()
    val counts = Seq(
      ("n_a", a), ("n_b", b),
      ("n_shared", a.intersect(b)),
      ("n_only_a", a.except(b)),
      ("n_only_b", b.except(a)))
    counts.map { case (name, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(name).as("set_name"), col("n"))
      }
      .reduce(_.union(_))
      .orderBy(col("set_name"))
  }

  val q152Sql: String =
    """WITH n AS (SELECT max(doc_id) AS m FROM documents),
      |a AS (SELECT DISTINCT md5(text) AS fp FROM documents, n WHERE doc_id <= m * 8 // 10),
      |b AS (SELECT DISTINCT md5(text) AS fp FROM documents, n WHERE doc_id > m * 2 // 10)
      |SELECT 'n_a' AS set_name, count(*) AS n FROM a
      |UNION ALL SELECT 'n_b', count(*) FROM b
      |UNION ALL SELECT 'n_shared', count(*) FROM (SELECT fp FROM a INTERSECT SELECT fp FROM b)
      |UNION ALL SELECT 'n_only_a', count(*) FROM (SELECT fp FROM a EXCEPT SELECT fp FROM b)
      |UNION ALL SELECT 'n_only_b', count(*) FROM (SELECT fp FROM b EXCEPT SELECT fp FROM a)
      |ORDER BY set_name""".stripMargin

  // ===== q157 — centered moving average (smoothing window) ================

  /** Daily event-count series smoothed with a CENTERED ±3-day moving
    * average — the `ROWS BETWEEN k PRECEDING AND k FOLLOWING` frame
    * the window family still lacked (q109 trails, q119 slides by
    * fanout; smoothing looks both ways). The mean is
    * micro-quantized from exact integer (sum, count) frame aggregates,
    * and the true window width rides along so edges are honest (a
    * series edge averages fewer days — visible, not hidden).
    *
    * Scale shape: the raw stream collapses to day grain first (the
    * q119 reducer); the centered frame then runs over the tiny daily
    * relation. Single exchange, bounded frame state.
    */
  def q157MovingAverage(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .groupBy(expr("(ts div 1000) div 86400000000L").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val frame = Window.orderBy(col("day")).rowsBetween(-3, 3)
    daily
      .withColumn("w_sum", sum(col("n_events")).over(frame))
      .withColumn("w_n", count(lit(1)).over(frame))
      .select(col("day"), col("n_events"), col("w_n"),
        (floor(col("w_sum").cast("double") * lit(1e6) / col("w_n") + lit(0.5))
          / lit(1e6)).as("ma7_r6"))
      .orderBy(col("day"))
  }

  val q157Sql: String =
    """WITH d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT day, n_events,
      |  count(*) OVER w AS w_n,
      |  floor(CAST(sum(n_events) OVER w AS DOUBLE) * 1000000
      |    / count(*) OVER w + 0.5) / 1000000 AS ma7_r6
      |FROM d
      |WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |ORDER BY day""".stripMargin

  // ===== q158 — tokenizer fertility report ================================

  /** Per-language tokenizer fertility: BPE-estimate tokens divided by
    * whitespace words (micro), over exact integer sums — the number a
    * tokenizer choice is judged by (fertility ≫ 1 for a language means
    * its text costs that many times more sequence length). Uses q16's
    * two token counters at corpus grain.
    *
    * Scale shape: both counters are map-side codegen'd regex counts;
    * one |langs|-sized hash aggregate. One pass.
    */
  def q158TokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.text.TextFunctions.tokenCount(col("text")).cast("long"))
          .as("ws_tokens"),
        sum(graft.text.TextFunctions.bpeTokenEstimate(col("text")).cast("long"))
          .as("bpe_tokens"))
      .withColumn("fertility_micro",
        expr("(bpe_tokens * 1000000) div ws_tokens"))
      .orderBy(col("lang"))

  val q158Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |    t -> t <> ''))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))
      |    AS BIGINT) AS bpe_tokens,
      |  (CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))
      |    AS BIGINT) * 1000000)
      |    // CAST(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      t -> t <> ''))) AS BIGINT) AS fertility_micro
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q143 — weekly growth accounting ==================================

  /** The growth-accounting identity every product review reads:
    * per epoch-week, active users decomposed into NEW (first week),
    * RETAINED (also active the previous week) and RESURRECTED (active
    * before, skipped last week), plus CHURNED (active last week, gone
    * this week) — by construction n_active = new + retained +
    * resurrected, and week-over-week deltas reconcile through churn.
    * q103 answers "how do cohorts decay", this answers "where did this
    * week's actives come from"; both share the epoch-week integer
    * bucket so no calendar/timezone drift can split them.
    *
    * Scale shape: the raw stream collapses FIRST to distinct
    * (user, week) — the 10⁶× reducer — then everything is user-keyed
    * equi-joins on that deduped grain (first-week, previous-week
    * shift, churn anti-join) and one week-keyed count; nothing wider
    * than the user id ever shuffles.
    */
  def q143GrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val week = 604800000000L // 7 days in µs
    val wk = Tables.load(s, dir, "events")
      .select(col("user_id"), expr(s"(ts div 1000) div ${week}L").as("w"))
      .distinct()
    val first = wk.groupBy(col("user_id")).agg(min(col("w")).as("fw"))
    val prev = wk.select(col("user_id"), (col("w") + 1).as("w"), lit(1).as("prev"))
    val classified = wk.join(first, "user_id").join(prev, Seq("user_id", "w"), "left")
      .select(col("w"),
        when(col("w") === col("fw"), "new")
          .when(col("prev").isNotNull, "retained")
          .otherwise("resurrected").as("cls"))
    val act = classified.groupBy(col("w"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val churn = prev.select(col("user_id"), col("w"))
      .join(wk, Seq("user_id", "w"), "left_anti")
      .join(wk.select(col("w")).distinct(), Seq("w"), "left_semi")
      .groupBy(col("w")).agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("w"), "left")
      .select(col("w").as("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("week"))
  }

  val q143Sql: String =
    """WITH wk AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w FROM events),
      |f AS (SELECT user_id, min(w) AS fw FROM wk GROUP BY 1),
      |p AS (SELECT user_id, w + 1 AS w, 1 AS prev FROM wk),
      |cls AS (
      |  SELECT wk.w,
      |    CASE WHEN wk.w = f.fw THEN 'new'
      |         WHEN p.prev IS NOT NULL THEN 'retained'
      |         ELSE 'resurrected' END AS cls
      |  FROM wk JOIN f USING (user_id)
      |  LEFT JOIN p ON wk.user_id = p.user_id AND wk.w = p.w),
      |act AS (
      |  SELECT w, count(*) AS n_active,
      |    CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM cls GROUP BY 1),
      |ch AS (
      |  SELECT p.w, count(*) AS n_churned
      |  FROM p
      |  WHERE NOT EXISTS (SELECT 1 FROM wk WHERE wk.user_id = p.user_id AND wk.w = p.w)
      |    AND EXISTS (SELECT 1 FROM wk w2 WHERE w2.w = p.w)
      |  GROUP BY 1)
      |SELECT act.w AS week, n_active, n_new, n_retained, n_resurrected,
      |  coalesce(ch.n_churned, 0) AS n_churned
      |FROM act LEFT JOIN ch ON act.w = ch.w
      |ORDER BY week""".stripMargin

  // ===== q103 — weekly retention cohorts ==================================

  /** The retention triangle every product team reads: users cohorted
    * by the epoch-week of their FIRST event, then for each (cohort,
    * week-offset) the distinct users still active — plus cohort size
    * and retention in integer basis points (`div`, no float rate to
    * diverge between engines). Weeks are epoch-µs integer buckets, so
    * both engines bucket identically.
    *
    * Scale shape: one distinct-(user, week) aggregate, one per-user
    * min (both map-side partial first), one user-keyed equi-join, one
    * (cohort, offset) count-distinct, and a broadcast-sized cohort
    * join — nothing wider than the user key ever shuffles.
    */
  def q103RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val week = 604800000000L // 7 days in µs
    val wk = Tables.load(s, dir, "events")
      .select(col("user_id"), expr(s"(ts div 1000) div ${week}L").as("w"))
      .distinct()
    val cohort = wk.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
    val sizes = cohort.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
    wk.join(cohort, "user_id")
      .groupBy(col("cw"), (col("w") - col("cw")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), "cw")
      .select(col("cw").as("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        expr("(n_active * 10000) div cohort_size").as("retention_bps"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q103Sql: String =
    """WITH wk AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w FROM events),
      |c AS (SELECT user_id, min(w) AS cw FROM wk GROUP BY 1),
      |sz AS (SELECT cw, count(*) AS cohort_size FROM c GROUP BY 1),
      |a AS (
      |  SELECT c.cw, wk.w - c.cw AS week_offset, count(DISTINCT wk.user_id) AS n_active
      |  FROM wk JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT a.cw AS cohort_week, a.week_offset, a.n_active, sz.cohort_size,
      |  (a.n_active * 10000) // sz.cohort_size AS retention_bps
      |FROM a JOIN sz USING (cw)
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ===== q108 — incremental retention from persisted HLL sketches =========

  /** q103's retention triangle at the scale where exact count-distinct
    * is unaffordable: per-(cohort, week, DAY) HyperLogLog sketches of
    * the active-user set persist once under [[graft.core.Warehouse]]
    * (a few KB per cell), and the weekly retention question MERGES the
    * stored daily sketches (`hll_union_agg`) instead of rescanning
    * events — the q53 daily-rollup pattern lifted to cohorts. HLL
    * union is lossless over sketches, so merging the seven daily
    * active-sets equals sketching the weekly set directly; at this
    * corpus's per-cell cardinalities (≪ 2^12 registers) the estimate
    * is EXACT, and WarehouseOpsSpec pins q108 ≡ q103 cell-for-cell
    * plus the probe plan never touching the raw events table.
    * Deterministic but engine-specific — rows-only at the gate (the
    * q52/q53 argument; q103 is the exact oracled anchor).
    */
  def q108RetentionSketches(s: SparkSession, dir: String): DataFrame = {
    val week = 604800000000L
    val day = 86400000000L
    val idx = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "retention_hll", s"$dir/events.parquet",
        params = "lgk=12,grain=day,v=1")) { d =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      val cohort = ev.select(col("user_id"), expr(s"ts_us div ${week}L").as("w"))
        .groupBy(col("user_id")).agg(min(col("w")).as("cw"))
      ev.join(cohort, "user_id")
        .groupBy(col("cw"), expr(s"ts_us div ${week}L").as("w"),
          expr(s"ts_us div ${day}L").as("day"))
        .agg(hll_sketch_agg(col("user_id"), lgConfigK = 12).as("sketch"))
        .write.mode("overwrite").parquet(d)
    }
    s.read.parquet(idx)
      .groupBy(col("cw").as("cohort_week"), (col("w") - col("cw")).as("week_offset"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sketch"), allowDifferentLgConfigK = false))
        .as("n_active_est"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  // ===== q105 — salted two-phase rollup over hot keys =====================

  /** The oracled call-site for [[graft.core.Skew.saltedSum]]: the
    * events table has only 5 event types, so at 100 TB each group key
    * is a hot key AQE cannot split (skew-join splitting does not apply
    * to hash-agg groups). The salted two-phase shape aggregates on
    * (key, salt) first — spreading each hot group over 16 reducers —
    * then merges partials. Values are micro-quantized to integers
    * BEFORE summing, so the result is bit-equal to the plain group-by
    * for ANY salt assignment (the salt never leaks into the result —
    * that is the property the oracle checks).
    */
  def q105SaltedRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("vq6"))
    graft.core.Skew.saltedSum(ev, "event_type", "vq6", salt = 16)
      .select(col("event_type"), col("sum_vq6"), col("count").as("n_rows"))
      .orderBy(col("event_type"))
  }

  val q105Sql: String =
    """SELECT event_type,
      |  CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vq6,
      |  count(*) AS n_rows
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q110 — correlation / regression profile (exact co-moments) =======

  /** Per-returnflag correlation and least-squares fit of extendedprice
    * against quantity — the "does this numeric pair carry signal"
    * profile a feature-engineering pass runs before training. The
    * distributed-exactness trick is the point: both columns are
    * 2-decimal fixed-point, so they micro-quantize to EXACT integer
    * cents and the five co-moment sums (Σx Σy Σx² Σy² Σxy) accumulate
    * in decimal(38,0) — integer-exact, order-independent, map-side
    * combinable. corr/slope/intercept/R² then derive from the five
    * sums in closed form, so both engines compute identical doubles
    * from identical exact integers — no streaming-variance formula,
    * no accumulation-order drift, bit-stable at ANY partition count.
    * That is also the honest 100 TB answer: a Welford/co-moment
    * `corr()` over doubles is order-sensitive across 10⁵ partials;
    * exact integer co-moments are not.
    *
    * Scale shape: one map-side quantize projection + one hash
    * aggregate on a 3-value key; six numbers per group cross the wire.
    */
  def q110CorrProfile(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.load(s, dir, "lineitem").select(
      col("l_returnflag"),
      expr("cast(round(l_quantity * 100) as decimal(38,0))").as("xc"),
      expr("cast(round(l_extendedprice * 100) as decimal(38,0))").as("yc"))
    val m = cents.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("xc")).as("sx"), sum(col("yc")).as("sy"),
      sum(col("xc") * col("xc")).as("sxx"),
      sum(col("yc") * col("yc")).as("syy"),
      sum(col("xc") * col("yc")).as("sxy"))
    val d = m.select(col("l_returnflag"), col("n_rows"),
        col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
        col("sxx").cast("double").as("sxx"), col("syy").cast("double").as("syy"),
        col("sxy").cast("double").as("sxy"))
      .withColumn("nd", col("n_rows").cast("double"))
      .withColumn("covn", col("nd") * col("sxy") - col("sx") * col("sy"))
      .withColumn("varxn", col("nd") * col("sxx") - col("sx") * col("sx"))
      .withColumn("varyn", col("nd") * col("syy") - col("sy") * col("sy"))
    d.select(col("l_returnflag"), col("n_rows"),
        col("sx").as("sum_qty_cents"), col("sy").as("sum_price_cents"),
        round(col("covn") / sqrt(col("varxn") * col("varyn")), 6).as("corr_qty_price"),
        round(col("covn") / col("varxn"), 6).as("slope_cents"),
        round((col("sy") - (col("covn") / col("varxn")) * col("sx")) / col("nd"), 6)
          .as("intercept_cents"),
        round((col("covn") * col("covn")) / (col("varxn") * col("varyn")), 6).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  val q110Sql: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS DECIMAL(38,0)) AS xc,
      |    CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)) AS yc
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n_rows,
      |    CAST(sum(xc) AS DOUBLE) AS sx, CAST(sum(yc) AS DOUBLE) AS sy,
      |    CAST(sum(xc * xc) AS DOUBLE) AS sxx,
      |    CAST(sum(yc * yc) AS DOUBLE) AS syy,
      |    CAST(sum(xc * yc) AS DOUBLE) AS sxy
      |  FROM c GROUP BY 1),
      |d AS (
      |  SELECT *, CAST(n_rows AS DOUBLE) AS nd,
      |    CAST(n_rows AS DOUBLE) * sxy - sx * sy AS covn,
      |    CAST(n_rows AS DOUBLE) * sxx - sx * sx AS varxn,
      |    CAST(n_rows AS DOUBLE) * syy - sy * sy AS varyn
      |  FROM m)
      |SELECT l_returnflag, n_rows,
      |  sx AS sum_qty_cents, sy AS sum_price_cents,
      |  round(covn / sqrt(varxn * varyn), 6) AS corr_qty_price,
      |  round(covn / varxn, 6) AS slope_cents,
      |  round((sy - (covn / varxn) * sx) / nd, 6) AS intercept_cents,
      |  round((covn * covn) / (varxn * varyn), 6) AS r2
      |FROM d ORDER BY l_returnflag""".stripMargin

  // ===== q118 — item co-engagement similarity (capped baskets) ============

  /** Item-item collaborative similarity from the event stream: users'
    * engaged item sets (props.k, the q71 extraction) projected onto
    * item pairs, pair support counted, and cosine
    * c_ab / √(c_a·c_b) micro-quantized — the recommender / related-items
    * co-occurrence shape. Baskets are CAPPED at the 32 most-engaged
    * items per user (engagement count desc, item asc — a strict total
    * order) so the self-join's pair volume is bounded, and both
    * per-item user counts and pair counts are computed over the SAME
    * capped baskets (the similarity is internally consistent).
    *
    * Scale shape: the cap is the scale lever — without it one
    * power-user with 10⁵ items yields 10¹⁰ pairs; with it every user
    * contributes ≤ 32·31/2 pairs, so pair volume is linear in users.
    * The cap itself rides the bounded `topk_by` aggregate (≤ 32
    * entries per split per user — no per-user window sort); the pair
    * count is one hash aggregate on (item_a, item_b); support ≥ 3
    * prunes before the two item-count joins; top-100 is
    * TakeOrderedAndProject.
    */
  /** (user_id, item) rows of the 32-most-engaged items per user — the
    * capped-basket projection shared by q118 (co-occurrence cosine) and
    * q131 (PageRank). props.k via the q71 extraction; the cap rides the
    * bounded `topk_by` aggregate (cnt desc, item asc total order).
    */
  private def itemBaskets(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKAgg.register(s)
    Tables.load(s, dir, "events")
      .withColumn("item", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id"), col("item"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(graft.functions.TopKAgg
        .topkBy(col("cnt").cast("double"), col("item"), 32, asc = false).as("tk"))
      .select(col("user_id"), explode(col("tk")).as("e"))
      .select(col("user_id"), col("e.id").as("item"))
      // eager checkpoint: q118 reads baskets three times (item counts +
      // both self-join sides) and q131 twice — without it each consumer
      // re-runs the events scan + per-event JSON parse + two aggregates
      .transform(Materialize.pin)
  }

  def q118ItemCooccurrence(s: SparkSession, dir: String): DataFrame = {
    val basket = itemBaskets(s, dir)
    val itemCnt = basket.groupBy(col("item")).agg(count(lit(1)).as("c_i"))
    basket.alias("a")
      .join(basket.alias("b"),
        col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 3)
      .join(itemCnt.select(col("item").as("item_a"), col("c_i").as("c_a")), "item_a")
      .join(itemCnt.select(col("item").as("item_b"), col("c_i").as("c_b")), "item_b")
      .withColumn("cosine_micro",
        floor(col("c_ab") / sqrt((col("c_a") * col("c_b")).cast("double"))
          * 1e6 + 0.5).cast("long"))
      .select(col("item_a"), col("item_b"), col("c_ab"), col("c_a"), col("c_b"),
        col("cosine_micro"))
      .orderBy(col("cosine_micro").desc, col("item_a"), col("item_b"))
      .limit(100)
  }

  /** Restates the cap via row_number over (cnt DESC, item) — the
    * topk_by total order — and the same √-cosine micro-quantization.
    * The JSON extraction reuses q71's null-safe TRY_CAST posture.
    */
  val q118Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    CASE WHEN json_type(TRY_CAST(props AS JSON), '$.k') IN ('BIGINT','UBIGINT')
      |      THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS item
      |  FROM events),
      |eng AS (
      |  SELECT user_id, item, count(*) AS cnt FROM e
      |  WHERE item IS NOT NULL GROUP BY 1, 2),
      |basket AS (
      |  SELECT user_id, item FROM (
      |    SELECT user_id, item,
      |      row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, item) AS rk
      |    FROM eng) WHERE rk <= 32),
      |ic AS (SELECT item, count(*) AS c_i FROM basket GROUP BY 1),
      |pairs AS (
      |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
      |  FROM basket a JOIN basket b
      |    ON a.user_id = b.user_id AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT item_a, item_b, c_ab, ca.c_i AS c_a, cb.c_i AS c_b,
      |  CAST(floor(c_ab / sqrt(CAST(ca.c_i * cb.c_i AS DOUBLE)) * 1000000 + 0.5)
      |    AS BIGINT) AS cosine_micro
      |FROM pairs JOIN ic ca ON pairs.item_a = ca.item
      |           JOIN ic cb ON pairs.item_b = cb.item
      |ORDER BY cosine_micro DESC, item_a, item_b LIMIT 100""".stripMargin

  // ===== q119 — sliding 7-day active users (exact, fanout-on-day-grain) ===

  /** Per-day 1-day and trailing-7-day distinct active users — the DAU /
    * WAU overlap every engagement dashboard needs, computed EXACTLY.
    * Sliding distinct does not decompose into per-day distincts (users
    * active on several days must not double-count), so each deduped
    * (user, day) pair is fanned onto the ≤ 7 window-end days it
    * contributes to and distinct-counted per window end; window ends
    * are anchored to days observed in the data.
    *
    * Scale shape: the raw event volume collapses FIRST (one hash agg
    * to day grain — at 100 TB this is the 10⁶× reducer); the ×7
    * fanout and the per-window distinct count run on the deduped
    * grain. The observed-day anchor is a tiny broadcast join. The
    * sketch-based alternative (mergeable HLL per day, q108) trades
    * exactness for a fanout-free merge; this is its exact anchor.
    */
  def q119SlidingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    // epoch-day grain from the exact-nanos ts (the q103 integer-day
    // idiom — Spark reads the nanos column as LONG, DuckDB as
    // TIMESTAMP, so both sides restate "day" as epoch-µs div 86400e6)
    val ud = Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("(ts div 1000) div 86400000000L").as("day")).distinct()
    val present = ud.select(col("day").as("win_end")).distinct()
    val a7 = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("win_end"))
      .join(broadcast(present), "win_end")
      .groupBy(col("win_end"))
      .agg(countDistinct(col("user_id")).as("active_7d"))
    val a1 = ud.groupBy(col("day").as("win_end"))
      .agg(countDistinct(col("user_id")).as("active_1d"))
    a7.join(a1, "win_end")
      .select(date_add(to_date(lit("1970-01-01")), col("win_end").cast("int"))
          .as("win_end"),
        col("active_1d"), col("active_7d"))
      .orderBy(col("win_end"))
  }

  val q119Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |days AS (SELECT DISTINCT day FROM ud),
      |w AS (
      |  SELECT user_id, day + g.s AS win_end
      |  FROM ud, (SELECT unnest(generate_series(0, 6)) AS s) g),
      |a7 AS (
      |  SELECT win_end, count(DISTINCT user_id) AS active_7d
      |  FROM w JOIN days ON w.win_end = days.day GROUP BY 1),
      |a1 AS (SELECT day AS win_end, count(DISTINCT user_id) AS active_1d FROM ud GROUP BY 1)
      |SELECT DATE '1970-01-01' + CAST(win_end AS INTEGER) AS win_end,
      |  active_1d, active_7d
      |FROM a7 JOIN a1 USING (win_end) ORDER BY win_end""".stripMargin

  // ===== q131 — item PageRank over the co-engagement graph ================

  /** Damped PageRank (d = 0.85, 3 fixed iterations) over the weighted
    * item-item co-engagement graph — q118 scores EDGES (pair cosine),
    * this scores NODES: the centrality ranking a recommender or
    * curriculum seeds from. Edges are q118's capped-basket pairs
    * (support ≥ 3) made symmetric; rank mass is integer NANO units
    * end-to-end — every per-edge contribution floors
    * 0.85 · (w/outw) · pr to a long BEFORE the per-node sum (the q77
    * discipline lifted to an iterative fixpoint), so all three
    * iterations are exact integer aggregations and the unrolled oracle
    * reproduces them bit-for-bit.
    *
    * Scale shape: each iteration is one join of the edge list with the
    * ≤-node-sized rank relation plus one hash aggregate on dst — the
    * standard Pregel-on-relations shape, linear per iteration. The
    * edge relation (with out-weights) is pinned ONCE so the
    * basket self-join isn't recomputed per iteration, and each
    * iteration's rank relation is checkpointed to keep lineage flat
    * (the DedupClusters discipline). Per-user pair volume is bounded
    * by the basket cap (≤ 32·31/2), so edge count is linear in users.
    */
  def q131ItemPagerank(s: SparkSession, dir: String): DataFrame = {
    val basket = itemBaskets(s, dir)
    val pairs = basket.alias("a")
      .join(basket.alias("b"),
        col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 3)
      // eager checkpoint: the symmetric edge union reads pairs twice and
      // the out-weight join reads edges twice — without this the basket
      // self-join would run 4× before withOut's own checkpoint
      .transform(Materialize.pin)
    val edges = pairs.select(col("item_a").as("src"), col("item_b").as("dst"), col("w"))
      .union(pairs.select(col("item_b").as("src"), col("item_a").as("dst"), col("w")))
    val withOut = edges
      .join(edges.groupBy(col("src")).agg(sum(col("w")).as("outw")), "src")
      .transform(Materialize.pin)
    val nodes = withOut.select(col("src").as("item")).distinct()
    // the rank relations are deliberately NOT checkpointed: each
    // iteration's pr has exactly ONE consumer (the next iteration) and
    // the loop is a fixed 3 rounds, so the whole chain evaluates once,
    // lazily, as a single job over the checkpointed withOut — four
    // eager materialization jobs (init + 3 rounds) were pure per-job
    // scheduling floor
    var pr = nodes
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
      .select(col("item"),
        floor(lit(1e9) / col("n") + lit(0.5)).cast("long").as("prn"), col("n"))
    for (_ <- 1 to 3) {
      pr = withOut
        .join(pr.select(col("item").as("src"), col("prn"), col("n")), "src")
        .select(col("dst"), col("n"),
          floor(lit(0.85) * (col("w").cast("double") / col("outw")) * col("prn")
            + lit(0.5)).cast("long").as("c"))
        .groupBy(col("dst"), col("n"))
        .agg(sum(col("c")).as("sc"))
        .select(col("dst").as("item"),
          (floor(lit(1.5e8) / col("n") + lit(0.5)).cast("long") + col("sc")).as("prn"),
          col("n"))
    }
    pr.select(col("item"), col("prn").as("pr_nano"))
      .orderBy(col("pr_nano").desc, col("item"))
      .limit(50)
  }

  /** The same three iterations unrolled as CTEs; integer nano units
    * make each stage's floor reproduce Spark's exactly.
    */
  val q131Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    CASE WHEN json_type(TRY_CAST(props AS JSON), '$.k') IN ('BIGINT','UBIGINT')
      |      THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS item
      |  FROM events),
      |eng AS (
      |  SELECT user_id, item, count(*) AS cnt FROM e
      |  WHERE item IS NOT NULL GROUP BY 1, 2),
      |basket AS (
      |  SELECT user_id, item FROM (
      |    SELECT user_id, item,
      |      row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, item) AS rk
      |    FROM eng) WHERE rk <= 32),
      |pairs AS (
      |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS w
      |  FROM basket a JOIN basket b
      |    ON a.user_id = b.user_id AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |edges AS (
      |  SELECT item_a AS src, item_b AS dst, w FROM pairs
      |  UNION ALL
      |  SELECT item_b AS src, item_a AS dst, w FROM pairs),
      |ow AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
      |eo AS (SELECT e.src, e.dst, e.w, ow.outw FROM edges e JOIN ow USING (src)),
      |nn AS (SELECT count(DISTINCT src) AS n FROM eo),
      |pr0 AS (
      |  SELECT DISTINCT src AS item,
      |    CAST(floor(CAST(1000000000 AS DOUBLE) / n + 0.5) AS BIGINT) AS prn
      |  FROM eo, nn),
      |pr1 AS (
      |  SELECT eo.dst AS item,
      |    CAST(floor(CAST(150000000 AS DOUBLE) / n + 0.5) AS BIGINT)
      |      + sum(CAST(floor(0.85 * (CAST(eo.w AS DOUBLE) / eo.outw) * p.prn + 0.5)
      |          AS BIGINT)) AS prn
      |  FROM eo JOIN pr0 p ON eo.src = p.item, nn GROUP BY 1, n),
      |pr2 AS (
      |  SELECT eo.dst AS item,
      |    CAST(floor(CAST(150000000 AS DOUBLE) / n + 0.5) AS BIGINT)
      |      + sum(CAST(floor(0.85 * (CAST(eo.w AS DOUBLE) / eo.outw) * p.prn + 0.5)
      |          AS BIGINT)) AS prn
      |  FROM eo JOIN pr1 p ON eo.src = p.item, nn GROUP BY 1, n),
      |pr3 AS (
      |  SELECT eo.dst AS item,
      |    CAST(floor(CAST(150000000 AS DOUBLE) / n + 0.5) AS BIGINT)
      |      + sum(CAST(floor(0.85 * (CAST(eo.w AS DOUBLE) / eo.outw) * p.prn + 0.5)
      |          AS BIGINT)) AS prn
      |  FROM eo JOIN pr2 p ON eo.src = p.item, nn GROUP BY 1, n)
      |SELECT item, CAST(prn AS BIGINT) AS pr_nano FROM pr3
      |ORDER BY pr_nano DESC, item LIMIT 50""".stripMargin

  // ===== q125 — per-source percentile curve (cume_dist / percent_rank) ====

  /** Every document's position in its source's size distribution —
    * cume_dist (fraction of the stratum at-or-below this length) and
    * percent_rank ((rank−1)/(n−1)) — the calibration curve mixture
    * reweighting and "is this doc an outlier FOR ITS SOURCE" checks
    * read. Both statistics are ratios of exact integer rank counts,
    * micro-quantized — ties (equal n_chars) share a value by
    * definition on both engines, so the output is total-order
    * deterministic including duplicates.
    *
    * Scale shape: one exchange on source + one in-partition sort —
    * the ranking window family's honest cost. At 100 TB a hot source
    * becomes a hot partition; the declared swap is q68's shape
    * (broadcast quantile cut points then a map-side bucket lookup),
    * which trades exact per-row ranks for bucket-grain ones.
    */
  def q125PercentileCurve(s: SparkSession, dir: String): DataFrame = {
    val bySrc = Window.partitionBy(col("source")).orderBy(col("n_chars"))
    Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("pct_micro",
        floor(cume_dist().over(bySrc) * 1e6 + 0.5).cast("long"))
      .withColumn("prk_micro",
        floor(percent_rank().over(bySrc) * 1e6 + 0.5).cast("long"))
      .orderBy(col("source"), col("n_chars"), col("doc_id"))
  }

  val q125Sql: String =
    """SELECT source, doc_id, n_chars,
      |  CAST(floor(cume_dist() OVER (PARTITION BY source ORDER BY n_chars)
      |    * 1000000 + 0.5) AS BIGINT) AS pct_micro,
      |  CAST(floor(percent_rank() OVER (PARTITION BY source ORDER BY n_chars)
      |    * 1000000 + 0.5) AS BIGINT) AS prk_micro
      |FROM documents
      |ORDER BY source, n_chars, doc_id""".stripMargin

  // ===== q169 — Spearman rank correlation (exact rational) ================

  /** Spearman's rho between document length and BPE-estimate token
    * count — the tie-free rank-correlation every feature audit wants
    * next to q110's Pearson. Ranks come from row_number with a doc_id
    * tiebreak (total order → NO ties → the exact rational formula
    * rho = 1 − 6·Σd²/(n(n²−1)) applies, all integers). To keep the
    * integer division floor-vs-truncate concordant across engines even
    * for negative rho, the quantized output is shifted:
    * rho01_micro = (numer+denom)·5e5 div denom ∈ [0, 1e6] (numer+denom
    * ≥ 0 always), and rho_micro = 2·rho01_micro − 1e6 derives from the
    * already-quantized value.
    *
    * Scale shape: two global rank sorts (the exact-rank honest cost,
    * q63's argument; the 100-TB swap is bucketed approximate ranks per
    * q68), then one single-row aggregate of d². Nothing quadratic.
    */
  def q169RankCorrelation(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        graft.text.TextFunctions.bpeTokenEstimate(col("text")).cast("long")
          .as("bpe"))
    val rA = Window.orderBy(col("n_chars"), col("doc_id"))
    val rB = Window.orderBy(col("bpe"), col("doc_id"))
    docs
      .withColumn("ra", row_number().over(rA).cast("long"))
      .withColumn("rb", row_number().over(rB).cast("long"))
      .agg(count(lit(1)).as("n"),
        sum(expr("(ra - rb) * (ra - rb)")).as("sum_d2"))
      // DECIMAL(38,0) arithmetic: the numerator is ≈ 2n³·5e5, which
      // wraps int64 past n ≈ 21k docs (Spark ansi=false wraps silently;
      // DuckDB would error) — the sf0.1 corpus already crosses it. All
      // operands are integers so decimal math is exact; `div` on
      // decimals still yields BIGINT.
      .withColumn("nd", col("n").cast("decimal(38,0)"))
      .withColumn("rho01_micro", expr(
        "((2 * nd * (nd * nd - 1) - 6 * cast(sum_d2 as decimal(38,0))) * 500000)" +
          " div (nd * (nd * nd - 1))"))
      .select(col("n"), col("sum_d2"), col("rho01_micro"),
        expr("2 * rho01_micro - 1000000").as("rho_micro"))
  }

  val q169Sql: String =
    """WITH r AS (
      |  SELECT
      |    row_number() OVER (ORDER BY n_chars, doc_id) AS ra,
      |    row_number() OVER (ORDER BY
      |      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')),
      |      doc_id) AS rb
      |  FROM documents),
      |a AS (
      |  SELECT count(*) AS n,
      |    CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
      |  FROM r),
      |m AS (
      |  SELECT n, sum_d2,
      |    CAST(((2 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
      |           - 6 * CAST(sum_d2 AS HUGEINT)) * 500000)
      |      // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
      |      AS BIGINT) AS rho01_micro
      |  FROM a)
      |SELECT n, sum_d2, rho01_micro, 2 * rho01_micro - 1000000 AS rho_micro
      |FROM m""".stripMargin

  // ===== q170 — RFM feature engineering ===================================

  /** Per-user Recency/Frequency/Monetary features with quintile scores
    * — the classic behavioral segmentation every growth stack derives
    * from the event log. Monetary is exact cents; scores are ntile(5)
    * over a TOTAL order (metric + user_id tiebreak, best bucket = 5),
    * so the standard-SQL ntile remainder rule makes both engines agree
    * bit-for-bit; the composite segment is r·100+f·10+m.
    *
    * Scale shape: one user-grain hash aggregate, then three global
    * ntile sorts over the USER relation (already reduced far below
    * event grain). Exact global quantiles cost a sort — q63's
    * argument; the 100-TB swap is q68's broadcast cut points.
    */
  def q170RfmFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), expr("(ts div 1000) div 86400000000L").as("day"),
        col("value"))
    val maxDay = ev.agg(max(col("day")).as("corpus_max_day"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("f_events"),
        sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("m_cents"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        (col("corpus_max_day") - col("last_day")).as("r_days"),
        col("f_events"), col("m_cents"))
    perUser
      .withColumn("r_score",
        ntile(5).over(Window.orderBy(col("r_days").desc, col("user_id"))))
      .withColumn("f_score",
        ntile(5).over(Window.orderBy(col("f_events"), col("user_id"))))
      .withColumn("m_score",
        ntile(5).over(Window.orderBy(col("m_cents"), col("user_id"))))
      .select(col("user_id"), col("r_days"), col("f_events"), col("m_cents"),
        col("r_score"), col("f_score"), col("m_score"),
        expr("r_score * 100 + f_score * 10 + m_score").as("rfm_segment"))
      .orderBy(col("user_id"))
  }

  val q170Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, value FROM events),
      |mx AS (SELECT max(day) AS corpus_max_day FROM e),
      |u AS (
      |  SELECT user_id, corpus_max_day - max(day) AS r_days,
      |    count(*) AS f_events,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m_cents
      |  FROM e, mx GROUP BY user_id, corpus_max_day),
      |sc AS (
      |  SELECT user_id, r_days, f_events, m_cents,
      |    ntile(5) OVER (ORDER BY r_days DESC, user_id) AS r_score,
      |    ntile(5) OVER (ORDER BY f_events, user_id) AS f_score,
      |    ntile(5) OVER (ORDER BY m_cents, user_id) AS m_score
      |  FROM u)
      |SELECT user_id, r_days, f_events, m_cents, r_score, f_score, m_score,
      |  r_score * 100 + f_score * 10 + m_score AS rfm_segment
      |FROM sc ORDER BY user_id""".stripMargin

  // ===== q171 — Gini concentration of corpus volume =======================

  /** How concentrated is each source's volume in its largest documents?
    * The Gini coefficient per source (plus a corpus-wide row) over
    * document lengths, from the exact rank formula on ascending-sorted
    * values: G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) — all integer sums, the
    * quantized ratio is nonnegative by construction so integer division
    * is concordant. The release-report companion to q59/q155: a source
    * with Gini → 1 is a few giant documents wearing a big doc count.
    *
    * Scale shape: one rank window per source (single exchange on
    * source, in-partition sort) and integer sums; the corpus row costs
    * one global sort — same honest-cost note as q63, swap = q68
    * buckets.
    */
  def q171GiniConcentration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    def gini(df: DataFrame, grp: Column): DataFrame = df
      .withColumn("i", row_number()
        .over(Window.partitionBy(grp).orderBy(col("n_chars"), col("doc_id")))
        .cast("long"))
      .groupBy(grp.as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(expr("i * n_chars")).as("wsum"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        // DECIMAL(38,0): 2·wsum·1e6 ≤ 2·n_docs·total_chars·1e6 is
        // ~2.5e18 at sf0.1 already (3.7× int64 headroom) and wraps
        // around sf≈0.5 — same class as the q169 overflow. Numerator
        // is nonnegative (ascending-rank Gini ≥ 0) so the integer
        // division stays concordant across engines.
        expr("((2 * cast(wsum as decimal(38,0))" +
          " - (cast(n_docs as decimal(38,0)) + 1)" +
          " * cast(total_chars as decimal(38,0))) * 1000000)" +
          " div (cast(n_docs as decimal(38,0))" +
          " * cast(total_chars as decimal(38,0)))").as("gini_micro"))
    gini(docs, col("source"))
      .unionAll(gini(docs.withColumn("g", lit("(all)")), col("g")))
      .orderBy(col("source"))
  }

  val q171Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id, n_chars FROM documents
      |  UNION ALL SELECT '(all)', doc_id, n_chars FROM documents),
      |r AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i
      |  FROM d),
      |g AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    CAST(sum(i * n_chars) AS BIGINT) AS wsum
      |  FROM r GROUP BY 1)
      |SELECT source, n_docs, total_chars,
      |  CAST(((2 * CAST(wsum AS HUGEINT) - (n_docs + 1) * CAST(total_chars AS HUGEINT)) * 1000000)
      |    // (CAST(n_docs AS HUGEINT) * total_chars) AS BIGINT) AS gini_micro
      |FROM g ORDER BY source""".stripMargin

  // ===== q173 — 2D Pareto skyline (dominance frontier) ====================

  /** The skyline operator: documents on the Pareto frontier of
    * (n_chars MAXIMIZE, bpe_tokens MINIMIZE) — the char-per-token
    * "compression efficiency" frontier a tokenizer evaluation reads.
    * A document is dominated iff another has ≥ chars AND ≤ tokens with
    * one strict. The naive plan is the O(n²) self-join; this one is the
    * sort-based O(n log n) window formulation: a row survives iff no
    * strictly-longer row has tokens ≤ its own (a RANGE frame min over
    * n_chars strictly greater) and no equal-length row has strictly
    * fewer tokens (a partition min).
    *
    * Scale shape: one global RANGE-frame sort + one partition min —
    * no self-join, no explode. The global sort is the exact-skyline
    * honest cost; the 100-TB swap is the standard grid-partition
    * skyline (coarse bucket pre-filter drops rows dominated within
    * their own bucket before the global merge).
    */
  def q173ParetoSkyline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        graft.text.TextFunctions.bpeTokenEstimate(col("text")).cast("long")
          .as("bpe_tokens"))
    val strictlyLonger = Window.orderBy(col("n_chars"))
      .rangeBetween(1L, Window.unboundedFollowing)
    val sameLength = Window.partitionBy(col("n_chars"))
    docs
      .withColumn("min_t_longer", min(col("bpe_tokens")).over(strictlyLonger))
      .withColumn("min_t_equal", min(col("bpe_tokens")).over(sameLength))
      .filter((col("min_t_longer").isNull
          || col("min_t_longer") > col("bpe_tokens"))
        && col("min_t_equal") === col("bpe_tokens"))
      .select(col("doc_id"), col("n_chars"), col("bpe_tokens"))
      .orderBy(col("n_chars").desc, col("doc_id"))
  }

  val q173Sql: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
      |      AS BIGINT) AS bpe_tokens
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, n_chars, bpe_tokens,
      |    min(bpe_tokens) OVER (ORDER BY n_chars
      |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS min_t_longer,
      |    min(bpe_tokens) OVER (PARTITION BY n_chars) AS min_t_equal
      |  FROM d)
      |SELECT doc_id, n_chars, bpe_tokens
      |FROM w
      |WHERE (min_t_longer IS NULL OR min_t_longer > bpe_tokens)
      |  AND min_t_equal = bpe_tokens
      |ORDER BY n_chars DESC, doc_id""".stripMargin

  // ===== q179 — one-way ANOVA effect size (eta squared) ===================

  /** How much of document-length variance does the source explain?
    * One-way ANOVA sums of squares with the effect size η² = SSB/SST —
    * the number that says whether per-source length stratification
    * (q141/q163) is even worth doing. Everything is integer: per-group
    * (Σx)² div n terms, the grand (Σx)² div N correction, and Σx² —
    * each integer division is a deterministic floor on positive values,
    * so both engines produce identical SSB'/SST' and the micro ratio
    * is exact.
    *
    * Scale shape: ONE hash aggregate at source grain (count, Σx, Σx²
    * — map-side combine), then a |sources|-row rollup. No windows, no
    * floats, one shuffle of three longs per source.
    */
  def q179AnovaEffect(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_g"), sum(col("n_chars")).as("sx_g"),
        sum(expr("n_chars * n_chars")).as("sxx_g"))
    g.agg(
        count(lit(1)).as("n_groups"),
        sum(col("n_g")).as("n"),
        sum(col("sx_g")).as("sx"),
        sum(col("sxx_g")).as("sxx"),
        sum(expr("(sx_g * sx_g) div n_g")).as("between_raw"))
      .select(col("n_groups"), col("n"),
        // SSB >= 0 mathematically; the per-group floors can leave a tiny
        // negative residue, clamped so the ratio's integer division is
        // floor==truncate in both engines. sst = 0 (constant column)
        // reports 0 rather than dividing by zero.
        greatest(col("between_raw") - expr("(sx * sx) div n"), lit(0L)).as("ssb"),
        (col("sxx") - expr("(sx * sx) div n")).as("sst"))
      .select(col("n_groups"), col("n"), col("ssb"), col("sst"),
        when(col("sst") > 0, expr("(ssb * 1000000) div sst"))
          .otherwise(lit(0L)).as("eta2_micro"))
  }

  val q179Sql: String =
    """WITH g AS (
      |  SELECT source, count(*) AS n_g,
      |    CAST(sum(n_chars) AS BIGINT) AS sx_g,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx_g
      |  FROM documents GROUP BY 1),
      |a AS (
      |  SELECT count(*) AS n_groups, CAST(sum(n_g) AS BIGINT) AS n,
      |    CAST(sum(sx_g) AS BIGINT) AS sx, CAST(sum(sxx_g) AS BIGINT) AS sxx,
      |    CAST(sum((sx_g * sx_g) // n_g) AS BIGINT) AS between_raw
      |  FROM g),
      |m AS (
      |  SELECT n_groups, n,
      |    greatest(between_raw - (sx * sx) // n, 0) AS ssb,
      |    sxx - (sx * sx) // n AS sst
      |  FROM a)
      |SELECT n_groups, n, ssb, sst,
      |  CASE WHEN sst > 0 THEN (ssb * 1000000) // sst ELSE 0 END AS eta2_micro
      |FROM m""".stripMargin

  // ===== q180 — lag-1 autocorrelation of the daily event series ===========

  /** Is today's traffic predictive of tomorrow's? Lag-1 Pearson
    * autocorrelation of the daily event-count series — the one-number
    * seasonality/trend screen that decides whether the q157 smoother or
    * the q144/q145 drift monitors need a detrending step first.
    * Co-moments are exact integer sums over the (x_t, x_{t+1}) pairs
    * (q110's discipline); only the final ratio divides in double with
    * round(·, 6).
    *
    * Scale shape: the raw stream collapses to day grain first (q119's
    * reducer); the lead window and co-moment aggregate run over the
    * tiny daily relation. One real shuffle.
    */
  def q180DailyAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .groupBy(expr("(ts div 1000) div 86400000000L").as("day"))
      .agg(count(lit(1)).as("x"))
    val pairs = daily
      .withColumn("y", lead(col("x"), 1).over(Window.orderBy(col("day"))))
      .filter(col("y").isNotNull)
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
      .select(col("n_pairs"),
        round((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt(((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
            * (col("n_pairs") * col("syy") - col("sy") * col("sy"))).cast("double")),
          6).as("r1"))
  }

  val q180Sql: String =
    """WITH d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS x
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT x, lead(x, 1) OVER (ORDER BY day) AS y FROM d),
      |f AS (SELECT x, y FROM p WHERE y IS NOT NULL),
      |a AS (
      |  SELECT count(*) AS n_pairs,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM f)
      |SELECT n_pairs,
      |  round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
      |    / sqrt(CAST((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy)
      |      AS DOUBLE)), 6) AS r1
      |FROM a""".stripMargin

  // ===== q183 — seasonal hour-of-day × day-of-week profile ================

  /** The traffic heatmap every ops and capacity review starts from:
    * exact event and distinct-user counts per (ISO weekday, UTC hour)
    * cell. Both time features are pure integer arithmetic on the epoch
    * (1970-01-01 is a Thursday; dow = ((days + 3) mod 7) + 1 makes
    * Monday 1) — no timezone/calendar functions, so the two engines
    * cannot disagree on a boundary and the same spelling serves as the
    * time-feature-extraction surface for model features.
    *
    * Scale shape: feature extraction is a map-side projection; one
    * ≤168-key hash aggregate with map-side combine. One pass.
    */
  def q183SeasonalProfile(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("(((ts div 1000) div 86400000000L + 3) % 7) + 1").as("dow_iso"),
        expr("((ts div 1000) div 3600000000L) % 24").as("hour_utc"))
      .groupBy(col("dow_iso"), col("hour_utc"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("dow_iso"), col("hour_utc"))

  val q183Sql: String =
    """SELECT ((epoch_us(ts) // 86400000000 + 3) % 7) + 1 AS dow_iso,
      |  (epoch_us(ts) // 3600000000) % 24 AS hour_utc,
      |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ===== q184 — winsorized mean (robust aggregate surface) ================

  /** Per-event-type value statistics that outliers cannot poison: exact
    * rank-based p10/p90 cut points (value at rank ceil(0.1n)/ceil(0.9n),
    * the q30 discipline), every value clamped into [p10, p90], and the
    * winsorized mean in micro-cents by integer division. The robust
    * companion to q112's MAD outlier flags — this one reports the
    * defensible central value instead of flagging the tails.
    *
    * Scale shape: one rank window per type (single exchange on
    * event_type), cut points from conditional mins in the same
    * aggregate, clamp + mean in a second tiny aggregate joined by
    * broadcast. The per-type sort is the exact-percentile honest cost
    * (q30's argument; approx swap is q31).
    */
  def q184WinsorizedMean(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("c"))
    val byType = Window.partitionBy(col("event_type"))
    val ranked = cents
      .withColumn("r", row_number()
        .over(byType.orderBy(col("c"), col("event_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(byType).cast("long"))
    val cuts = ranked.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("r") >= expr("(n + 9) div 10"), col("c"))).as("p10_cents"),
        min(when(col("r") >= expr("(9 * n + 9) div 10"), col("c"))).as("p90_cents"))
    cents.join(broadcast(cuts), Seq("event_type"))
      .select(col("event_type"), col("n"), col("p10_cents"), col("p90_cents"),
        greatest(least(col("c"), col("p90_cents")), col("p10_cents")).as("w"))
      .groupBy(col("event_type"), col("n"), col("p10_cents"), col("p90_cents"))
      .agg(sum(col("w")).as("wsum"))
      .select(col("event_type"), col("n"), col("p10_cents"), col("p90_cents"),
        expr("(wsum * 1000000) div n").as("wmean_microcents"))
      .orderBy(col("event_type"))
  }

  val q184Sql: String =
    """WITH c AS (
      |  SELECT event_type, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events),
      |r AS (
      |  SELECT event_type, c,
      |    row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS r,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM c),
      |cuts AS (
      |  SELECT event_type, max(n) AS n,
      |    min(CASE WHEN r >= (n + 9) // 10 THEN c END) AS p10_cents,
      |    min(CASE WHEN r >= (9 * n + 9) // 10 THEN c END) AS p90_cents
      |  FROM r GROUP BY 1),
      |w AS (
      |  SELECT c.event_type, n, p10_cents, p90_cents,
      |    greatest(least(c.c, p90_cents), p10_cents) AS w
      |  FROM c JOIN cuts USING (event_type))
      |SELECT event_type, n, p10_cents, p90_cents,
      |  (CAST(sum(w) AS BIGINT) * 1000000) // n AS wmean_microcents
      |FROM w GROUP BY event_type, n, p10_cents, p90_cents
      |ORDER BY event_type""".stripMargin

  // ===== q189 — grouped top-k via the bounded topk_by aggregate ===========

  /** Per-source top-3 longest documents through the SAME bounded
    * `topk_by` TypedImperativeAggregate the ANN family runs on
    * (functions/TopKAgg.scala) — the relational face of that operator:
    * identical results to the q02-style rank window, but the plan
    * carries ≤ k (score, id) entries per group per partition instead
    * of range-partitioning the corpus for row_number. The oracle is
    * the window spelling, so this query IS the proof the two
    * formulations agree; PlanShapeSpec locks the window-free plan.
    *
    * Scale shape: one hash aggregate with map-side partial_topk_by —
    * a hot source costs O(k) state, not a sort. This is the declared
    * 100-TB swap for every "per-group head" window in the repo,
    * exercised end-to-end.
    */
  def q189GroupedTopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKAgg.register(s)
    Tables.load(s, dir, "documents")
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topkBy(
        col("n_chars").cast("double"), col("doc_id"), 3, asc = false).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("doc_id"), col("e.score").cast("long").as("n_chars"))
      .orderBy(col("source"), col("rank"))
  }

  /** Oracle: the rank-window formulation — agreement proves the
    * bounded aggregate ≡ row_number (largest first, doc_id tiebreak).
    */
  val q189Sql: String =
    """SELECT source, CAST(rk AS INTEGER) AS rank, doc_id, n_chars
      |FROM (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 3 ORDER BY source, rank""".stripMargin

  // ===== q190 — A/B experiment lift readout ===============================

  /** The deterministic experiment-analysis surface: users are assigned
    * to arms by content key (md5 of the user id — the q37 discipline,
    * so assignment is reproducible and join-free), and the readout
    * compares mean purchase value per arm in micro-cents with the B/A
    * ratio (1e6 = parity). Means are integer divisions of exact cent
    * sums; the ratio divides the two already-quantized means — no
    * float anywhere.
    *
    * Scale shape: arm assignment is a map-side projection; ONE 2-key
    * hash aggregate; the readout row is a self-join of two tiny
    * aggregates. One pass over events.
    */
  def q190AbLift(s: SparkSession, dir: String): DataFrame = {
    val arms = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(
        expr("case when (locate(substring(md5(cast(user_id as string)), 1, 1)," +
          " '0123456789abcdef') - 1) % 2 = 0 then 'A' else 'B' end").as("arm"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("arm"), col("n"),
        expr("(sum_cents * 1000000) div n").as("mean_microcents"))
    arms.filter(col("arm") === "A")
      .select(col("n").as("n_a"), col("mean_microcents").as("mean_a_microcents"))
      .crossJoin(arms.filter(col("arm") === "B")
        .select(col("n").as("n_b"), col("mean_microcents").as("mean_b_microcents")))
      .select(col("n_a"), col("n_b"),
        col("mean_a_microcents"), col("mean_b_microcents"),
        expr("(mean_b_microcents * 1000000) div mean_a_microcents")
          .as("ratio_micro"))
  }

  val q190Sql: String =
    """WITH p AS (
      |  SELECT CASE WHEN (strpos('0123456789abcdef',
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
      |      THEN 'A' ELSE 'B' END AS arm,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (
      |  SELECT arm, count(*) AS n,
      |    (CAST(sum(cents) AS BIGINT) * 1000000) // count(*) AS mean_microcents
      |  FROM p GROUP BY 1)
      |SELECT a.n AS n_a, b.n AS n_b,
      |  a.mean_microcents AS mean_a_microcents,
      |  b.mean_microcents AS mean_b_microcents,
      |  (b.mean_microcents * 1000000) // a.mean_microcents AS ratio_micro
      |FROM g a, g b WHERE a.arm = 'A' AND b.arm = 'B'""".stripMargin

  // ===== q193 — weekday-adjusted traffic residuals ========================

  /** Each day's traffic against its own weekday's average — the
    * seasonality-adjusted residual that makes a Tuesday dip visible
    * next to a quiet-Sunday baseline (the q183 heatmap says WHAT the
    * weekly shape is; this divides it out). ratio_micro =
    * n_events·n_days_dow·1e6 div Σ(dow counts) — exact integers end to
    * end, 1e6 = exactly at weekday par.
    *
    * Scale shape: day-grain reduction first (q119's reducer), then a
    * ≤7-key aggregate joined back by broadcast. One real shuffle.
    */
  def q193SeasonalResiduals(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .groupBy(expr("(ts div 1000) div 86400000000L").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dow_iso", expr("((day + 3) % 7) + 1"))
    val byDow = daily.groupBy(col("dow_iso"))
      .agg(sum(col("n_events")).as("dow_sum"), count(lit(1)).as("dow_days"))
    daily.join(broadcast(byDow), Seq("dow_iso"))
      .select(col("day"), col("dow_iso"), col("n_events"),
        expr("(dow_sum * 1000000) div dow_days").as("dow_mean_micro"),
        expr("(n_events * dow_days * 1000000) div dow_sum").as("ratio_micro"))
      .orderBy(col("day"))
  }

  val q193Sql: String =
    """WITH d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
      |  FROM events GROUP BY 1),
      |dd AS (SELECT day, n_events, ((day + 3) % 7) + 1 AS dow_iso FROM d),
      |w AS (
      |  SELECT dow_iso, CAST(sum(n_events) AS BIGINT) AS dow_sum,
      |    count(*) AS dow_days
      |  FROM dd GROUP BY 1)
      |SELECT day, dd.dow_iso, n_events,
      |  (dow_sum * 1000000) // dow_days AS dow_mean_micro,
      |  (n_events * dow_days * 1000000) // dow_sum AS ratio_micro
      |FROM dd JOIN w ON dd.dow_iso = w.dow_iso
      |ORDER BY day""".stripMargin

  // ===== q194 — Pareto share: top-quintile users' value concentration =====

  /** The 80/20 check: what share of total purchase value do the top
    * 20% of users hold? Exact: per-user cent totals, rank descending
    * with user_id tiebreak, k = ceil(n/5), top-k share in micro by
    * integer division. The revenue-concentration companion to q171's
    * per-document Gini.
    *
    * Scale shape: user-grain hash aggregate, one rank window over the
    * user relation (already reduced), one conditional sum. The global
    * sort is the exact-rank honest cost (q63's argument).
    */
  def q194ParetoShare(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("cents"))
    users
      .crossJoin(broadcast(users.agg(count(lit(1)).as("n_users"))))
      .withColumn("r", row_number()
        .over(Window.orderBy(col("cents").desc, col("user_id"))).cast("long"))
      .groupBy(col("n_users"))
      .agg(sum(col("cents")).as("total_cents"),
        sum(when(col("r") <= expr("(n_users + 4) div 5"), col("cents"))
          .otherwise(0L)).as("topk_cents"))
      .select(col("n_users"), expr("(n_users + 4) div 5").as("k"),
        col("total_cents"), col("topk_cents"),
        expr("(topk_cents * 1000000) div total_cents").as("share_micro"))
  }

  val q194Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |n AS (SELECT count(*) AS n_users FROM u),
      |r AS (
      |  SELECT cents, n_users,
      |    row_number() OVER (ORDER BY cents DESC, user_id) AS r
      |  FROM u, n),
      |a AS (
      |  SELECT n_users, CAST(sum(cents) AS BIGINT) AS total_cents,
      |    CAST(sum(CASE WHEN r <= (n_users + 4) // 5 THEN cents ELSE 0 END)
      |      AS BIGINT) AS topk_cents
      |  FROM r GROUP BY 1)
      |SELECT n_users, (n_users + 4) // 5 AS k, total_cents, topk_cents,
      |  (topk_cents * 1000000) // total_cents AS share_micro
      |FROM a""".stripMargin

  // ===== q201 — interpolated (continuous) percentiles =====================

  /** The percentile_cont surface: exact LINEARLY-INTERPOLATED p50/p95
    * of purchase value per event type — the convention dashboards and
    * SLOs quote (q30's rank-based family returns an observed value;
    * this returns the type-7 interpolation between the two straddling
    * observations, which both engines implement identically). Inputs
    * are exact cents; only the final interpolation is double, micro-
    * quantized once.
    *
    * Scale shape: Spark's `percentile` is a single hash aggregate with
    * map-side partial state; no window, no sort of the fact table. The
    * 100-TB swap is q31's approx sketch when the per-group value count
    * itself is too big to hold.
    */
  def q201InterpolatedPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("cast(floor(percentile(cents, 0.5) * 10000 + 0.5) as bigint)")
          .as("p50_interp"),
        expr("cast(floor(percentile(cents, 0.95) * 10000 + 0.5) as bigint)")
          .as("p95_interp"))
      .orderBy(col("event_type"))

  val q201Sql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(floor(quantile_cont(cents, 0.5) * 10000 + 0.5) AS BIGINT)
      |    AS p50_interp,
      |  CAST(floor(quantile_cont(cents, 0.95) * 10000 + 0.5) AS BIGINT)
      |    AS p95_interp
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q202 — rank-function family surface ===============================

  /** The remaining rank variants in one audited surface: `rank` (gaps
    * on ties), `dense_rank` (no gaps), and full-partition
    * `first_value`/`nth_value(2)` — per source over document length
    * descending. Ties are REAL here (rank vs dense_rank diverge on
    * them, which the spec pins); the value functions use an explicit
    * unbounded frame with a doc_id tiebreak so both engines pick the
    * same witness row.
    *
    * Scale shape: one source exchange serves all four functions (one
    * window spec); q189's bounded `topk_by` is the declared swap when
    * only the head of each group is wanted.
    */
  def q202RankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byLen = Window.partitionBy(col("source")).orderBy(col("n_chars").desc)
    Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rnk", rank().over(byLen))
      .withColumn("drnk", dense_rank().over(byLen))
      .withColumn("longest", first_value(col("n_chars")).over(full))
      .withColumn("second_longest", nth_value(col("n_chars"), 2).over(full))
      .orderBy(col("source"), col("n_chars").desc, col("doc_id"))
  }

  val q202Sql: String =
    """SELECT source, doc_id, n_chars,
      |  rank() OVER (PARTITION BY source ORDER BY n_chars DESC) AS rnk,
      |  dense_rank() OVER (PARTITION BY source ORDER BY n_chars DESC) AS drnk,
      |  first_value(n_chars) OVER w AS longest,
      |  nth_value(n_chars, 2) OVER w AS second_longest
      |FROM documents
      |WINDOW w AS (PARTITION BY source ORDER BY n_chars DESC, doc_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY source, n_chars DESC, doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q201_interp_percentiles" -> (q201InterpolatedPercentiles _),
    "q202_rank_family" -> (q202RankFamily _),
    "q193_seasonal_residuals" -> (q193SeasonalResiduals _),
    "q194_pareto_share" -> (q194ParetoShare _),
    "q189_grouped_topk" -> (q189GroupedTopK _),
    "q190_ab_lift" -> (q190AbLift _),
    "q184_winsorized_mean" -> (q184WinsorizedMean _),
    "q183_seasonal_profile" -> (q183SeasonalProfile _),
    "q179_anova_effect" -> (q179AnovaEffect _),
    "q180_daily_autocorr" -> (q180DailyAutocorr _),
    "q173_pareto_skyline" -> (q173ParetoSkyline _),
    "q169_rank_correlation" -> (q169RankCorrelation _),
    "q170_rfm_features" -> (q170RfmFeatures _),
    "q171_gini_concentration" -> (q171GiniConcentration _),
    "q133_time_travel_lookup" -> (q133TimeTravelLookup _),
    "q143_growth_accounting" -> (q143GrowthAccounting _),
    "q151_unpivot_measures" -> (q151UnpivotMeasures _),
    "q157_moving_average" -> (q157MovingAverage _),
    "q158_tokenizer_fertility" -> (q158TokenizerFertility _),
    "q152_set_ops" -> (q152SetOps _),
    "q134_snapshot_cdc" -> (q134SnapshotCdc _),
    "q131_item_pagerank" -> (q131ItemPagerank _),
    "q125_percentile_curve" -> (q125PercentileCurve _),
    "q118_item_cooccurrence" -> (q118ItemCooccurrence _),
    "q119_sliding_active_users" -> (q119SlidingActiveUsers _),
    "q110_corr_profile" -> (q110CorrProfile _),
    "q97_integrity_audit" -> (q97IntegrityAudit _),
    "q101_scd2_merge" -> (q101ScdMerge _),
    "q103_retention_cohorts" -> (q103RetentionCohorts _),
    "q108_retention_sketches" -> (q108RetentionSketches _),
    "q105_salted_rollup" -> (q105SaltedRollup _),
    "q60_rollup_scorecard" -> (q60RollupScorecard _),
    "q61_pivot_length" -> (q61PivotLengthClasses _),
    "q62_event_deltas" -> (q62EventDeltas _),
    "q211_watermark_audit" -> (q211WatermarkAudit _),
    "q63_size_deciles" -> (q63SizeDeciles _),
    "q64_snapshot_diff" -> (q64SnapshotDiff _),
    "q68_decile_buckets" -> (q68DecileBuckets _),
    "q69_label_centroids" -> (q69LabelCentroids _),
    "q70_session_window" -> (q70SessionWindow _),
    "q71_json_extract" -> (q71JsonExtract _),
    "q72_temperature_mixture" -> (q72TemperatureMixture _),
    "q73_doc_chunks" -> (q73DocChunks _),
    "q92_epoch_materialize" -> (q92EpochMaterialize _))

  val oracleSql: Map[String, String] = Map(
    "q201_interp_percentiles" -> q201Sql,
    "q202_rank_family" -> q202Sql,
    "q193_seasonal_residuals" -> q193Sql,
    "q194_pareto_share" -> q194Sql,
    "q189_grouped_topk" -> q189Sql,
    "q190_ab_lift" -> q190Sql,
    "q184_winsorized_mean" -> q184Sql,
    "q183_seasonal_profile" -> q183Sql,
    "q179_anova_effect" -> q179Sql,
    "q180_daily_autocorr" -> q180Sql,
    "q173_pareto_skyline" -> q173Sql,
    "q169_rank_correlation" -> q169Sql,
    "q170_rfm_features" -> q170Sql,
    "q171_gini_concentration" -> q171Sql,
    "q133_time_travel_lookup" -> q133Sql,
    "q143_growth_accounting" -> q143Sql,
    "q151_unpivot_measures" -> q151Sql,
    "q157_moving_average" -> q157Sql,
    "q158_tokenizer_fertility" -> q158Sql,
    "q152_set_ops" -> q152Sql,
    "q134_snapshot_cdc" -> q134Sql,
    "q131_item_pagerank" -> q131Sql,
    "q125_percentile_curve" -> q125Sql,
    "q118_item_cooccurrence" -> q118Sql,
    "q119_sliding_active_users" -> q119Sql,
    "q110_corr_profile" -> q110Sql,
    "q97_integrity_audit" -> q97Sql,
    "q101_scd2_merge" -> q101Sql,
    "q103_retention_cohorts" -> q103Sql,
    "q105_salted_rollup" -> q105Sql,
    "q60_rollup_scorecard" -> q60Sql,
    "q61_pivot_length" -> q61Sql,
    "q62_event_deltas" -> q62Sql,
    "q211_watermark_audit" -> q211Sql,
    "q63_size_deciles" -> q63Sql,
    "q64_snapshot_diff" -> q64Sql,
    "q68_decile_buckets" -> q68Sql,
    "q69_label_centroids" -> q69Sql,
    "q70_session_window" -> q70Sql,
    "q71_json_extract" -> q71Sql,
    "q72_temperature_mixture" -> q72Sql,
    "q73_doc_chunks" -> q73Sql,
    "q92_epoch_materialize" -> q92Sql)
}
