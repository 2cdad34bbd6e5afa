package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Tables}
import graft.text.TextFunctions._

/** Driver-verifiable text-analysis queries over `documents`
  * (BASELINE.json north star: LLM-pipeline text operators). Every
  * function in [[graft.text.TextFunctions]] appears here with a
  * DuckDB oracle that mirrors the computation operand-for-operand.
  */
object TextQueries {

  private val SqlToks =
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')"
  private val SqlStops = "['the','a','an','of','and','to','in','is','it','that']"
  private val SqlTokenCount = s"len($SqlToks)"
  private val SqlPunctCount = "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))"
  private val SqlPunctRatio =
    s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST($SqlPunctCount AS DOUBLE) / length(text) END"
  private val SqlStopRatio =
    s"CASE WHEN $SqlTokenCount = 0 THEN 0.0 ELSE CAST(len(list_filter($SqlToks, t -> list_contains($SqlStops, t))) AS DOUBLE) / $SqlTokenCount END"
  private val SqlFingerprint =
    "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  // ===== q16 — per-document token/punct/stopword stats + fingerprint ======

  // q16/q17/q18/q43: the presentation sort runs BELOW the per-row text
  // projection — a range exchange samples its whole child once to pick
  // partition bounds, so an orderBy above the multi-regex pass would
  // evaluate it twice (the q26 finding; projections are
  // order-preserving, so output order is unchanged)
  def q16TextStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("token_count"),
        bpeTokenEstimate(col("text")).as("bpe_estimate"),
        punctRatio(col("text")).as("punct_ratio"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        meanTokenLength(col("text")).as("mean_token_len"),
        fingerprint(col("text")).as("fingerprint"))

  val q16Sql: String =
    s"""SELECT doc_id,
       |  $SqlTokenCount AS token_count,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_estimate,
       |  $SqlPunctRatio AS punct_ratio,
       |  $SqlStopRatio AS stopword_ratio,
       |  CASE WHEN $SqlTokenCount = 0 THEN 0.0
       |       ELSE CAST(length(regexp_replace(lower(trim(text)), '\\s', '', 'g')) AS DOUBLE) / $SqlTokenCount END AS mean_token_len,
       |  $SqlFingerprint AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  // ===== q17 — heuristic language ID (marker-stopword argmax) =============

  def q17LangId(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("lang"), langId(col("text")).as("lang_guess"))

  val q17Sql: String = {
    val markers = graft.text.TextFunctions.LangMarkers
    def score(ms: Seq[String]): String =
      s"len(list_filter($SqlToks, t -> list_contains([${ms.map("'" + _ + "'").mkString(",")}], t)))"
    val defs = markers.map { case (lang, ms) => s"${score(ms)} AS s_$lang" }
    val names = markers.map(_._1)
    val anyHit = names.map(l => s"s_$l").mkString(" + ") + " > 0"
    val whens = names.zipWithIndex.map { case (lang, i) =>
      val beats = names.take(i).map(o => s"s_$lang > s_$o")
      val ge = names.drop(i + 1).map(o => s"s_$lang >= s_$o")
      val cond = (beats ++ ge).mkString(" AND ") match {
        case "" => "TRUE"
        case c => c
      }
      s"WHEN ($anyHit) AND $cond THEN '$lang'"
    }
    s"""WITH scored AS (
       |  SELECT doc_id, lang, ${defs.mkString(",\n    ")}
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CASE ${whens.mkString("\n    ")} ELSE 'und' END AS lang_guess
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ===== q107 — language-ID confusion matrix ==============================

  /** The language-ID EVALUATION report: declared `lang` × detected
    * [[graft.text.TextFunctions.langId]] guess, with document counts —
    * the confusion matrix a curation team reads before trusting a
    * detector's threshold (which declared languages bleed into `und`,
    * which pairs confuse). The oracle wraps q17's full detection SQL
    * in a GROUP BY, so the matrix is exactly the aggregate of the
    * row-level gate.
    *
    * Scale shape: one map-side detection projection + one tiny
    * (|langs|²-bounded) hash aggregate — the corpus never shuffles
    * anything wider than the two label columns.
    */
  def q107LangConfusion(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy(col("lang"), langId(col("text")).as("lang_guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_guess"))

  def q107Sql: String =
    s"""WITH q17 AS ($q17Sql)
       |SELECT lang, lang_guess, count(*) AS n_docs
       |FROM q17 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ===== q18 — composite quality score ====================================

  def q18QualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("n_chars"),
        qualityScore(col("text")).as("quality"))

  val q18Sql: String =
    s"""SELECT doc_id, n_chars,
       |  least(1.0, CAST($SqlTokenCount AS DOUBLE) / 50.0) * 0.4
       |    + (1.0 - least(1.0, ($SqlPunctRatio) * 10.0)) * 0.3
       |    + least(1.0, ($SqlStopRatio) * 5.0) * 0.3 AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  // ===== q19 — exact dedup by content fingerprint =========================

  /** Exact dedup at scale: one hash-groupBy shuffle on the fingerprint,
    * min-id representative per group. The input doubles `documents`
    * with shifted ids so every group genuinely collapses 2→1.
    */
  def q19DedupExactDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val doubled = docs.union(docs.select(col("doc_id") + 1000000, col("text")))
    doubled
      .groupBy(fingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("rep_doc_id"))
  }

  val q19Sql: String =
    s"""SELECT $SqlFingerprint AS fingerprint,
       |  min(doc_id) AS rep_doc_id, count(*) AS n_copies
       |FROM (SELECT doc_id, text FROM documents
       |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
       |GROUP BY 1 ORDER BY rep_doc_id""".stripMargin

  // ===== q26 — exact n-gram Jaccard similarity (oracle-checked) ===========

  /** The exact trigram-shingle Jaccard between each document and an
    * appended-marker near-copy — the verification kernel of the
    * MinHash pipeline, oracle-checked end to end (DuckDB rebuilds the
    * same shingle sets with list functions).
    */
  def q26NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.MinHashLSH.shingleArray
    // both shingle sets are functions of the SAME row's text, so the
    // whole Jaccard is one in-row projection (array_intersect over the
    // distinct sets; |∪| = |sa|+|sb|−|∩|) — the former jaccardTexts
    // call exploded both sides to (doc, shingle) rows and paid two
    // corpus-sized string shuffles to regroup what never left the row
    val sa = array_distinct(shingleArray(col("text"), 3))
    val sb = array_distinct(shingleArray(
      concat(col("text"), lit(" planted near duplicate marker")), 3))
    // the sort runs BELOW the shingling projection: a range exchange
    // samples its whole child once before partitioning, so an orderBy
    // placed after the projection evaluates the double regex pass twice
    // (measured +0.7 s at sf0.1); sorting the bare (doc_id, text) rows
    // first samples only the scan, and the projections above the Sort
    // are order-preserving
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), sa.as("sa"), sb.as("sb"))
      .select(col("doc_id"), size(array_intersect(col("sa"), col("sb"))).as("ni"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .select(col("doc_id"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni"))).as("jaccard"))
  }

  val q26Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ta,
      |    list_filter(regexp_split_to_array(lower(trim(text || ' planted near duplicate marker')), '\s+'), x -> x <> '') AS tb
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(ta) - 1),
      |                i -> concat(ta[i], ' ', ta[i+1], ' ', ta[i+2]))) END AS sa,
      |    CASE WHEN len(tb) < 3 THEN [array_to_string(tb, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(tb) - 1),
      |                i -> concat(tb[i], ' ', tb[i+1], ' ', tb[i+2]))) END AS sb
      |  FROM t)
      |SELECT doc_id,
      |  CAST(len(list_intersect(sa, sb)) AS DOUBLE)
      |    / (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jaccard
      |FROM s ORDER BY doc_id""".stripMargin

  // ===== q165 — dedup threshold calibration sweep =========================

  /** How aggressive would near-dup dedup be at each Jaccard threshold?
    * The calibration readout a curation team looks at before committing
    * to a θ: over a corpus with planted exact copies and per-doc-unique
    * near-copies (so no artificial mega-shingle ties the plants
    * together), EXACT trigram Jaccard on every pair sharing ≥1 shingle,
    * swept at θ ∈ {0.5, 0.7, 0.8, 0.9, 1.0}: pairs flagged and distinct
    * documents touched per θ. Jaccard is integer micro arithmetic
    * (|∩|·1e6 div |∪|) — no float anywhere.
    *
    * Scale shape: the pair universe is the exact shared-shingle
    * equi-join — the verification kernel, quadratic only inside a
    * shingle's posting list (bounded by the corpus shingle
    * document-frequency spectrum; stopword trigrams are the skew risk
    * and the production candidate generator is q21's banded MinHash,
    * which this sweep calibrates). The sweep itself is ONE pass over
    * the pair relation (5 conditional sums) plus one over the per-doc
    * max — thresholds never re-scan.
    */
  /** The q165/q175/q191 shared kernel: exact trigram-Jaccard (micro)
    * for every pair sharing ≥1 shingle over the planted corpus
    * (original + per-doc-unique near-copy + exact copy). Built ONCE
    * per corpus into the Warehouse (fingerprint-keyed, the q33/q88
    * discipline) — the shared-shingle self-join is the expensive part
    * and three calibration queries probe the same relation.
    */
  private[queries] def plantedJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "jacpairs", s"$dir/documents.parquet",
        params = "n=3,plant=v1")) { d =>
      buildPlantedJaccardPairs(s, dir).write.mode("overwrite").parquet(d)
    }
    s.read.parquet(out)
  }

  private def buildPlantedJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.MinHashLSH.shingleRows
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs
      .unionAll(docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" near dup marker "), col("doc_id")).as("text")))
      .unionAll(docs.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
    // the shingle relation feeds the per-doc counts AND both sides of
    // the self-join — pin it so the regex explode over the tripled
    // corpus runs once, not three times
    val sh = shingleRows(corpus, "doc_id", "text", n = 3).distinct()
      .transform(Materialize.pin)
    jaccardPairsFromShingles(sh)
  }

  /** Exact-Jaccard pair kernel over a distinct (sid, sh) shingle
    * relation: every pair of ids sharing ≥1 CANDIDATE-ELIGIBLE shingle,
    * with exact micro-quantized Jaccard (|∩|·1e6 div |∪|) computed over
    * ALL shingles of both members.
    *
    * `maxDf` is the posting-list skew escape hatch: the candidate
    * self-join's volume is Σ_g df(g)·(df(g)−1)/2 — quadratic in each
    * shingle's document frequency, and one corpus-frequent stopword
    * trigram at 100 TB makes it explode (JaccardKernelSpec plants
    * exactly that and pins the closed form). A finite cap EXCLUDES
    * grams with df > maxDf from candidate GENERATION only; surviving
    * pairs are still verified against the full shingle relation, so
    * every emitted jm is the true exact Jaccard — the cap can only
    * lose pairs whose EVERY shared gram is corpus-frequent (which at a
    * calibration θ ≥ 0.5 means near-boilerplate content), never
    * corrupt a value. The default ∞ keeps the q165/q175/q191 oracles
    * exact; with cap ≥ max df the output is bit-identical to uncapped
    * (spec-pinned).
    */
  private[queries] def jaccardPairsFromShingles(
      sh: DataFrame, maxDf: Long = Long.MaxValue): DataFrame = {
    val counts = sh.groupBy(col("sid")).agg(count(lit(1)).as("n_sh"))
    val inter =
      if (maxDf == Long.MaxValue) {
        // uncapped: every shared gram IS a candidate join row, so the
        // per-pair row count of the ONE shared-shingle join is already
        // the exact |∩| — no separate verify pass. (The r18 driver
        // bench caught the alternative the hard way: re-deriving |∩|
        // by melting candidate pairs back against the full shingle
        // relation multiplies the join volume by the per-doc shingle
        // count — 420 s timeouts at sf0.1 where this shape runs in
        // ~2 s.)
        sh.as("a")
          .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.sid") < col("b.sid"))
          .groupBy(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
          .agg(count(lit(1)).as("n_inter"))
      } else {
        val eligible = sh.join(
          sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
            .filter(col("df") <= maxDf).select(col("sh")),
          Seq("sh"))
        val cand = eligible.as("a")
          .join(eligible.as("b"), col("a.sh") === col("b.sh") && col("a.sid") < col("b.sid"))
          .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
          .distinct()
        // exact |∩| for the surviving candidates over the FULL shingle
        // relation: carry id_a's shingles (|cand|·n̄ rows — bounded,
        // the cap already shrank |cand|) and count the (id_b, sh)
        // equi-matches — one join keyed on (sid, sh), one aggregate
        cand.join(sh.select(col("sid").as("id_a"), col("sh")), Seq("id_a"))
          .join(sh.select(col("sid").as("id_b"), col("sh")), Seq("id_b", "sh"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("n_inter"))
      }
    inter
      .join(counts.select(col("sid").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col("sid").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("(n_inter * 1000000) div (n_a + n_b - n_inter)").as("jm"))
  }

  def q165ThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val jac = plantedJaccardPairs(s, dir)
    val thetas = Seq(500000L, 700000L, 800000L, 900000L, 1000000L)
    val pairSums = jac.agg(
      count(lit(1)).as("p_all"),
      thetas.map(t => sum(when(col("jm") >= t, 1L).otherwise(0L)).as(s"p_$t")): _*)
    val docSums = jac
      .select(explode(array(
        struct(col("id_a").as("d"), col("jm")),
        struct(col("id_b").as("d"), col("jm")))).as("x"))
      .groupBy(col("x.d")).agg(max(col("x.jm")).as("max_jm"))
      .agg(count(lit(1)).as("d_all"),
        thetas.map(t => sum(when(col("max_jm") >= t, 1L).otherwise(0L)).as(s"d_$t")): _*)
    pairSums.crossJoin(docSums)
      .select(explode(array(thetas.map(t =>
        struct(lit(t).as("theta_micro"), col(s"p_$t").as("n_pairs"),
          col(s"d_$t").as("n_docs"))): _*)).as("r"))
      .select(col("r.theta_micro"), col("r.n_pairs"), col("r.n_docs"))
      .orderBy(col("theta_micro"))
  }

  /** SQL twin of [[plantedJaccardPairs]] — the CTE prefix ending at
    * `jac (id_a, id_b, jm)`, shared by q165 and q175.
    */
  private val SqlJacPairs: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000,
      |    text || ' near dup marker ' || CAST(doc_id AS VARCHAR) FROM documents
      |  UNION ALL SELECT doc_id + 2000000, text FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ta
      |  FROM corpus),
      |sets AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_distinct(list_transform(range(1, len(ta) - 1),
      |        i -> concat(ta[i], ' ', ta[i+1], ' ', ta[i+2]))) END AS sa
      |  FROM t),
      |sh AS (SELECT doc_id, unnest(sa) AS sh FROM sets),
      |cnt AS (SELECT doc_id, len(sa) AS n_sh FROM sets),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT id_a, id_b,
      |    (n_inter * 1000000) // (ca.n_sh + cb.n_sh - n_inter) AS jm
      |  FROM inter
      |  JOIN cnt ca ON ca.doc_id = id_a
      |  JOIN cnt cb ON cb.doc_id = id_b)""".stripMargin

  val q165Sql: String =
    s"""WITH $SqlJacPairs,
      |perdoc AS (
      |  SELECT d, max(jm) AS max_jm
      |  FROM (SELECT id_a AS d, jm FROM jac UNION ALL SELECT id_b, jm FROM jac)
      |  GROUP BY 1),
      |th AS (SELECT CAST(unnest([500000, 700000, 800000, 900000, 1000000]) AS BIGINT)
      |  AS theta_micro)
      |SELECT theta_micro,
      |  (SELECT count(*) FROM jac WHERE jm >= theta_micro) AS n_pairs,
      |  (SELECT count(*) FROM perdoc WHERE max_jm >= theta_micro) AS n_docs
      |FROM th ORDER BY theta_micro""".stripMargin

  // ===== q213 — cross-source duplication matrix ===========================

  /** Who duplicates whom: the θ=0.5 near-dup pairs of the planted
    * corpus rolled up to a (source_x, source_y) matrix — the
    * provenance readout that tells a curation team whether duplication
    * is WITHIN a source (mirrors, re-crawls — dedup per source
    * suffices) or ACROSS sources (syndication — dedup must run
    * globally and attribution/licensing follows the q209 weakest-link
    * rule). Source pairs are order-normalized (least, greatest) so the
    * matrix is upper-triangular.
    *
    * Scale shape: ONE pass over the shared Warehouse-cached
    * exact-Jaccard pair relation ([[plantedJaccardPairs]] — the
    * kernel's cost is paid once per corpus state, the q165/q175/q191
    * discipline) plus two id-keyed joins to the (doc_id, source) map
    * and a hash aggregate. The source map rides the pair relation —
    * full documents never join.
    */
  def q213SourceDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    val pairs = plantedJaccardPairs(s, dir)
      .filter(col("jm") >= 500000)
      .select((col("id_a") % 1000000).as("base_a"), (col("id_b") % 1000000).as("base_b"))
    pairs
      .join(src.select(col("doc_id").as("base_a"), col("source").as("src_a")), Seq("base_a"))
      .join(src.select(col("doc_id").as("base_b"), col("source").as("src_b")), Seq("base_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_x"), col("source_y"))
  }

  val q213Sql: String =
    s"""WITH $SqlJacPairs,
      |src AS (SELECT doc_id, source FROM documents),
      |p AS (
      |  SELECT a.source AS src_a, b.source AS src_b
      |  FROM (SELECT id_a % 1000000 AS base_a, id_b % 1000000 AS base_b
      |        FROM jac WHERE jm >= 500000) j
      |  JOIN src a ON a.doc_id = j.base_a
      |  JOIN src b ON b.doc_id = j.base_b)
      |SELECT least(src_a, src_b) AS source_x,
      |  greatest(src_a, src_b) AS source_y,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ===== q175 — near-dup graph degree histogram ===========================

  /** The degree distribution of the θ=0.8 near-duplicate graph over the
    * q165 planted corpus — the structural readout that separates "my
    * dupes are isolated pairs" (degree spikes at 1–2, per-pair dedup is
    * safe) from "my dupes form hubs" (heavy tail, cluster resolution
    * like q36 is mandatory). Zero-degree documents are reported
    * explicitly so the histogram sums to the corpus size.
    *
    * Scale shape: one pass over the shared exact-Jaccard pair kernel
    * ([[plantedJaccardPairs]]), explode to (doc, pair) rows, two hash
    * aggregates (degree per doc, docs per degree). Nothing beyond the
    * kernel's cost.
    */
  def q175DupgraphDegrees(s: SparkSession, dir: String): DataFrame = {
    val deg = plantedJaccardPairs(s, dir)
      .filter(col("jm") >= 800000)
      .select(explode(array(col("id_a"), col("id_b"))).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
    val zero = Tables.load(s, dir, "documents")
      .agg((count(lit(1)) * 3).as("n_corpus"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_involved"))))
      .select(lit(0L).as("degree"), (col("n_corpus") - col("n_involved")).as("n_docs"))
    hist.unionAll(zero).filter(col("n_docs") > 0).orderBy(col("degree"))
  }

  val q175Sql: String =
    s"""WITH $SqlJacPairs,
      |deg AS (
      |  SELECT d, count(*) AS degree
      |  FROM (SELECT id_a AS d FROM jac WHERE jm >= 800000
      |        UNION ALL SELECT id_b FROM jac WHERE jm >= 800000)
      |  GROUP BY 1),
      |hist AS (SELECT degree, count(*) AS n_docs FROM deg GROUP BY 1),
      |tot AS (SELECT count(*) * 3 AS n_corpus FROM documents),
      |inv AS (SELECT count(*) AS n_involved FROM deg)
      |SELECT degree, n_docs FROM (
      |  SELECT degree, n_docs FROM hist
      |  UNION ALL SELECT CAST(0 AS BIGINT), n_corpus - n_involved FROM tot, inv)
      |WHERE n_docs > 0 ORDER BY degree""".stripMargin

  // ===== q176 — per-language character-trigram profile ====================

  /** The top-5 character trigrams per language with exact counts — the
    * interpretable face of the q17 n-gram language-ID heuristic (these
    * are the features it keys on) and the standard fingerprint for
    * spotting mislabeled or transliterated subcorpora. Text is
    * normalized exactly like the shingler (lower, whitespace collapsed
    * to single spaces) so profiles compose with the dedup family.
    *
    * Scale shape: character-window explode is length-linear and
    * map-side; one (lang, gram) hash aggregate; the top-5 rides the
    * bounded `topk_by_str` aggregate ([[graft.functions.TopKStrAgg]] —
    * count-desc, gram-ascending tiebreak, identical to the row_number
    * window by TopKStrAggSpec), so each split ships ≤ 5 entries per
    * lang through the exchange instead of sorting a whole language's
    * vocabulary on one reducer (r20 verdict's one perf-weak plan).
    * Counts are exact in double far beyond any corpus (< 2^53).
    */
  def q176CharTrigramProfile(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKStrAgg.register(s)
    val norm = Tables.load(s, dir, "documents")
      .select(col("lang"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("n"))
    // one regex pass per doc, not substring-per-position: substring(n,
    // i, 3) re-scans the string from its head to find codepoint i —
    // O(len²) per doc inside an interpreted lambda (the q217 lesson);
    // the (?s)-DOTALL lookahead captures the identical codepoint
    // trigrams in one linear pass (measured 2.3 s → 0.5 s at sf0.1)
    val counts = norm.filter(length(col("n")) >= 3)
      .select(col("lang"), explode(expr(
        "regexp_extract_all(n, '(?s)(?=(...)).', 1)")).as("g"))
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("n_occurrences"))
    counts
      .groupBy(col("lang"))
      .agg(graft.functions.TopKStrAgg.topkByStr(
        col("n_occurrences").cast("double"), col("g"), 5, asc = false).as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("lang"), (col("pos") + 1).as("rk"), col("e.key").as("trigram"),
        col("e.score").cast("long").as("n_occurrences"))
      .orderBy(col("lang"), col("rk"))
  }

  val q176Sql: String =
    """WITH d AS (
      |  SELECT lang, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
      |  FROM documents),
      |g AS (
      |  SELECT lang, unnest(list_transform(range(1, length(n) - 1),
      |    i -> substr(n, i, 3))) AS g
      |  FROM d WHERE length(n) >= 3),
      |c AS (SELECT lang, g, count(*) AS n_occurrences FROM g GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, g, n_occurrences,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY n_occurrences DESC, g) AS rk
      |  FROM c)
      |SELECT lang, rk, g AS trigram, n_occurrences
      |FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  // ===== q191 — near-dup cluster size histogram ===========================

  /** The cluster-size distribution of the θ=0.9 near-duplicate graph:
    * connected components over the exact-Jaccard pairs
    * ([[graft.dedup.DedupClusters.components]] — the same resolver
    * q36/q93 trust), rolled to (cluster_size → n_clusters). q175 reads
    * node degrees; this reads the component structure those edges
    * induce — the number that sizes dedup's actual yield (a corpus of
    * k-clusters keeps 1/k of duplicated mass). The oracle unrolls six
    * min-label-propagation rounds in SQL — sufficient for any
    * component of diameter ≤ 6, and the planted corpus's clusters are
    * per-document triangles (diameter ≤ 2) by construction.
    *
    * Scale shape: the pair kernel plus label propagation (per-round
    * join + min aggregate, the q131 Pregel shape with checkpoint
    * discipline), then two tiny aggregates. Component state is one
    * long per node.
    */
  def q191ClusterSizeHist(s: SparkSession, dir: String): DataFrame = {
    val pairs = plantedJaccardPairs(s, dir)
      .filter(col("jm") >= 900000)
      .select(col("id_a"), col("id_b"))
    graft.dedup.DedupClusters.components(pairs)
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  val q191Sql: String = {
    val round = (k: Int) =>
      s"""l$k AS (
         |  SELECT l${k - 1}.id, least(l${k - 1}.lbl, min(lx.lbl)) AS lbl
         |  FROM l${k - 1}
         |  JOIN e ON e.a = l${k - 1}.id
         |  JOIN l${k - 1} lx ON lx.id = e.b
         |  GROUP BY l${k - 1}.id, l${k - 1}.lbl)""".stripMargin
    s"""WITH $SqlJacPairs,
       |e0 AS (SELECT id_a, id_b FROM jac WHERE jm >= 900000),
       |e AS (SELECT id_a AS a, id_b AS b FROM e0
       |      UNION ALL SELECT id_b, id_a FROM e0),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |l0 AS (SELECT id, id AS lbl FROM nodes),
       |${(1 to 6).map(round).mkString(",\n")},
       |sizes AS (SELECT lbl, count(*) AS cluster_size FROM l6 GROUP BY 1)
       |SELECT cluster_size, count(*) AS n_clusters
       |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ===== q186 — prefix-template duplicate groups ==========================

  /** Template detection at the document HEAD: group documents by the
    * fingerprint of their first 16 normalized tokens and report every
    * group with more than one member — the boilerplate-opening signal
    * (licence headers, scraped navigation, form letters) that full-text
    * dedup (q19) misses because the tails differ and that n-gram
    * frequency (q54) can't attribute to specific documents. The corpus
    * is augmented with tail-variant copies (doc_id + 1000000, same
    * head + distinct tail, the q19 planting convention) so every
    * document with ≥ 16 tokens demonstrably groups with its variant
    * while shorter ones — whose WHOLE text is the prefix, which the
    * variant's extra tail changes — stay singletons.
    *
    * Scale shape: the prefix fingerprint is a map-side projection
    * (slice of the token array, md5 of 16 tokens — bounded work per
    * row regardless of doc length); one hash aggregate on the 32-byte
    * fingerprint. Exactly the q19 shape.
    */
  def q186PrefixDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" distinct tail variant "), col("doc_id"))
          .as("text")))
    corpus
      .select(col("doc_id"),
        md5(array_join(slice(tokens(col("text")), 1, 16), " ")).as("prefix_fp"))
      .groupBy(col("prefix_fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("rep_doc_id"))
  }

  val q186Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000,
      |    text || ' distinct tail variant ' || CAST(doc_id AS VARCHAR)
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    md5(array_to_string(
      |      (list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |        t -> t <> ''))[1:16], ' ')) AS prefix_fp
      |  FROM corpus)
      |SELECT prefix_fp, count(*) AS n_docs, min(doc_id) AS rep_doc_id
      |FROM p GROUP BY 1 HAVING count(*) > 1
      |ORDER BY rep_doc_id""".stripMargin

  // ===== q167 — n-gram novelty curve ======================================

  /** Per-document novelty: the fraction of a document's distinct
    * trigrams NOT introduced by any earlier document (first occurrence,
    * by doc_id order, is the document itself) — the memorization /
    * freshness signal a streaming corpus intake tracks (later documents
    * repeating earlier n-grams add less new information; a document
    * with novelty ≈ 0 is pure recombination). Integer micro ratio over
    * exact distinct-gram counts.
    *
    * Scale shape: per-doc distinct-gram totals are IN-ROW
    * (size(array_distinct) over the doc's own shingle array — the
    * former corpus-wide (doc, gram) distinct + eager checkpoint
    * existed only to serve this consumer a second time), and the
    * min-doc owner aggregate reads the raw shingle stream directly
    * (min() is duplicate-insensitive, so the distinct pass adds
    * nothing) with map-side partial combine. One shuffle on the
    * uniform gram hash, one on doc_id; no arrays or windows, no
    * quadratic anything, no materialization.
    */
  def q167NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.MinHashLSH.shingleRows
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    // the n=3 shingler expression, in-row (the shingleRows pattern,
    // including its whole-text fallback for docs shorter than 3 tokens)
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val grams3 = regexp_extract_all(norm, lit("(?:^| )(?=([^ ]+ [^ ]+ [^ ]+))"), lit(1))
    val perDoc = docs.select(col("doc_id"),
      size(array_distinct(when(size(grams3) === 0, array(norm)).otherwise(grams3)))
        .cast("long").as("n_grams"))
    // novel counts WITHOUT a gram-grain join back: a gram is novel for
    // exactly the doc that owns its min id, so the owner aggregate IS
    // the per-doc novel count
    val novel = shingleRows(docs, "doc_id", "text", n = 3)
      .groupBy(col("sh")).agg(min(col("sid")).as("first_id"))
      .groupBy(col("first_id").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_micro", expr("(n_novel * 1000000) div n_grams"))
      .orderBy(col("doc_id"))
  }

  val q167Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ta
      |  FROM documents),
      |sets AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_distinct(list_transform(range(1, len(ta) - 1),
      |        i -> concat(ta[i], ' ', ta[i+1], ' ', ta[i+2]))) END AS sa
      |  FROM t),
      |sh AS (SELECT doc_id, unnest(sa) AS sh FROM sets),
      |fs AS (SELECT sh, min(doc_id) AS first_id FROM sh GROUP BY 1)
      |SELECT sh.doc_id AS doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  (CAST(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000) // count(*) AS novelty_micro
      |FROM sh JOIN fs ON sh.sh = fs.sh
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q38 — repetition-based quality filter ============================

  /** Intra-document repetition signals — the filter family large text
    * curation pipelines run to drop degenerate/boilerplate docs
    * (low distinct-token ratio, one bigram dominating): distinct-token
    * ratio and top-bigram fraction per document, with the keep/drop
    * decision. Entirely two explode→hash-aggregate passes over the
    * codegen'd [[graft.dedup.MinHashLSH.shingleRows]] relation (n=1
    * tokens, n=2 bigrams) — no arrays ever shuffle, no UDFs; per-doc
    * state is a handful of counters regardless of doc length.
    */
  def q38RepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.MinHashLSH.shingleRows
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    // two-level aggregate (the bigrams shape below): per-(doc, token)
    // counts partial-combine map-side and roll up — no countDistinct
    // Expand doubling the exchanged rows
    val toks = shingleRows(docs, "doc_id", "text", n = 1)
      .groupBy(col("sid"), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col("sid"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"))
    val bigrams = shingleRows(docs, "doc_id", "text", n = 2)
      .groupBy(col("sid"), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col("sid"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram"))
    toks.join(bigrams, Seq("sid"))
      .select(col("sid").as("doc_id"),
        col("n_tokens"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("distinct_ratio"),
        round(col("top_bigram").cast("double") / col("n_bigrams"), 6).as("top_bigram_frac"),
        (col("n_distinct").cast("double") / col("n_tokens") >= 0.3 &&
          col("top_bigram").cast("double") / col("n_bigrams") <= 0.18).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q38Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk0
      |  FROM documents),
      |t2 AS (
      |  SELECT doc_id, CASE WHEN len(tk0) = 0 THEN [''] ELSE tk0 END AS tk FROM t),
      |tok AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct
      |  FROM t2),
      |bg AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
      |         ELSE list_transform(range(1, len(tk)), i -> concat(tk[i], ' ', tk[i+1])) END AS bs
      |  FROM t2),
      |bc AS (
      |  SELECT doc_id, b, count(*) AS c
      |  FROM (SELECT doc_id, unnest(bs) AS b FROM bg) GROUP BY 1, 2),
      |bsum AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    CAST(max(c) AS BIGINT) AS top_bigram
      |  FROM bc GROUP BY 1)
      |SELECT tok.doc_id, tok.n_tokens,
      |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
      |  round(CAST(top_bigram AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac,
      |  (CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3
      |    AND CAST(top_bigram AS DOUBLE) / n_bigrams <= 0.18) AS keep
      |FROM tok JOIN bsum USING (doc_id) ORDER BY doc_id""".stripMargin

  // ===== q39 — training-set decontamination (eval n-gram overlap) =========

  /** Benchmark decontamination — the check every serious training run
    * performs before shipping a dataset: flag training documents that
    * share any long n-gram with the held-out eval set (docs 0–9 stand
    * in for the benchmark; planted full copies with shifted ids prove
    * the detector fires). Scale shape: the eval side's distinct 8-gram
    * set is tiny by construction → broadcast hash join against one
    * codegen'd shingle pass over the training side; per-doc output is
    * (overlap count, contaminated flag) with zero-overlap docs
    * retained via the left join.
    */
  def q39Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.MinHashLSH.shingleRows
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val evalSet = docs.filter(col("doc_id") < 10)
    val train = docs.filter(col("doc_id") >= 10)
      .union(evalSet.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
    val evalGrams = shingleRows(evalSet, "doc_id", "text", n = 8)
      .select(col("sh")).distinct()
    // broadcast prune BEFORE the (doc, gram) distinct (the q65 stage-2
    // rule): the dedup shuffle only ever sees eval-hit grams, never the
    // full corpus gram stream
    val overlap = shingleRows(train, "doc_id", "text", n = 8)
      .join(broadcast(evalGrams), Seq("sh"))
      .distinct()
      .groupBy(col("sid").as("doc_id"))
      .agg(count(lit(1)).as("overlap_grams"))
    train.select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("overlap_grams"), lit(0L)).as("overlap_grams"),
        (coalesce(col("overlap_grams"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  val q39Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
      |  FROM (SELECT doc_id, text FROM documents
      |        UNION ALL
      |        SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10)),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(tk) - 6),
      |                i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2], ' ', tk[i+3], ' ',
      |                            tk[i+4], ' ', tk[i+5], ' ', tk[i+6], ' ', tk[i+7]))) END AS gs
      |  FROM t),
      |eg AS (SELECT DISTINCT unnest(gs) AS sh FROM g WHERE doc_id < 10),
      |dg AS (SELECT DISTINCT doc_id, unnest(gs) AS sh FROM g WHERE doc_id >= 10),
      |ov AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS overlap_grams
      |  FROM dg JOIN eg USING (sh) GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(overlap_grams, 0) AS overlap_grams,
      |  COALESCE(overlap_grams, 0) > 0 AS contaminated
      |FROM (SELECT doc_id FROM g WHERE doc_id >= 10) d
      |LEFT JOIN ov USING (doc_id) ORDER BY doc_id""".stripMargin

  // ===== q148 — contamination multiplicity histogram ======================

  /** HOW DEEP the eval leak runs: for every held-out 8-gram (q39's
    * grain and eval/train split, planted copies included), the number
    * of distinct training documents containing it — histogrammed as
    * (multiplicity → n_grams), multiplicity 0 = never leaked. q39
    * flags documents and q89 cuts them; this is the severity report
    * that decides which treatment ("one doc quotes the benchmark" vs
    * "the benchmark is boilerplate across the corpus" demand different
    * responses — the second also poisons the q54 boilerplate list).
    *
    * Scale shape: eval grams ride a broadcast (benchmarks are tiny —
    * the q39/q65 argument) that prunes the training gram stream
    * MAP-SIDE, BEFORE the (sid, gram) distinct — the corpus-wide gram
    * stream never shuffles (its former full-relation distinct was the
    * query's one corpus-sized exchange); the surviving hit set is
    * eval-sized. The two aggregates are gram-keyed then
    * multiplicity-keyed, each with map-side partials. Nothing
    * document-sized shuffles.
    */
  def q148ContaminationDepth(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.MinHashLSH.shingleRows
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val evalSet = docs.filter(col("doc_id") < 10)
    val train = docs.filter(col("doc_id") >= 10)
      .union(evalSet.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
    // checkpointed: consumed by the broadcast prune AND the final left
    // join — one shingle pass over the eval side
    val evalGrams = shingleRows(evalSet, "doc_id", "text", n = 8)
      .select(col("sh")).distinct()
      .transform(Materialize.pin)
    val hits = shingleRows(train, "doc_id", "text", n = 8)
      .join(broadcast(evalGrams), Seq("sh"))
      .distinct()
      .groupBy(col("sh")).agg(count(col("sid")).as("multiplicity"))
    evalGrams.join(hits, Seq("sh"), "left")
      .select(col("sh"), coalesce(col("multiplicity"), lit(0L)).as("multiplicity"))
      .groupBy(col("multiplicity")).agg(count(lit(1)).as("n_grams"))
      .orderBy(col("multiplicity"))
  }

  val q148Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
      |  FROM (SELECT doc_id, text FROM documents
      |        UNION ALL
      |        SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10)),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(tk) - 6),
      |                i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2], ' ', tk[i+3], ' ',
      |                            tk[i+4], ' ', tk[i+5], ' ', tk[i+6], ' ', tk[i+7]))) END AS gs
      |  FROM t),
      |eg AS (SELECT DISTINCT unnest(gs) AS sh FROM g WHERE doc_id < 10),
      |dg AS (SELECT DISTINCT doc_id, unnest(gs) AS sh FROM g WHERE doc_id >= 10),
      |m AS (
      |  SELECT eg.sh, CAST(count(dg.doc_id) AS BIGINT) AS multiplicity
      |  FROM eg LEFT JOIN dg USING (sh) GROUP BY 1)
      |SELECT multiplicity, count(*) AS n_grams
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q43 — PII / URL redaction ========================================

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"

  /** Contact-info scrubbing — the C4-style cleanup pass that strips
    * emails and URLs before text reaches a training set. Every 10th
    * document gets a planted contact suffix so the redactor provably
    * fires; emails are replaced first, then URLs (both patterns are
    * backtracking-free, so Java and RE2 regex engines produce identical
    * redactions and the cleaned text hash-compares exactly). Pure
    * per-row projection — single codegen'd pass, no shuffle.
    */
  def q43PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"),
            lit(" contact someone@example.com via https://example.com/path?q=1 now")))
          .otherwise(col("text")).as("text"))
    withPii
      .orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("n_urls"),
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          UrlRe, "<URL>").as("clean_text"))
  }

  val q43Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0
      |         THEN text || ' contact someone@example.com via https://example.com/path?q=1 now'
      |         ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
      |  regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    'https?://[^\s]+', '<URL>', 'g') AS clean_text
      |FROM d ORDER BY doc_id""".stripMargin

  // ===== q122 — character-distribution entropy (quality signal) ===========

  /** Per-document Shannon entropy of the character distribution —
    * the compression-proxy quality signal (near-zero entropy = filler
    * repetition like "aaaa…", high entropy near log|alphabet| = dense
    * mixed text; both tails are what Gopher-style quality rules cut).
    * Each distinct character's −p·ln p term is micro-quantized to a
    * long BEFORE the per-doc sum (the q77 discipline: the sum of
    * integers is order-independent across partitions and engines,
    * where a raw double sum would drift in the last ulps), with
    * p = c/L a ratio of exact int64 counts so both engines feed ln
    * identical doubles.
    *
    * Scale shape: char explosion is map-side (one row per character,
    * the corpus's 100 TB worst case — but each row is (doc_id, 1
    * char) and aggregates immediately); two hash aggregates, both on
    * doc_id-keyed grains with map-side partial combine; no joins.
    */
  def q122CharEntropy(s: SparkSession, dir: String): DataFrame = {
    // L = length(text) rides the explode as a per-doc constant, so no
    // second pass / window / join is ever needed to normalize p = c/L
    val chars = Tables.load(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).as("l"),
        explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "") // Spark's limit=-1 split keeps a trailing ""
    chars.groupBy(col("doc_id"), col("l"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .withColumn("term_micro",
        floor(-(col("c").cast("double") / col("l").cast("double"))
          * log(col("c").cast("double") / col("l").cast("double"))
          * 1e6 + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("l")).cast("long").as("n_chars_text"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("term_micro")).as("entropy_micro"))
      .orderBy(col("doc_id"))
  }

  val q122Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, length(text) AS l, unnest(string_split(text, '')) AS ch
      |  FROM documents WHERE length(text) > 0),
      |cnt AS (SELECT doc_id, l, ch, count(*) AS c FROM ch GROUP BY 1, 2, 3)
      |SELECT doc_id, CAST(max(l) AS BIGINT) AS n_chars_text,
      |  count(*) AS n_distinct_chars,
      |  CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / CAST(l AS DOUBLE))
      |    * ln(CAST(c AS DOUBLE) / CAST(l AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
      |    AS BIGINT) AS entropy_micro
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ========================================================================

  // ===== q138 — sentence-grain statistics =================================

  /** Per-document sentence segmentation statistics — sentence count,
    * mean sentence length in words, and the longest sentence — the
    * readability / degenerate-text signal at the grain BETWEEN q16's
    * token stats and q73's fixed-char chunks: wall-of-text documents
    * (one enormous "sentence") and chopped spam (hundreds of 2-word
    * ones) both sit far from natural prose on these axes. Sentences
    * split on terminal punctuation followed by whitespace
    * (`[.!?]+\s+` — identical regex semantics on both engines); the
    * mean micro-quantizes from the exact integer (word-sum, sentence
    * count) pair, so aggregation is order-free.
    *
    * Scale shape: split + explode + one doc-keyed hash aggregate —
    * map-side generation, one shuffle keyed by doc_id, per-doc state
    * is three counters. The sentence grain also feeds q73-style
    * sentence-bounded chunking at 100 TB (split on sentences, pack to
    * budget) without replanning.
    */
  def q138SentenceStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(col("text")), "[.!?]+\\s+")).as("sent"))
      .filter(col("sent") =!= "")
      .select(col("doc_id"),
        size(split(trim(col("sent")), "\\s+")).as("nw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sentences"),
        (floor(sum(col("nw")).cast("double") * lit(1e6) / count(lit(1)) + lit(0.5))
          / lit(1e6)).as("avg_sentence_words_r6"),
        max(col("nw")).as("max_sentence_words"))
      .orderBy(col("doc_id"))

  val q138Sql: String =
    """WITH sents AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[.!?]+\s+')) AS sent
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, len(regexp_split_to_array(trim(sent), '\s+')) AS nw
      |  FROM sents WHERE sent <> '')
      |SELECT doc_id, count(*) AS n_sentences,
      |  floor(CAST(sum(nw) AS DOUBLE) * 1000000 / count(*) + 0.5) / 1000000
      |    AS avg_sentence_words_r6,
      |  CAST(max(nw) AS INTEGER) AS max_sentence_words
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ===== q146 — quality-curriculum epoch schedule =========================

  /** q136's low-discrepancy interleave with CURRICULUM order inside
    * each source: documents rank by quality (q18's score,
    * micro-quantized; ties md5 then doc_id) instead of content hash,
    * so a loader reading in key order sees every source at corpus
    * proportion AND each source's cleanest documents first — the
    * curriculum-learning schedule (easy/clean → hard/noisy) with the
    * mixture guarantee intact. Position key is the same exact integer
    * arithmetic: pos = ((2·rk − 1) · N · 10⁶) div (2·n_s).
    *
    * Scale shape: identical to q136 — one source-keyed exchange for
    * rank + count, N by broadcast, no global sequence. The quality
    * score is a map-side codegen'd expression.
    */
  def q146CurriculumSchedule(s: SparkSession, dir: String): DataFrame = {
    val bySrc = Window.partitionBy(col("source"))
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), md5(col("text")).as("ck"),
        floor(qualityScore(col("text")) * lit(1e6) + lit(0.5)).cast("long")
          .as("q_micro"))
    docs
      .withColumn("rk", row_number().over(
        bySrc.orderBy(col("q_micro").desc, col("ck"), col("doc_id"))))
      .withColumn("n_s", count(lit(1)).over(bySrc))
      .crossJoin(broadcast(docs.select(count(lit(1)).as("n_total"))))
      .select(col("source"), col("doc_id"), col("q_micro"), col("rk"),
        expr("((2*rk - 1) * n_total * 1000000L) div (2 * n_s)").as("pos_micro"))
      .orderBy(col("pos_micro"), col("source"), col("doc_id"))
  }

  val q146Sql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id, md5(text) AS ck,
       |    CAST(floor((least(1.0, CAST($SqlTokenCount AS DOUBLE) / 50.0) * 0.4
       |      + (1.0 - least(1.0, ($SqlPunctRatio) * 10.0)) * 0.3
       |      + least(1.0, ($SqlStopRatio) * 5.0) * 0.3) * 1000000 + 0.5) AS BIGINT)
       |      AS q_micro
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, q_micro,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY q_micro DESC, ck, doc_id) AS rk,
       |    count(*) OVER (PARTITION BY source) AS n_s
       |  FROM d),
       |n AS (SELECT count(*) AS n_total FROM d)
       |SELECT source, doc_id, q_micro, CAST(rk AS INTEGER) AS rk,
       |  ((2*rk - 1) * n_total * 1000000) // (2 * n_s) AS pos_micro
       |FROM r, n
       |ORDER BY pos_micro, source, doc_id""".stripMargin

  // ===== q147 — per-source curation attrition matrix ======================

  /** WHERE each source loses documents: per source, the document count
    * after each curation stage — language allowlist, quality cut
    * (q18's score ≥ 0.5), exact-dedup survivorship (corpus-wide
    * min-id per fingerprint, computed over the quality survivors so
    * stages compose in pipeline order) — plus end-to-end retention in
    * integer basis points. q44 reports the global funnel; this is the
    * per-source accountability matrix a mixture owner reads before
    * reweighting (a source dying at the quality stage needs different
    * action than one dying to cross-source duplication).
    *
    * Scale shape: quality and language are map-side; survivorship is
    * ONE fingerprint-keyed hash aggregate joined back (min-id rule,
    * the q19 shape); the final matrix is one (source) aggregate.
    * Retention is `div` arithmetic — no float rate to diverge.
    */
  def q147SourceAttrition(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("en", "de", "es", "fr", "pt")
    // checkpointed: the survivor aggregate and the attrition join both
    // consume this relation — the regex-heavy quality score and the
    // md5 fingerprint must evaluate once per doc, not twice; the
    // materialized rows are narrow (no text column survives)
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("lang"),
        qualityScore(col("text")).as("q"), fingerprint(col("text")).as("fp"))
      .withColumn("lang_ok", col("lang").isin(langs.map(x => x: Any): _*))
      .withColumn("quality_ok", col("lang_ok") && col("q") >= 0.5)
      .transform(Materialize.pin)
    val reps = docs.filter(col("quality_ok"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("rep_id"))
    docs.join(reps, Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_ok"),
        sum(when(col("quality_ok"), 1L).otherwise(0L)).as("n_quality_ok"),
        sum(when(col("quality_ok") && col("doc_id") === col("rep_id"), 1L)
          .otherwise(0L)).as("n_survivors"))
      .withColumn("retention_bps", expr("(n_survivors * 10000) div n_total"))
      .orderBy(col("source"))
  }

  val q147Sql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id, lang,
       |    (least(1.0, CAST($SqlTokenCount AS DOUBLE) / 50.0) * 0.4
       |      + (1.0 - least(1.0, ($SqlPunctRatio) * 10.0)) * 0.3
       |      + least(1.0, ($SqlStopRatio) * 5.0) * 0.3) AS q,
       |    $SqlFingerprint AS fp
       |  FROM documents),
       |f AS (
       |  SELECT *, lang IN ('en','de','es','fr','pt') AS lang_ok,
       |    (lang IN ('en','de','es','fr','pt')) AND q >= 0.5 AS quality_ok
       |  FROM d),
       |reps AS (
       |  SELECT fp, min(doc_id) AS rep_id FROM f WHERE quality_ok GROUP BY 1)
       |SELECT source, count(*) AS n_total,
       |  CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
       |  CAST(sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
       |  CAST(sum(CASE WHEN quality_ok AND doc_id = rep_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_survivors,
       |  (CAST(sum(CASE WHEN quality_ok AND doc_id = rep_id THEN 1 ELSE 0 END)
       |    AS BIGINT) * 10000) // count(*) AS retention_bps
       |FROM f LEFT JOIN reps USING (fp)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Learned quality filter ([[graft.text.QualityClassifier]]): hashed
    * char-trigram features → closed-form naive-Bayes log-odds weights
    * (fit on the in-code prose/gibberish fixture, never on the corpus
    * under test) → micro-quantized integer mean → sign decision. The
    * trained counterpart of q18's heuristic composite; fully
    * DuckDB-ORACLED because every stage — md5 bucketing, the literal
    * weight vector, the sign-concordant integer mean — is engine-
    * neutral arithmetic. One map-side projection, no shuffle
    * (plan-locked in LearnedQualitySpec).
    */
  def q217LearnedQuality(s: SparkSession, dir: String): DataFrame =
    graft.text.QualityClassifier.score(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
      .select(col("doc_id"), col("n_grams"), col("score_micro"), col("label"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q217_learned_quality" -> (q217LearnedQuality _),
    "q147_source_attrition" -> (q147SourceAttrition _),
    "q148_contamination_depth" -> (q148ContaminationDepth _),
    "q146_curriculum_schedule" -> (q146CurriculumSchedule _),
    "q138_sentence_stats" -> (q138SentenceStats _),
    "q122_char_entropy" -> (q122CharEntropy _),
    "q16_text_stats" -> (q16TextStats _),
    "q17_lang_id" -> (q17LangId _),
    "q18_quality_score" -> (q18QualityScore _),
    "q19_dedup_exact_docs" -> (q19DedupExactDocs _),
    "q26_ngram_jaccard" -> (q26NgramJaccard _),
    "q165_threshold_sweep" -> (q165ThresholdSweep _),
    "q167_ngram_novelty" -> (q167NgramNovelty _),
    "q175_dupgraph_degrees" -> (q175DupgraphDegrees _),
    "q213_source_dup_matrix" -> (q213SourceDupMatrix _),
    "q176_char_trigram_profile" -> (q176CharTrigramProfile _),
    "q186_prefix_dedup" -> (q186PrefixDedup _),
    "q191_cluster_size_hist" -> (q191ClusterSizeHist _),
    "q38_repetition_filter" -> (q38RepetitionFilter _),
    "q39_decontaminate" -> (q39Decontaminate _),
    "q43_pii_redact" -> (q43PiiRedact _),
    "q107_lang_confusion" -> (q107LangConfusion _))

  val oracleSql: Map[String, String] = Map(
    "q217_learned_quality" -> graft.text.QualityClassifier.oracleSql,
    "q146_curriculum_schedule" -> q146Sql,
    "q147_source_attrition" -> q147Sql,
    "q148_contamination_depth" -> q148Sql,
    "q138_sentence_stats" -> q138Sql,
    "q122_char_entropy" -> q122Sql,
    "q16_text_stats" -> q16Sql,
    "q17_lang_id" -> q17Sql,
    "q107_lang_confusion" -> q107Sql,
    "q18_quality_score" -> q18Sql,
    "q19_dedup_exact_docs" -> q19Sql,
    "q26_ngram_jaccard" -> q26Sql,
    "q165_threshold_sweep" -> q165Sql,
    "q167_ngram_novelty" -> q167Sql,
    "q175_dupgraph_degrees" -> q175Sql,
    "q213_source_dup_matrix" -> q213Sql,
    "q176_char_trigram_profile" -> q176Sql,
    "q186_prefix_dedup" -> q186Sql,
    "q191_cluster_size_hist" -> q191Sql,
    "q38_repetition_filter" -> q38Sql,
    "q39_decontaminate" -> q39Sql,
    "q43_pii_redact" -> q43Sql)
}
