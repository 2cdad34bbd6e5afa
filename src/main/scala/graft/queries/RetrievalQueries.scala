package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Materialize, Tables}
import graft.dedup.MinHashLSH
import graft.similarity.{IvfIndex, Similarity}

/** Semantic retrieval / curation operators a training-data pipeline
  * runs between dedup and mixture: cluster-scoped semantic dedup
  * (SemDeDup, Abbas et al. 2023) and BM25 relevance scoring (Robertson
  * & Zaragoza 2009) — both exactly DuckDB-oracled.
  */
object RetrievalQueries {

  // ===== q82 — cluster-scoped semantic dedup (SemDeDup) ===================

  /** SemDeDup: coarse-quantize every embedding to its nearest centroid,
    * then look for near-duplicates ONLY within a cluster — the trick
    * that turns O(N²) semantic dedup into O(Σ cellsize²). Planted exact
    * copies (vec_id + 1000000, the q32/q74 convention) give the dup
    * side a known answer while the cluster-assignment side runs on the
    * real corpus; the oracle recomputes the FULL pipeline in SQL, not
    * the shortcut.
    *
    * The coarse quantizer is the per-label mean (q69's centroids,
    * micro-rounded to 6). The centroids Spark computes are CAPTURED and
    * spliced into the oracle SQL as literals (see [[q82Sql]]): both
    * engines then run assignment + dedup from the bit-identical
    * quantizer, eliminating the cross-engine mean-rounding boundary-tie
    * window entirely (previously a mean within an ulp of a 0.5e-6
    * boundary could round apart and flip a cell). The oracle still
    * recomputes everything DOWNSTREAM of the quantizer independently —
    * the quantizer is pipeline input, not the claim under test. (q69,
    * whose OUTPUT is the rounded mean itself, keeps engine-vs-engine
    * comparison: injecting there would make its oracle vacuous.)
    * Assignment reuses [[IvfIndex.assign]] — one codegen'd
    * projection per row scoring all C centroids from literals, no
    * join, no shuffle. A vector is `kept` unless a LOWER-id vector in
    * the same cell has cosine ≥ 0.99 (keep-first, deterministic).
    *
    * Scale shape: centroid build is one tiny agg (C×dim rows); the
    * only data-sized shuffle is the self-join on cell_id, whose cost
    * O(Σ c²) is controlled by the quantizer granularity — at 100 TB
    * you raise C (finer cells) exactly like IVF, and the assignment
    * stays a single map pass because centroids ride along as literals.
    */
  def q82SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.load(s, dir, "embeddings")
    val cents: Seq[(Int, Seq[Double])] = vecs
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 6).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        _.getField("c")).as("cent"))
      .collect()  // C rows (one per label) — the blessed tiny-centroid load
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toSeq
    q82CapturedCents.put(dir, cents) // feeds the literal-injected oracle
    val planted = vecs.select(col("vec_id"), col("embedding"))
      .union(vecs.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    // eager checkpoint: both self-join sides and the final spine read
    // the assignment — without it the per-vector nearest-centroid scan
    // runs three times
    val assigned = IvfIndex(cents).assign(planted)  // (vec_id, cell_id, emb)
      .transform(Materialize.pin)
    val dups = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell_id") === col("b.cell_id") && col("a.vec_id") > col("b.vec_id"))
      .filter(Similarity.cosine(col("a.emb"), col("b.emb")) >= 0.99)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"), min(col("b.vec_id")).as("dup_of"))
    assigned.select(col("vec_id"), col("cell_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("dup_of"),
        when(col("dup_of").isNull, 1).otherwise(0).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Centroids captured per corpus dir by [[q82SemanticDedup]] runs in
    * this process — the driver's Verify flow runs every query BEFORE
    * dumping `oracle_sql.json`, so the dump sees them. Keyed by dir
    * (not one global slot) so two corpora verified concurrently or
    * interleaved in one process can never splice each other's
    * centroids into the oracle: [[q82Sql]] injects literals only when
    * exactly ONE corpus has been captured, and otherwise falls back to
    * the self-computing clause (correct, minus the boundary-tie
    * immunity).
    */
  private val q82CapturedCents =
    new scala.collection.concurrent.TrieMap[String, Seq[(Int, Seq[Double])]]()

  /** The cent CTE as literal rows carrying Spark's captured centroids.
    * Each component was produced by `round(avg, 6)`, so its exact
    * 6-decimal rendering round-trips bit-identically through DuckDB's
    * double parser (the decimal is within half an ulp of the stored
    * double by construction). Locale-pinned formatting — a comma
    * decimal separator would silently corrupt the SQL.
    */
  private def centLiteralClause(cents: Seq[(Int, Seq[Double])]): String =
    cents.map { case (label, cs) =>
      val list = cs.map(v => "%.6f".formatLocal(java.util.Locale.ROOT, v))
        .mkString("[", ", ", "]")
      s"SELECT $label AS label, $list::DOUBLE[] AS c"
    }.mkString(" UNION ALL ")

  /** Self-computing fallback when q82 has not run in this process —
    * same semantics, minus the boundary-tie immunity.
    */
  private val centComputedClause: String =
    """SELECT label, list(c ORDER BY pos) AS c FROM (
      |    SELECT label, i AS pos, round(avg(x), 6) AS c
      |    FROM (SELECT label, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM v)
      |    GROUP BY 1, 2) GROUP BY 1""".stripMargin

  def q82Sql: String = {
    val cent = q82CapturedCents.readOnlySnapshot().values.toSeq match {
      case Seq(single) => centLiteralClause(single)
      case _ => centComputedClause // zero or multiple corpora captured
    }
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
      |cent AS ($cent),
      |allv AS (SELECT vec_id, e FROM v UNION ALL SELECT vec_id + 1000000, e FROM v),""".stripMargin +
    """
      |scored AS (
      |  SELECT a.vec_id, a.e, c.label AS cell_id,
      |    list_dot_product(a.e, c.c) / sqrt(list_dot_product(c.c, c.c)) AS s
      |  FROM allv a CROSS JOIN cent c),
      |asg AS (
      |  SELECT vec_id, e, cell_id FROM (
      |    SELECT vec_id, e, cell_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell_id ASC) AS rn
      |    FROM scored) WHERE rn = 1),
      |dups AS (
      |  SELECT a.vec_id, count(*) AS n_dups, min(b.vec_id) AS dup_of
      |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id > b.vec_id
      |  WHERE list_dot_product(a.e, b.e)
      |          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.99
      |  GROUP BY 1)
      |SELECT a.vec_id, a.cell_id, coalesce(d.n_dups, 0) AS n_dups, d.dup_of,
      |  CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS kept
      |FROM asg a LEFT JOIN dups d USING (vec_id) ORDER BY vec_id""".stripMargin
  }

  // ===== q83 — BM25 relevance scoring =====================================

  private val Bm25Terms = Seq("merge", "stream", "window")
  private val K1 = 1.2
  private val B = 0.75

  /** BM25 (Okapi, k1 = 1.2, b = 0.75) of every document against a fixed
    * query-term set — the ranked-retrieval primitive behind quality
    * classifiers and targeted corpus slicing. tf/df/dl all derive from
    * the SAME tokenization as the dedup stack ([[MinHashLSH.shingleRows]]
    * n = 1), so scores are consistent with every other text operator.
    *
    * Exactly oracled because each per-term score is micro-quantized
    * (×1e6, rounded to long — the q77 technique) BEFORE the per-doc
    * sum, making the sum integer arithmetic: associative, so Spark's
    * partial-aggregation order and DuckDB's scan order cannot diverge
    * in the last ulp.
    *
    * Scale shape: doc lengths are one map-side-combinable count;
    * corpus stats are a single broadcast row; df is a broadcast-sized
    * aggregate of the TERM-FILTERED token stream (the isin filter
    * prunes the token explosion to query terms before the shuffle).
    * No data×data join: tf⋈dl is doc-keyed, df and stats ride in as
    * broadcasts.
    */
  def q83Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toks = MinHashLSH.shingleRows(docs, "doc_id", "text", n = 1)
      .filter(col("sh") =!= "")
    // ONE tokenize pass (the r21 rewrite — the prior dl/tf/df/stats
    // derivation re-ran the tokenizer once per consumer, 4 scans in
    // q126's before-plan): the fixed 3-term query set pivots into
    // per-doc tf columns in the same doc-grain aggregate as the doc
    // length, the corpus stats AND the per-term dfs collapse to ONE
    // 1-row broadcast over that (checkpointed, text-free) relation,
    // and scoring is a map-side 3-struct explode — no term join at
    // all. Identical tf/df/dl/N inputs ⇒ identical micro terms.
    val perDoc = toks.groupBy(col("sid"))
      .agg(count(lit(1)).as("dl"),
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          count(when(col("sh") === t, 1)).as(s"tf_$i")
        }: _*)
      .transform(Materialize.pin)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_dl") +:
        Bm25Terms.zipWithIndex.map { case (_, i) =>
          count(when(col(s"tf_$i") > 0, 1)).as(s"df_$i")
        }: _*)
    val avgdl = col("tot_dl").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val termScore = idf * (col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / avgdl))
    perDoc.crossJoin(broadcast(stats))
      .select(col("sid"), col("dl"), col("n_docs"), col("tot_dl"),
        explode(array(Bm25Terms.zipWithIndex.map { case (_, i) =>
          struct(col(s"tf_$i").as("tf"), col(s"df_$i").as("df"))
        }: _*)).as("e"))
      .filter(col("e.tf") > 0)
      .select(col("sid"), col("dl"), col("n_docs"), col("tot_dl"),
        col("e.tf").as("tf"), col("e.df").as("df"))
      .withColumn("micro", floor(termScore * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_terms"), sum(col("micro")).as("msum"))
      .select(col("sid").as("doc_id"), col("n_terms"),
        (col("msum").cast("double") / lit(1e6)).as("score_r6"))
      .orderBy(col("doc_id"))
  }

  val q83Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      |  FROM documents),
      |tok AS (SELECT * FROM toks WHERE w <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
      |       WHERE w IN ('merge', 'stream', 'window') GROUP BY 1, 2),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |ts AS (
      |  SELECT t.doc_id,
      |    CAST(floor(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
      |      * (t.tf * ${K1 + 1.0}) / (t.tf + $K1 * (${1.0 - B} + $B * d.dl
      |        / (CAST(s.tot_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) * 1e6 + 0.5) AS BIGINT) AS micro
      |  FROM tf t JOIN dl d USING (doc_id) JOIN df f USING (w) CROSS JOIN stats s)
      |SELECT doc_id, count(*) AS n_terms,
      |  CAST(sum(micro) AS DOUBLE) / 1e6 AS score_r6
      |FROM ts GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q85 — binary-quantized ANN (sign bits + Hamming + rerank) ========

  /** Hamming-candidate ANN over 1-bit sign-quantized embeddings with
    * exact-cosine rerank — [[graft.similarity.BinaryAnn]]; see its doc
    * for the 16× memory story and the ids-only shuffle shape. Same
    * query set as q20 (vec_id < 50), k = 5 from C = 32 Hamming
    * survivors. Exactly oracled: packing (32-bit blocks), the
    * (hamming, vec_id) candidate cut, and the left-to-right dot in the
    * rerank are all bit-reproducible in DuckDB; recall against the
    * exact q20 answer is measured (not assumed) in BinaryAnnSpec.
    * C = 32 is the ORACLE-GATE knob (small candidate set keeps the
    * DuckDB twin cheap); the production recall knob is C = 256, which
    * measures recall@5 = 0.996 on sf0.01 and is pinned ≥ 0.9 in
    * BinaryAnnSpec — rerank cost stays C×|Q| rows either way.
    */
  def q85HammingAnn(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.load(s, dir, "embeddings")
    graft.similarity.BinaryAnn.hammingTopK(
        vecs, vecs.filter(col("vec_id") < 50), k = 5, candidates = 32)
      .withColumn("cosine_r6", round(col("cosine"), 6))
      .drop("cosine")
      .orderBy(col("query_id"), col("rank"))
  }

  val q85Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |bits AS (
      |  SELECT vec_id, list(wv ORDER BY w) AS bits FROM (
      |    SELECT vec_id, (i - 1) // 32 AS w,
      |      sum(CASE WHEN x > 0 THEN 1::BIGINT << ((i - 1) % 32) ELSE 0 END) AS wv
      |    FROM (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM v)
      |    GROUP BY 1, 2) GROUP BY 1),
      |q AS (SELECT vec_id AS query_id, bits AS qb FROM bits WHERE vec_id < 50),
      |ham AS (
      |  SELECT q.query_id, b.vec_id,
      |    list_sum(list_transform(list_zip(q.qb, b.bits),
      |      p -> bit_count(xor(p[1], p[2])))) AS hamming
      |  FROM q, bits b WHERE b.vec_id <> q.query_id),
      |cand AS (
      |  SELECT query_id, vec_id, hamming,
      |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS crank
      |  FROM ham),
      |rer AS (
      |  SELECT c.query_id, c.vec_id, c.hamming,
      |    list_dot_product(qv.e, vv.e)
      |      / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(vv.e, vv.e))) AS cosine
      |  FROM cand c
      |  JOIN v qv ON qv.vec_id = c.query_id
      |  JOIN v vv ON vv.vec_id = c.vec_id
      |  WHERE c.crank <= 32),
      |ranked AS (
      |  SELECT query_id, vec_id, hamming, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM rer)
      |SELECT query_id, rank, vec_id, CAST(hamming AS BIGINT) AS hamming,
      |  round(cosine, 6) AS cosine_r6
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ===== q88 — binary-ANN over a persisted code index =====================

  /** q85's search against a [[graft.similarity.BinaryAnn.buildIndex]]-
    * persisted sign-bit code table — the q25/q33 persistence convention
    * for the binary family: the corpus-wide packing pass runs ONCE
    * (Warehouse build-once, fingerprint-keyed), and every later search
    * scans the ~16×-smaller stored codes; full-precision embeddings are
    * read only for the C×Q rerank candidates. Results equal q85 by
    * construction (packing is deterministic), so the oracle is the
    * same SQL — an independent full recompute in DuckDB.
    */
  def q88HammingAnnIndexed(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.load(s, dir, "embeddings")
    val idxDir = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "binary_ann_codes",
        s"$dir/embeddings.parquet", params = "words=32bit")) { d =>
      graft.similarity.BinaryAnn.buildIndex(vecs, d)
    }
    graft.similarity.BinaryAnn.hammingTopKFromIndex(
        idxDir, vecs, vecs.filter(col("vec_id") < 50), k = 5, candidates = 32)
      .withColumn("cosine_r6", round(col("cosine"), 6))
      .drop("cosine")
      .orderBy(col("query_id"), col("rank"))
  }

  // ===== q90 — product-quantization ANN (PQ codes + ADC scan + rerank) ====

  /** PQ-ADC ANN over a Warehouse-persisted code index —
    * [[graft.similarity.PqIndex]]; see its doc for the 32× compression
    * and the codes-only-shuffle story. Same query set as q20/q85
    * (vec_id < 50), k = 5 from C = 32 ADC survivors. Exactly oracled
    * via the q82 literal-injection pattern: the fitted codebooks
    * (rounded to 6 decimals at fit time) are captured and spliced into
    * the oracle as literals, and the oracle re-runs the FULL pipeline —
    * encode (argmin of the same reduced distance, same tie-break), the
    * micro-quantized ADC sum, the (adc, vec_id) candidate cut, and the
    * exact-cosine rerank — independently in DuckDB. C = 32 is the
    * oracle-gate knob; production recall is measured (not assumed) in
    * PqAnnSpec at C = 256.
    */
  def q90PqAnn(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.load(s, dir, "embeddings")
    val idxDir = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "pq_index", s"$dir/embeddings.parquet",
        params = "m=8,ksub=16,seed=42,maxIter=10")) { d =>
      val cb = graft.similarity.PqIndex.fit(vecs, m = 8, ksub = 16)
      graft.similarity.PqIndex.save(cb, cb.encode(vecs), d)
    }
    val (cb, codes) = graft.similarity.PqIndex.load(s, idxDir)
    q90CapturedBooks.put(dir, cb) // feeds the literal-injected oracle
    cb.adcTopK(vecs, codes, vecs.filter(col("vec_id") < 50), k = 5, candidates = 32)
      .withColumn("cosine_r6", round(col("cosine"), 6))
      .drop("cosine")
      .orderBy(col("query_id"), col("rank"))
  }

  /** Codebooks captured per corpus dir by [[q90PqAnn]] — the q82
    * keying convention: literals are injected only when exactly one
    * corpus has been captured. There is no self-computing fallback
    * (k-means is not SQL-expressible), so an uncaptured render emits a
    * valid empty-result query — it can only be dumped if q90 never ran
    * in this process, in which case there is no result to compare
    * either.
    */
  private val q90CapturedBooks =
    new scala.collection.concurrent.TrieMap[String, graft.similarity.PqCodebooks]()

  private def bookLiteralClause(cb: graft.similarity.PqCodebooks): String =
    cb.books.zipWithIndex.flatMap { case (b, mi) =>
      b.zipWithIndex.map { case (c, k) =>
        val list = c.map(v => "%.6f".formatLocal(java.util.Locale.ROOT, v))
          .mkString("[", ", ", "]")
        s"SELECT $mi AS m, $k AS k, $list::DOUBLE[] AS c"
      }
    }.mkString(" UNION ALL ")

  def q90Sql: String = q90CapturedBooks.readOnlySnapshot().values.toSeq match {
    case Seq(cb) =>
      val d = cb.dsub
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cb AS (${bookLiteralClause(cb)}),
        |enc AS (
        |  SELECT vec_id, m, k AS code FROM (
        |    SELECT v.vec_id, cb.m, cb.k,
        |      row_number() OVER (PARTITION BY v.vec_id, cb.m
        |        ORDER BY list_dot_product(cb.c, cb.c)
        |          - 2 * list_dot_product(v.e[(cb.m*$d+1):(cb.m*$d+$d)], cb.c) ASC,
        |          cb.k ASC) AS rn
        |    FROM v CROSS JOIN cb) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 50),
        |lut AS (
        |  SELECT q.query_id, cb.m, cb.k,
        |    CAST(floor((list_dot_product(cb.c, cb.c)
        |      - 2 * list_dot_product(q.qe[(cb.m*$d+1):(cb.m*$d+$d)], cb.c))
        |      * 1e6 + 0.5) AS BIGINT) AS micro
        |  FROM q CROSS JOIN cb),
        |adc AS (
        |  -- CAST: DuckDB sums BIGINT into HUGEINT, which the driver's
        |  -- pandas bridge renders as a float — the value is exact either
        |  -- way, the cast keeps the compared dtype integral
        |  SELECT l.query_id, e.vec_id, CAST(sum(l.micro) AS BIGINT) AS adc
        |  FROM enc e JOIN lut l ON l.m = e.m AND l.k = e.code
        |  WHERE e.vec_id <> l.query_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT query_id, vec_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS crank
        |  FROM adc),
        |rer AS (
        |  SELECT c.query_id, c.vec_id, c.adc,
        |    list_dot_product(qv.e, vv.e)
        |      / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(vv.e, vv.e))) AS cosine
        |  FROM cand c
        |  JOIN v qv ON qv.vec_id = c.query_id
        |  JOIN v vv ON vv.vec_id = c.vec_id
        |  WHERE c.crank <= 32),
        |ranked AS (
        |  SELECT query_id, vec_id, adc, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM rer)
        |SELECT query_id, rank, vec_id, adc, round(cosine, 6) AS cosine_r6
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    case _ =>
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS INTEGER) AS rank,
        |  CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS adc,
        |  CAST(NULL AS DOUBLE) AS cosine_r6 WHERE false""".stripMargin
  }

  // ===== q98 — k-means cluster profile (corpus cartography) ===============

  /** Cluster cartography — the per-cell census a curation team reads
    * before deciding what to up/down-sample (the SemDeDup/DoReMi-style
    * "what lives where" map): for each k-means cell, how many vectors
    * sit there and how tight they hug the centroid. Tightness is the
    * SUM of micro-quantized cosines (floor(c·1e6 + 0.5), a BIGINT) —
    * integer-exact across engines, where a float mean would reopen
    * the cross-engine rounding window q82 closed.
    *
    * Quantizer = the q25/q75 Warehouse IVF fit with centroids ROUNDED
    * to 6 decimals — rounding DEFINES this query's quantizer (the
    * PqIndex.fit convention) so the captured literals round-trip
    * bit-identically into DuckDB. K-means itself is not
    * SQL-expressible, so the oracle takes the rounded centroids as
    * pipeline INPUT (literal-injected, dir-keyed — the q82/q90
    * pattern) and independently recomputes assignment (same score,
    * same lowest-cell tie-break) and the census.
    *
    * Scale shape: the fit is Warehouse-amortized (shared with the q25
    * family); assignment is one projection against centroid literals —
    * no join, no shuffle ([[IvfIndex.assign]]); the tightness join is
    * a broadcast of C centroid rows; the census is a C-row hash
    * aggregate with map-side partial combine. Nothing corpus-sized
    * shuffles at any scale.
    */
  def q98KmeansProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.VectorOps.register(s) // cosine below rides dot64
    val vecs = Tables.load(s, dir, "embeddings")
    val idxDir = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "ivf_index", s"$dir/embeddings.parquet",
        params = "c=16,seed=42,maxIter=5")) { d =>
      val idx = IvfIndex.fit(vecs, c = 16, maxIter = 5)
      IvfIndex.save(idx, idx.assign(vecs), d)
    }
    val (raw, _) = IvfIndex.load(s, idxDir)
    val cents: Seq[(Int, Seq[Double])] = raw.centroids.map { case (id, c) =>
      id -> c.map(v =>
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    q98CapturedCents.put(dir, cents) // feeds the literal-injected oracle
    val assigned = IvfIndex(cents).assign(vecs.select(col("vec_id"), col("embedding")))
    val centDf = cents.toDF("cell_id", "centroid")
    assigned.join(broadcast(centDf), Seq("cell_id"))
      .select(col("cell_id"),
        floor(Similarity.cosine(col("emb"), col("centroid")) * lit(1e6) + lit(0.5))
          .cast("bigint").as("q6"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q6")).as("sum_cos_q6"))
      .orderBy(col("cell_id"))
  }

  /** Rounded centroids captured per corpus dir by [[q98KmeansProfile]]
    * — q90's keying + no-self-computing-fallback convention (k-means
    * is not SQL-expressible; an uncaptured render can only be dumped
    * if q98 never ran, when there is nothing to compare either).
    */
  private val q98CapturedCents =
    new scala.collection.concurrent.TrieMap[String, Seq[(Int, Seq[Double])]]()

  private def q98CentLiteralClause(cents: Seq[(Int, Seq[Double])]): String =
    cents.map { case (cellId, c) =>
      val list = c.map(v => "%.6f".formatLocal(java.util.Locale.ROOT, v))
        .mkString("[", ", ", "]")
      s"SELECT $cellId AS cell_id, $list::DOUBLE[] AS c"
    }.mkString(" UNION ALL ")

  def q98Sql: String = q98CapturedCents.readOnlySnapshot().values.toSeq match {
    case Seq(cents) =>
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (${q98CentLiteralClause(cents)}),
        |scored AS (
        |  SELECT v.vec_id, v.e, cent.cell_id,
        |    list_dot_product(v.e, cent.c) / sqrt(list_dot_product(cent.c, cent.c)) AS s
        |  FROM v CROSS JOIN cent),
        |asg AS (
        |  SELECT vec_id, e, cell_id FROM (
        |    SELECT vec_id, e, cell_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell_id ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |j AS (
        |  SELECT a.cell_id,
        |    CAST(floor(list_dot_product(a.e, c.c)
        |      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.c, c.c)))
        |      * 1e6 + 0.5) AS BIGINT) AS q6
        |  FROM asg a JOIN cent c USING (cell_id))
        |SELECT cell_id, count(*) AS n_vecs, CAST(sum(q6) AS BIGINT) AS sum_cos_q6
        |FROM j GROUP BY cell_id ORDER BY cell_id""".stripMargin
    case _ =>
      """SELECT CAST(NULL AS INTEGER) AS cell_id, CAST(NULL AS BIGINT) AS n_vecs,
        |  CAST(NULL AS BIGINT) AS sum_cos_q6 WHERE false""".stripMargin
  }

  // ===== q126 — hybrid retrieval: reciprocal-rank fusion ==================

  /** Hybrid search: the q83 BM25 text ranking and a q20-shaped dense
    * cosine ranking (query = vector 0's embedding) fused by
    * reciprocal-rank fusion — score(d) = Σ 1/(60+rank_d) over the
    * rankings that contain d (Cormack et al. 2009, k=60). RRF only
    * consumes RANKS, so the fusion layer is pure integer arithmetic
    * (⌊10⁶/(60+rank)⌋ via integer division — nothing to drift), and
    * the doubles stay inside each ranking where both engines compute
    * identical values. Vector 0 itself appears only in the text
    * ranking (the dense ranking excludes self, the q20 convention).
    *
    * Scale shape: each ranking is cut to its top-100 by the bounded
    * `topk_by` aggregate (≤100 entries per split — no global sort of
    * either score space); the fusion joins two 100-row lists and
    * TakeOrdereds the top-50. At 100 TB the dense side swaps
    * brute-force for the IVF/PQ/Hamming index probes (q25/q88/q90) —
    * the fusion layer is unchanged, which is the point of fusing on
    * ranks.
    */
  def q126HybridRrf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKAgg.register(s)
    val vecs = Tables.load(s, dir, "embeddings")
    val vrank = Similarity
      .bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 100)
      .select(col("vec_id").as("doc_id"), col("rank").as("rank_vec"))
    val trank = q83Bm25(s, dir)
      .agg(graft.functions.TopKAgg
        .topkBy(col("score_r6"), col("doc_id"), 100, asc = false).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("e.id").as("doc_id"), (col("pos") + 1).as("rank_text"))
    vrank.join(trank, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000L div (60 + rank_vec)"), lit(0L))
          + coalesce(expr("1000000L div (60 + rank_text)"), lit(0L)))
      .select(col("doc_id"), col("rank_text"), col("rank_vec"), col("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(50)
  }

  val q126Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      |  FROM documents),
      |tok AS (SELECT * FROM toks WHERE w <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
      |       WHERE w IN ('merge', 'stream', 'window') GROUP BY 1, 2),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |ts AS (
      |  SELECT t.doc_id,
      |    CAST(floor(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
      |      * (t.tf * ${K1 + 1.0}) / (t.tf + $K1 * (${1.0 - B} + $B * d.dl
      |        / (CAST(s.tot_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) * 1e6 + 0.5) AS BIGINT) AS micro
      |  FROM tf t JOIN dl d USING (doc_id) JOIN df f USING (w) CROSS JOIN stats s),
      |tscore AS (
      |  SELECT doc_id, CAST(sum(micro) AS DOUBLE) / 1e6 AS score_r6
      |  FROM ts GROUP BY doc_id),
      |trank AS (
      |  SELECT doc_id, rank_text FROM (
      |    SELECT doc_id,
      |      row_number() OVER (ORDER BY score_r6 DESC, doc_id) AS rank_text
      |    FROM tscore) WHERE rank_text <= 100),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id = 0),
      |scored AS (
      |  SELECT v.vec_id,
      |    list_dot_product(q.qe, v.e)
      |      / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(v.e, v.e))) AS cosine
      |  FROM q, v WHERE v.vec_id <> q.query_id),
      |vrank AS (
      |  SELECT vec_id AS doc_id, rank_vec FROM (
      |    SELECT vec_id,
      |      row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank_vec
      |    FROM scored) WHERE rank_vec <= 100)
      |SELECT COALESCE(t.doc_id, vr.doc_id) AS doc_id, t.rank_text, vr.rank_vec,
      |  COALESCE(CAST(1000000 // (60 + vr.rank_vec) AS BIGINT), 0)
      |    + COALESCE(CAST(1000000 // (60 + t.rank_text) AS BIGINT), 0) AS rrf_micro
      |FROM trank t FULL OUTER JOIN vrank vr ON t.doc_id = vr.doc_id
      |ORDER BY rrf_micro DESC, doc_id LIMIT 50""".stripMargin

  // ===== q128 — semantic decontamination cut (embedding grain) ============

  /** Embedding-space decontamination: every training vector whose
    * cosine against ANY held-out eval vector reaches 0.30 is cut — the
    * semantic complement of the n-gram cuts (q39/q65/q89), catching
    * paraphrased eval leakage that exact n-gram matching misses
    * (the GPT-3/Llama "fuzzy dedup against benchmarks" step). Eval =
    * vec_id < 50 (the q20 query-set convention), training = the rest.
    * Per-pair cosines are micro-quantized BEFORE the per-vector max —
    * floor is monotone, so max-of-micro ≡ micro-of-max, and the
    * aggregate is exact integer arithmetic on both engines.
    *
    * Scale shape: an eval benchmark is always tiny relative to a
    * 100 TB corpus — the eval side rides a broadcast, the corpus side
    * is one map pass, and the per-vector max partial-aggregates
    * map-side, so the only exchange carries ONE row per training
    * vector. No window, no self-join; contamination thresholds tune
    * without replanning. At extreme eval sizes the broadcast swaps for
    * the q85/q88 Hamming prefilter — the cut layer is unchanged.
    */
  def q128SemanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorOps.register(s)
    val vecs = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val eval = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id").as("eval_id"), col("emb").as("eval_emb"))
    vecs.filter(col("vec_id") >= 50)
      .crossJoin(broadcast(eval))
      .withColumn("micro",
        floor(Similarity.cosine(col("emb"), col("eval_emb")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy(col("vec_id"))
      .agg(max(col("micro")).as("max_eval_cos_micro"),
        sum(when(col("micro") >= 300000, 1L).otherwise(0L)).as("n_eval_hits"))
      .withColumn("kept", (col("max_eval_cos_micro") < 300000).cast("int"))
      .orderBy(col("vec_id"))
  }

  val q128Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |ev AS (SELECT vec_id AS eval_id, e AS ee FROM v WHERE vec_id < 50),
      |tr AS (SELECT vec_id, e FROM v WHERE vec_id >= 50),
      |p AS (
      |  SELECT tr.vec_id,
      |    CAST(floor(list_dot_product(tr.e, ev.ee)
      |      / (sqrt(list_dot_product(tr.e, tr.e)) * sqrt(list_dot_product(ev.ee, ev.ee)))
      |      * 1000000 + 0.5) AS BIGINT) AS micro
      |  FROM tr, ev)
      |SELECT vec_id, max(micro) AS max_eval_cos_micro,
      |  CAST(sum(CASE WHEN micro >= 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits,
      |  CAST(CASE WHEN max(micro) < 300000 THEN 1 ELSE 0 END AS INTEGER) AS kept
      |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ===== q149 — cluster cohesion / separation report ======================

  /** Embedding-space label quality: per label, the mean cosine of its
    * vectors to their OWN centroid vs to the nearest OTHER centroid —
    * the silhouette-style compactness/separation readout that says
    * whether labels are usable as IVF cells (q25/q82's premise) before
    * anything trusts them. Centroids are q82's per-label rounded means,
    * CAPTURED and literal-injected into the oracle (the q82 discipline
    * — the quantities under test are the N·C cosines, not the
    * centroid build). Per-pair cosines micro-quantize before any
    * aggregation; per-label means derive from exact long sums.
    *
    * Scale shape: the centroid table is C rows — broadcast; scoring is
    * one map pass over the corpus (×C fanout inside the row, no
    * shuffle), then a vec-keyed and a label-keyed hash aggregate. At
    * 100 TB this is the cheapest whole-corpus embedding audit that
    * exists: strictly one scan.
    */
  def q149ClusterCohesion(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorOps.register(s)
    val vecs = Tables.load(s, dir, "embeddings")
    val cents: Seq[(Int, Seq[Double])] = vecs
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 6).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        _.getField("c")).as("cent"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toSeq
    q82CapturedCents.put(dir, cents)
    val centDf = s.createDataFrame(cents.map { case (l, c) => (l, c) })
      .toDF("c_label", "cent")
    val perVec = vecs
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .crossJoin(broadcast(centDf))
      .withColumn("micro",
        floor(Similarity.cosine(col("emb"), col("cent")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("c_label") === col("label"), col("micro"))).as("own"),
        max(when(col("c_label") =!= col("label"), col("micro"))).as("other"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        floor(sum(col("own")).cast("double") / count(lit(1)) + lit(0.5)).cast("long")
          .as("mean_own_micro"),
        floor(sum(col("other")).cast("double") / count(lit(1)) + lit(0.5)).cast("long")
          .as("mean_other_micro"))
      .withColumn("separation_micro", col("mean_own_micro") - col("mean_other_micro"))
      .orderBy(col("label"))
  }

  def q149Sql: String = {
    val cent = q82CapturedCents.readOnlySnapshot().values.toSeq match {
      case Seq(single) => centLiteralClause(single)
      case _ => centComputedClause
    }
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
      |cent AS ($cent),
      |p AS (
      |  SELECT v.vec_id, v.label, cent.label AS c_label,
      |    CAST(floor(list_dot_product(v.e, cent.c)
      |      / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(cent.c, cent.c)))
      |      * 1000000 + 0.5) AS BIGINT) AS micro
      |  FROM v, cent),
      |pv AS (
      |  SELECT vec_id, label,
      |    max(CASE WHEN c_label = label THEN micro END) AS own,
      |    max(CASE WHEN c_label <> label THEN micro END) AS other
      |  FROM p GROUP BY 1, 2)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(floor(CAST(sum(own) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mean_own_micro,
      |  CAST(floor(CAST(sum(other) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mean_other_micro,
      |  CAST(floor(CAST(sum(own) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |    - CAST(floor(CAST(sum(other) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |    AS separation_micro
      |FROM pv GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ===== q214 — corpus-scale hard negatives via the ANN ladder ============

  /** q207's declared scale swap, made real: contrastive pair mining
    * where the candidate generator is the binary-Hamming ANN (q85's
    * 16×-smaller sign-bit codes, bounded `topk_by` cut) instead of a
    * brute-force scored pass — the shape that mines positives and hard
    * negatives when BOTH sides are the corpus. Per anchor: top-64
    * Hamming candidates → exact-cosine rerank → label decoration →
    * top-3 same-label positives + top-3 different-label hard negatives.
    * Fully DuckDB-oracled (sign-bit packing is SQL-expressible — the
    * q85 argument), so the approximation is pinned exactly, not
    * recall-sampled.
    *
    * Scale shape: stage 1 ships ids + an int distance, ≤ C entries per
    * (split, anchor); label decoration joins at CANDIDATE grain (Q×C
    * rows broadcast against the label map — the corpus never shuffles);
    * the role ranking is the bounded aggregate. At 100 TB anchors
    * batch through the same persisted code index as q88.
    */
  def q214HardNegativesAnn(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKAgg.register(s)
    val vecs = Tables.load(s, dir, "embeddings")
    val cand = graft.similarity.BinaryAnn.hammingTopK(
      vecs, vecs.filter(col("vec_id") < 50), k = 64, candidates = 64)
    val labels = vecs.select(col("vec_id"), col("label"))
    cand
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("q_label")),
        Seq("query_id"))
      .join(labels, Seq("vec_id"))
      .select(col("query_id"),
        when(col("label") === col("q_label"), lit("pos")).otherwise(lit("neg"))
          .as("role"),
        col("vec_id"), col("cosine"))
      .groupBy(col("query_id"), col("role"))
      .agg(graft.functions.TopKAgg.topkBy(
        col("cosine"), col("vec_id"), 3, asc = false).as("tk"))
      .select(col("query_id"), col("role"),
        posexplode(col("tk")).as(Seq("pos0", "e")))
      .select(col("query_id"), col("role"), (col("pos0") + 1).as("rank"),
        col("e.id").as("vec_id"), round(col("e.score"), 6).as("cosine_r6"))
      .orderBy(col("query_id"), col("role"), col("rank"))
  }

  val q214Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
      |bits AS (
      |  SELECT vec_id, list(wv ORDER BY w) AS bits FROM (
      |    SELECT vec_id, (i - 1) // 32 AS w,
      |      sum(CASE WHEN x > 0 THEN 1::BIGINT << ((i - 1) % 32) ELSE 0 END) AS wv
      |    FROM (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM v)
      |    GROUP BY 1, 2) GROUP BY 1),
      |q AS (SELECT vec_id AS query_id, bits AS qb FROM bits WHERE vec_id < 50),
      |ham AS (
      |  SELECT q.query_id, b.vec_id,
      |    list_sum(list_transform(list_zip(q.qb, b.bits),
      |      p -> bit_count(xor(p[1], p[2])))) AS hamming
      |  FROM q, bits b WHERE b.vec_id <> q.query_id),
      |cand AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS crank
      |  FROM ham),
      |rer AS (
      |  SELECT c.query_id, c.vec_id,
      |    CASE WHEN vv.label = qv.label THEN 'pos' ELSE 'neg' END AS role,
      |    list_dot_product(qv.e, vv.e)
      |      / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(vv.e, vv.e))) AS cosine
      |  FROM cand c
      |  JOIN v qv ON qv.vec_id = c.query_id
      |  JOIN v vv ON vv.vec_id = c.vec_id
      |  WHERE c.crank <= 64),
      |ranked AS (
      |  SELECT query_id, role, vec_id, cosine,
      |    row_number() OVER (PARTITION BY query_id, role
      |      ORDER BY cosine DESC, vec_id) AS rank
      |  FROM rer)
      |SELECT query_id, role, rank, vec_id, round(cosine, 6) AS cosine_r6
      |FROM ranked WHERE rank <= 3 ORDER BY query_id, role, rank""".stripMargin

  // ===== q218 — metadata-filtered ANN over the decorated code index ======

  /** RAG-style FILTERED retrieval: top-k within a metadata slice
    * (label = 3 here — source/date predicates are the same shape),
    * with the predicate applied BEFORE the Hamming candidate cut on a
    * [[graft.similarity.BinaryAnn.buildDecoratedIndex]] code table.
    * Post-filtering a global cut under-returns (a slice holding x of
    * the corpus keeps ~x·C of the top-C, 0 under adversarial skew —
    * FilteredAnnSpec plants exactly that); pre-filtering keeps the
    * whole candidate budget inside the slice. Exactly DuckDB-oracled
    * by the q85 sign-bit argument restricted to the slice; queries
    * themselves are NOT label-filtered (searching a slice from
    * outside it is the serving shape).
    *
    * Scale: the predicate is a parquet pushdown on the decorated code
    * scan (PlanShapeSpec pins PushedFilters), then the q85/q88 bounds
    * apply within the slice.
    */
  def q218FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.load(s, dir, "embeddings")
    val idxDir = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "binary_ann_codes",
        s"$dir/embeddings.parquet", params = "words=32bit,meta=label")) { d =>
      graft.similarity.BinaryAnn.buildDecoratedIndex(vecs, d, Seq("label"))
    }
    graft.similarity.BinaryAnn.filteredHammingTopKFromIndex(
        idxDir, vecs, vecs.filter(col("vec_id") < 50),
        col("label") === 3, k = 5, candidates = 32)
      .withColumn("cosine_r6", round(col("cosine"), 6))
      .drop("cosine")
      .orderBy(col("query_id"), col("rank"))
  }

  val q218Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
      |bits AS (
      |  SELECT vec_id, list(wv ORDER BY w) AS bits FROM (
      |    SELECT vec_id, (i - 1) // 32 AS w,
      |      sum(CASE WHEN x > 0 THEN 1::BIGINT << ((i - 1) % 32) ELSE 0 END) AS wv
      |    FROM (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM v)
      |    GROUP BY 1, 2) GROUP BY 1),
      |q AS (SELECT vec_id AS query_id, bits AS qb FROM bits WHERE vec_id < 50),
      |ham AS (
      |  SELECT q.query_id, b.vec_id,
      |    list_sum(list_transform(list_zip(q.qb, b.bits),
      |      p -> bit_count(xor(p[1], p[2])))) AS hamming
      |  FROM q, bits b JOIN v vb ON vb.vec_id = b.vec_id
      |  WHERE vb.label = 3 AND b.vec_id <> q.query_id),
      |cand AS (
      |  SELECT query_id, vec_id, hamming,
      |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS crank
      |  FROM ham),
      |rer AS (
      |  SELECT c.query_id, c.vec_id, c.hamming,
      |    list_dot_product(qv.e, vv.e)
      |      / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(vv.e, vv.e))) AS cosine
      |  FROM cand c
      |  JOIN v qv ON qv.vec_id = c.query_id
      |  JOIN v vv ON vv.vec_id = c.vec_id
      |  WHERE c.crank <= 32),
      |ranked AS (
      |  SELECT query_id, vec_id, hamming, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM rer)
      |SELECT query_id, rank, vec_id, CAST(hamming AS BIGINT) AS hamming,
      |  round(cosine, 6) AS cosine_r6
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ===== q225 — STREAMING metadata-filtered ANN serving ===================

  /** q218 under the RAG serving loop: the probe set arrives as TWO
    * micro-batched parquet files, each batch probes the same decorated
    * code index via [[graft.streaming.AnnServeStream]] (slice predicate
    * BEFORE the Hamming cut, exact-cosine rerank per batch), and the
    * accumulated serving log — a [[graft.medallion.Versioned]] root,
    * one batch-keyed append per micro-batch — is the result. Probes are
    * independent per query_id, so the batch boundary is invisible in
    * the output and the EXACT q218 oracle applies verbatim — the
    * streamed path is hash-held to the same DuckDB recomputation as
    * the batch path (AnnServeStreamSpec additionally pins streamed ≡
    * batch and replay no-op at the stream grain).
    *
    * Scratch dirs are per-PID, rebuilt per call (the whole loop —
    * landing, stream, probe — is the measured unit), deleted at JVM
    * exit; the code index itself is Warehouse-shared with q218.
    */
  def q225StreamingAnnServe(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.load(s, dir, "embeddings")
    val idxDir = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "binary_ann_codes",
        s"$dir/embeddings.parquet", params = "words=32bit,meta=label")) { d =>
      graft.similarity.BinaryAnn.buildDecoratedIndex(vecs, d, Seq("label"))
    }
    val tmp = MedallionRoundtrip.scratchRoot("q225-serve")
    val (in, out, cp) = (s"$tmp/in", s"$tmp/out", s"$tmp/cp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val probes = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
    probes.filter(col("vec_id") < 25).coalesce(1).write.parquet(s"$in/f1")
    probes.filter(col("vec_id") >= 25).coalesce(1).write.parquet(s"$in/f2")
    val schema = s.read.parquet(s"$in/f1").schema
    graft.streaming.AnnServeStream.start(s, s"$in/*", schema, idxDir, vecs,
      col("label") === 3, out, cp, k = 5, candidates = 32,
      maxFilesPerTrigger = Some(1)) // genuinely two serving batches
      .awaitTermination()
    graft.streaming.AnnServeStream.servingLog(s, out)
      .withColumn("cosine_r6", round(col("cosine"), 6))
      .select(col("query_id"), col("rank"), col("vec_id"), col("hamming"),
        col("cosine_r6"))
      .orderBy(col("query_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q218_filtered_ann" -> (q218FilteredAnn _),
    "q225_streaming_ann_serving" -> (q225StreamingAnnServe _),
    "q214_hard_negatives_ann" -> (q214HardNegativesAnn _),
    "q149_cluster_cohesion" -> (q149ClusterCohesion _),
    "q128_semantic_decontaminate" -> (q128SemanticDecontaminate _),
    "q126_hybrid_rrf" -> (q126HybridRrf _),
    "q98_kmeans_profile" -> (q98KmeansProfile _),
    "q82_semantic_dedup" -> (q82SemanticDedup _),
    "q83_bm25" -> (q83Bm25 _),
    "q85_hamming_ann" -> (q85HammingAnn _),
    "q88_hamming_ann_indexed" -> (q88HammingAnnIndexed _),
    "q90_pq_ann" -> (q90PqAnn _))

  /** def, not val: the q82 entry re-renders with the centroids captured
    * by the latest q82 run (Verify dumps oracle SQL after running the
    * queries, so the driver's DuckDB sees the injected literals).
    */
  def oracleSql: Map[String, String] = Map(
    "q218_filtered_ann" -> q218Sql,
    // the batch boundary is invisible per query_id, so the streamed
    // serving loop is held to q218's exact oracle verbatim
    "q225_streaming_ann_serving" -> q218Sql,
    "q214_hard_negatives_ann" -> q214Sql,
    "q128_semantic_decontaminate" -> q128Sql,
    "q149_cluster_cohesion" -> q149Sql,
    "q126_hybrid_rrf" -> q126Sql,
    "q98_kmeans_profile" -> q98Sql,
    "q82_semantic_dedup" -> q82Sql,
    "q83_bm25" -> q83Sql,
    "q85_hamming_ann" -> q85Sql,
    // identical pipeline semantics; the index is a deterministic
    // re-materialization, so the q85 recompute oracles q88 too
    "q88_hamming_ann_indexed" -> q85Sql,
    "q90_pq_ann" -> q90Sql)
}
