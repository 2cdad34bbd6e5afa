package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Product-quantization ANN (Jégou et al. 2011): the embedding splits
  * into `m` contiguous subspaces of `dsub` dims; each subspace gets its
  * own `ksub`-codeword codebook (seeded k-means, like [[IvfIndex.fit]]),
  * and a vector is stored as `m` small codes — 64 float dims (256 B)
  * become 8 nibble-ish codes (8 B here), a 32× compression, the next
  * rung of the quantization ladder after int8 (q80) and 1-bit sign
  * packing ([[BinaryAnn]]).
  *
  * Search is asymmetric-distance (ADC): the query stays full-precision,
  * a per-query lookup table holds its distance to every codeword
  * (m × ksub values, computed ONCE per query), and a candidate's
  * approximate distance is m table lookups summed — no FMA against
  * corpus vectors at all. Candidates are cut to top-C by ADC and
  * exact-cosine reranked, the [[BinaryAnn]] two-stage shape.
  *
  * Scale shape: encoding is a single codegen'd projection per corpus
  * row (codebooks ride as literals — no join, the [[IvfIndex.assign]]
  * trick per subspace); the stored code table is what the daily scan
  * reads (32× smaller than the embeddings); the ADC stage shuffles
  * only (query_id, vec_id, adc) with the bounded per-split top-C
  * aggregate ([[graft.functions.TopKAgg]]) — at most C entries per
  * (split, query) reach the exchange; the C×Q survivors broadcast back
  * against the corpus scan for the rerank, so full-precision vectors
  * never shuffle. Exactly the q85/q88 plan with ADC replacing Hamming.
  *
  * Oracle determinism: codebook components are rounded to 6 decimals
  * at fit time, so their "%.6f" literal rendering round-trips
  * bit-identically through another engine's double parser (the q82
  * convention), and every distance both engines compare is the SAME
  * left-to-right double expression over those literals —
  * `c·c − 2·(x_sub·c)` (the rank-equivalent reduced form of
  * ‖x_sub − c‖²; the dropped ‖x_sub‖² is constant per subspace).
  * Per-subspace ADC terms are micro-quantized to integers BEFORE the
  * sum (the q83 technique), so summation order cannot shift a last
  * ulp.
  */
final case class PqCodebooks(dim: Int, m: Int, books: Seq[Seq[Seq[Double]]]) {
  require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
  require(books.size == m, s"expected $m codebooks, got ${books.size}")
  val dsub: Int = dim / m
  val ksub: Int = books.head.size
  books.foreach { b =>
    require(b.size == ksub, "ragged codebooks")
    b.foreach(c => require(c.size == dsub, "codeword/dsub mismatch"))
  }

  /** ‖c‖² precomputed driver-side — a left-to-right sum of squares over
    * the rounded literals, the same value another engine's
    * list_dot_product(c, c) computes from the same rendered literals.
    */
  private def cc(c: Seq[Double]): Double = c.map(x => x * x).sum

  /** The reduced squared distance `c·c − 2·(sub·c)` from literals —
    * the ONE expression shared (modulo syntax) with the oracle SQL.
    */
  private def dist(sub: Column, c: Seq[Double]): Column =
    lit(cc(c)) - lit(2.0) * VectorOps.dot64(sub, array(c.map(lit): _*))

  private def subvec(emb: Column, mi: Int): Column =
    slice(emb, mi * dsub + 1, dsub)

  /** argmin-distance code for subspace `mi`, lowest code on exact ties
    * (the lexicographic max-of-struct(−dist, −code) trick, as in
    * [[IvfIndex]]).
    */
  private def subCode(emb: Column, mi: Int): Column = {
    val cands = books(mi).zipWithIndex.map { case (c, k) =>
      struct((-dist(subvec(emb, mi), c)).as("nd"), lit(-k).as("nk"))
    }
    val best = if (cands.size == 1) cands.head else greatest(cands: _*)
    (-best.getField("nk")).cast("int")
  }

  /** (vec_id, codes array<int>): each vector encoded to its m nearest
    * codewords — one projection, no join, no shuffle.
    */
  def encode(vecs: DataFrame): DataFrame = {
    VectorOps.register(vecs.sparkSession)
    vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"),
        array((0 until m).map(mi => subCode(col("emb"), mi)): _*).as("codes"))
  }

  /** Per-query ADC lookup table: lut[mi][k] = micro-quantized
    * (×1e6, floor+0.5 → long) reduced distance from the query's mi-th
    * subvector to codeword k. m × ksub scalar expressions on |Q| rows
    * — no HOFs, all codegen.
    */
  private def lutCol(qEmb: Column): Column =
    array((0 until m).map { mi =>
      array(books(mi).map { c =>
        floor(dist(subvec(qEmb, mi), c) * lit(1e6) + lit(0.5)).cast("long")
      }: _*)
    }: _*)

  /** Integer ADC score: Σ over subspaces of the candidate's code
    * looked up in the query's table — m element_at calls, associative
    * long addition.
    */
  private def adcExpr: Column =
    (0 until m).map { mi =>
      element_at(element_at(col("lut"), mi + 1),
        element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)

  /** IVF-PQ: the coarse quantizer prunes the scan to each query's
    * `nprobe` nearest cells ([[IvfIndex.probes]]), and the PQ-ADC
    * machinery scores only the members of probed cells — the classic
    * two-level index (IVF for O(nprobe/C) scan pruning, PQ for 32×
    * code compression on what IS scanned). `assignedCodes` is the
    * corpus's (vec_id, cell_id, codes) table — [[IvfIndex.assign]]
    * joined to [[encode]], both one-off build passes. At
    * nprobe = |cells| this provably equals [[adcTopK]] (every cell is
    * probed once, every vector lives in one cell — the q75 full-probe
    * argument), which PqAnnSpec pins; partial-probe recall is
    * measured there too.
    */
  def ivfAdcTopK(ivf: IvfIndex, assignedCodes: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, candidates: Int, nprobe: Int): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    val spark = corpus.sparkSession
    VectorOps.register(spark)
    graft.functions.TopKAgg.register(spark)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("lut", lutCol(col("q_emb")))
    // one row per (query, probed cell), the query's LUT riding along —
    // |Q|·nprobe rows, broadcast-small by the queries contract
    val probeLut = ivf.probes(queries, nprobe)
      .select(col("query_id"), col("cell_id"))
      .join(q.select(col("query_id"), col("lut")), Seq("query_id"))
    val cand = assignedCodes.select(col("vec_id"), col("cell_id"), col("codes"))
      .join(broadcast(probeLut), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcExpr.as("adc"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topkBy(
        col("adc").cast("double"), col("vec_id"), candidates, asc = true).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.id").as("vec_id"),
        col("e.score").cast("long").as("adc"))
    rerank(corpus, cand, q, k)
  }

  /** Top-k neighbors by ADC-candidate + exact-cosine rerank. Output:
    * (query_id, rank, vec_id, adc, cosine) — rank is the rerank order
    * (cosine desc, vec_id tie-break), adc the integer score that
    * admitted the candidate.
    *
    * @param corpus     (vec_id, embedding) — full precision, read only
    *                   for the C×Q rerank candidates
    * @param codes      (vec_id, codes) from [[encode]] (fresh or a
    *                   [[PqIndex.load]]ed table)
    * @param queries    (vec_id, embedding); must be broadcast-small
    * @param k          neighbors returned per query
    * @param candidates ADC survivors reranked per query (C ≥ k)
    */
  def adcTopK(corpus: DataFrame, codes: DataFrame, queries: DataFrame,
      k: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    val spark = corpus.sparkSession
    VectorOps.register(spark)
    graft.functions.TopKAgg.register(spark)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("lut", lutCol(col("q_emb")))

    // Stage 1: ADC cut — table lookups + a bounded per-split top-C
    // aggregate; only ids + a long reach the exchange. The integer adc
    // is exact in the agg's double score slot (≪ 2^53).
    val cand = codes.select(col("vec_id"), col("codes"))
      .join(broadcast(q.select(col("query_id"), col("lut"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcExpr.as("adc"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topkBy(
        col("adc").cast("double"), col("vec_id"), candidates, asc = true).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.id").as("vec_id"),
        col("e.score").cast("long").as("adc"))
    rerank(corpus, cand, q, k)
  }

  /** Stage 2 (shared by the flat and IVF paths): exact rerank — the
    * C×Q candidates broadcast against the corpus scan; the corpus
    * never shuffles. The window ranks C×Q rows, never corpus-sized
    * input.
    */
  private def rerank(corpus: DataFrame, cand: DataFrame, q: DataFrame,
      k: Int): DataFrame = {
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("q_emb"))), Seq("query_id"))
      .withColumn("cosine", Similarity.cosine(col("q_emb"), col("emb")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("adc"), col("cosine"))
  }
}

object PqIndex {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Train the m per-subspace codebooks with seeded spark.ml KMeans
    * (seed + subspace index — deterministic, like [[IvfIndex.fit]]).
    * Codeword components are rounded to 6 decimals HERE, so the
    * codebook used for encoding is exactly the codebook an oracle
    * re-renders from "%.6f" literals. At 100 TB, fit on a sample —
    * codebook quality converges long before the corpus does.
    */
  def fit(vecs: DataFrame, m: Int, ksub: Int, seed: Long = 42L,
      maxIter: Int = 10): PqCodebooks = {
    val base = vecs.select(col("embedding").cast("array<double>").as("e"))
      .where(col("e").isNotNull)
    val dim = base.select(size(col("e"))).head().getInt(0)
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val books = (0 until m).map { mi =>
      val train = base.select(
        array_to_vector(slice(col("e"), mi * dsub + 1, dsub)).as("features"))
      val model = new KMeans().setK(ksub).setSeed(seed + mi).setMaxIter(maxIter)
        .setFeaturesCol("features").fit(train)
      model.clusterCenters.toSeq.map(_.toArray.toSeq.map(round6))
    }
    PqCodebooks(dim, m, books)
  }

  /** Persist a fitted index: the (tiny) codebook table plus the
    * encoded corpus codes. Build once, probe daily — the q25/q33/q88
    * Warehouse convention.
    */
  def save(cb: PqCodebooks, codes: DataFrame, dir: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    cb.books.zipWithIndex
      .flatMap { case (b, mi) => b.zipWithIndex.map { case (c, k) => (mi, k, c) } }
      .toDF("m", "k", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Load a persisted index: (codebooks, encoded corpus). Feed both to
    * [[PqCodebooks.adcTopK]] — nothing on this path re-fits or
    * re-encodes.
    */
  def load(spark: SparkSession, dir: String): (PqCodebooks, DataFrame) = {
    // m × ksub rows (128 at the q90 knobs) — the blessed tiny-codebook
    // load, like IvfIndex.load's centroid collect
    val rows = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val m = rows.map(_._1).max + 1
    val books = (0 until m).map { mi =>
      rows.filter(_._1 == mi).sortBy(_._2).map(_._3).toSeq
    }
    val dim = m * books.head.head.size
    (PqCodebooks(dim, m, books), spark.read.parquet(s"$dir/codes"))
  }
}
