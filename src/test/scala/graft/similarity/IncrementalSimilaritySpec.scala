package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Incremental corpus-vs-batch embedding near-dup (q34 surface): the
  * persisted bucket index must reproduce the full self-join run exactly
  * on every pair touching the batch, without re-bucketing the corpus.
  */
class IncrementalSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val lsh = Similarity.RandomHyperplaneLsh(dim = 4, bits = 2, tables = 8)
  private val threshold = 0.9

  // well-separated corpus directions (pairwise cosine ≤ 0.5)
  private val corpus = Seq(
    1L -> Seq(1f, 0f, 0f, 0f),
    2L -> Seq(0f, 1f, 0f, 0f),
    3L -> Seq(0f, 0f, 1f, 0f),
    4L -> Seq(0.5f, 0.5f, 0.5f, 0.5f))

  // near-copies of corpus 1 and 2, one unrelated vector, and two
  // within-batch near-copies of each other
  private val batch = Seq(
    101L -> Seq(0.99f, 0.1f, 0f, 0f),
    102L -> Seq(0.05f, 1f, 0.05f, 0f),
    103L -> Seq(0f, 0f, 0f, 1f),
    104L -> Seq(1f, 1f, -1f, -1f),
    105L -> Seq(1f, 0.9f, -1f, -0.9f))

  private def df(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding").withColumn("label", lit("x"))

  private def pairsOf(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    d.select(col("id_a"), col("id_b"), round(col("cosine"), 9).as("c"))
      .as[(Long, Long, Double)].collect().toSet

  test("incremental result equals full rerun restricted to pairs touching the batch") {
    val corpusDf = df(corpus)
    val batchDf = df(batch)
    val idx = Files.createTempDirectory("incr-cos").toString
    Similarity.buildCosineIndex(corpusDf, lsh, idx)
    val incremental = pairsOf(
      Similarity.cosineNearDuplicatesAgainst(batchDf, lsh, idx, threshold))

    val batchIds = batch.map(_._1).toSet
    val full = pairsOf(
      Similarity.cosineNearDuplicates(corpusDf.union(batchDf), lsh, threshold))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))

    assert(incremental == full)
    // the planted structure is actually exercised: cross pairs AND a
    // within-batch pair; the unrelated vector pairs with nothing
    val ids = incremental.map(p => (p._1, p._2))
    assert(ids.contains((1L, 101L)) && ids.contains((2L, 102L)) && ids.contains((104L, 105L)))
    assert(!ids.exists(p => p._1 == 103L || p._2 == 103L))
  }

  test("replay (batch already appended) yields self-pairs without duplicated rows") {
    val corpusDf = df(corpus)
    val batchDf = df(batch)
    val idx = Files.createTempDirectory("incr-cos-replay").toString
    Similarity.buildCosineIndex(corpusDf.union(batchDf), lsh, idx)
    // crash-replay: every batch doc is already in the index
    val rows = Similarity.cosineNearDuplicatesAgainst(batchDf, lsh, idx, threshold)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
    assert(rows.length == rows.toSet.size, s"duplicated pair rows: ${rows.toSeq}")
    // self-pairs (the replay signal) present exactly once per batch doc
    batch.map(_._1).foreach { id =>
      assert(rows.count(p => p == (id, id)) == 1, s"self-pair for $id")
    }
  }

  test("plan shape: candidates scan stored buckets, verify scans stored embeddings") {
    val corpusDf = df(corpus)
    val batchDf = df(batch)
    val idx = Files.createTempDirectory("incr-cos-plan").toString
    Similarity.buildCosineIndex(corpusDf, lsh, idx)

    val corpusBuckets = spark.read.parquet(s"$idx/buckets")
    val batchBuckets = lsh.bucketed(batchDf)
      .select(col("lsh_table"), col("lsh_bucket"), col("vec_id"))
    val cands = Similarity.incrementalBucketCandidates(corpusBuckets, batchBuckets)
    val candPlan = cands.queryExecution.executedPlan.toString
    // the corpus contributes ONLY via the stored bucket scan: its
    // parquet location appears, embeddings are untouched, and the only
    // sign-projection work (dot64) in the plan is the batch's
    assert(candPlan.contains(s"$idx/buckets"), "stored bucket table not scanned")
    assert(!candPlan.contains(s"$idx/embeddings"))
    assert(candPlan.contains("dot64"), "batch side must bucket")

    // verify path: reads the stored embedding table (pruned via the
    // candidate ids, never re-projected)
    val verified = Similarity.verifyCosinePairs(
      Similarity.incrementalBucketCandidates(corpusBuckets, batchBuckets).limit(1),
      spark.read.parquet(s"$idx/embeddings"), 0.0)
    assert(verified.queryExecution.executedPlan.toString.contains(s"$idx/embeddings"))
  }
}
