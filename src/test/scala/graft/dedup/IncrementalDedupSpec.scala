package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Incremental corpus-vs-batch near-dup (q33 surface): the persisted
  * index must reproduce the full self-join run exactly on every pair
  * touching the batch, without recomputing corpus shingles.
  */
class IncrementalDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
    2L -> "spark partitions shuffle data across executors for distributed joins and aggregates",
    3L -> "completely different text about gardening tomatoes in clay soil with compost",
    4L -> "neural networks approximate functions by composing linear maps and pointwise nonlinearities")

  // near-copies of corpus docs 1 and 2, one unrelated doc, and two
  // within-batch near-copies of each other
  private val batch = Seq(
    101L -> "the quick brown fox jumps over the lazy dog near the river bank yesterday",
    102L -> "spark partitions shuffle data across executors for distributed joins and aggregates quickly",
    103L -> "a totally fresh topic sentence about volcanoes erupting under glacial ice sheets",
    104L -> "large language models memorize near duplicate training documents verbatim sometimes",
    105L -> "large language models memorize near duplicate training documents verbatim often")

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet

  test("incremental result equals full rerun restricted to pairs touching the batch") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val idx = Files.createTempDirectory("incr-dedup").toString
    MinHashLSH.buildIndex(corpusDf, "doc_id", "text", idx)
    val incremental = pairsOf(
      MinHashLSH.nearDuplicatesAgainst(batchDf, "doc_id", "text", idx, threshold = 0.5))

    val batchIds = batch.map(_._1).toSet
    val full = pairsOf(
      MinHashLSH.nearDuplicates(corpusDf.union(batchDf), "doc_id", "text", threshold = 0.5))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))

    assert(incremental == full)
    // and the planted structure is actually exercised: cross pairs AND
    // a within-batch pair
    val ids = incremental.map(p => (p._1, p._2))
    assert(ids.contains((1L, 101L)) && ids.contains((2L, 102L)) && ids.contains((104L, 105L)))
    assert(!ids.exists(p => p._1 == 103L || p._2 == 103L))
  }

  test("oversized corpus bucket degrades the cross probe to the cluster representative") {
    // 20 identical corpus copies (ids 1000–1019) make every band bucket
    // they occupy width 20; a batch copy of the same text probing with
    // maxBucket=8 must pair with the cluster's min-id REPRESENTATIVE
    // (1000) — not all 20 members, not zero — plus the normal cross
    // pair (1, 101) from width-2 buckets
    val boiler = (1000L until 1020L).map(i =>
      i -> "identical boilerplate footer text repeated across every single page of the site")
    val corpusDf = (corpus ++ boiler).toDF("doc_id", "text")
    val batchDf = Seq(
      101L -> "the quick brown fox jumps over the lazy dog near the river bank yesterday",
      2000L -> "identical boilerplate footer text repeated across every single page of the site")
      .toDF("doc_id", "text")
    val idx = Files.createTempDirectory("incr-megabucket").toString
    MinHashLSH.buildIndex(corpusDf, "doc_id", "text", idx)
    val ids = pairsOf(
      MinHashLSH.nearDuplicatesAgainst(batchDf, "doc_id", "text", idx,
        threshold = 0.5, maxBucket = 8)).map(p => (p._1, p._2))
    assert(ids == Set((1L, 101L), (1000L, 2000L)),
      s"expected the representative cross pair only, got $ids")
  }

  test("nearDuplicatesFromIndex equals the direct self-join nearDuplicates") {
    val all = corpus ++ batch
    val allDf = all.toDF("doc_id", "text")
    val idx = Files.createTempDirectory("fromidx").toString
    MinHashLSH.buildIndex(allDf, "doc_id", "text", idx)
    val fromIndex = pairsOf(MinHashLSH.nearDuplicatesFromIndex(spark, idx, threshold = 0.5))
    val direct = pairsOf(MinHashLSH.nearDuplicates(allDf, "doc_id", "text", threshold = 0.5))
    assert(fromIndex == direct && fromIndex.nonEmpty)
    // and the plan touches only stored state: no shingling anywhere
    val lazyPairs = spark.read.parquet(s"$idx/bands")
    val plan = lazyPairs.join(
        lazyPairs.withColumnRenamed("mh_id", "id_b"), Seq("band_idx", "band_hash"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("regexp_extract_all"))
  }

  test("nearDuplicatesBetweenIndexes equals nearDuplicatesAgainst on the indexed batch") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val idx = Files.createTempDirectory("btw-corpus").toString
    val batchIdx = Files.createTempDirectory("btw-batch").toString
    MinHashLSH.buildIndex(corpusDf, "doc_id", "text", idx)
    MinHashLSH.buildIndex(batchDf, "doc_id", "text", batchIdx)

    val fromIndexes = pairsOf(
      MinHashLSH.nearDuplicatesBetweenIndexes(spark, batchIdx, idx, threshold = 0.5))
    val direct = pairsOf(
      MinHashLSH.nearDuplicatesAgainst(batchDf, "doc_id", "text", idx, threshold = 0.5))
    assert(fromIndexes == direct && fromIndexes.nonEmpty)

    // the probe-only contract: candidates over two STORED band tables
    // never re-shingle either side (no regex anywhere in the plan)
    val candPlan = MinHashLSH.incrementalCandidates(
        spark.read.parquet(s"$idx/bands"), spark.read.parquet(s"$batchIdx/bands"))
      .queryExecution.executedPlan.toString
    assert(candPlan.contains(s"$idx/bands") && candPlan.contains(s"$batchIdx/bands"))
    assert(!candPlan.contains("regexp_extract_all"),
      "index-vs-index probe must not re-shingle")
  }

  test("plan shape: candidates scan the stored band table, verify scans stored shingles") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val idx = Files.createTempDirectory("incr-plan").toString
    MinHashLSH.buildIndex(corpusDf, "doc_id", "text", idx)

    val corpusBands = spark.read.parquet(s"$idx/bands")
    val batchSh = MinHashLSH.shingleRows(batchDf, "doc_id", "text", 3)
    val cands = MinHashLSH.incrementalCandidates(
      corpusBands, MinHashLSH.bandedFromShingles(batchSh, 128, 16))
    val candPlan = cands.queryExecution.executedPlan.toString
    // the corpus contributes ONLY via the stored band scan: its parquet
    // location appears, and the only shingling in the plan is the batch's
    assert(candPlan.contains(s"$idx/bands"), "stored band table not scanned")
    assert(!candPlan.contains(s"$idx/shingles"))
    assert(candPlan.contains("regexp_extract_all"), "batch side must shingle")

    // verify path: reads the stored shingle table (pruned, not recomputed)
    val verified = MinHashLSH.verifyPairs(
      MinHashLSH.incrementalCandidates(corpusBands,
        spark.read.parquet(s"$idx/bands")).limit(1),
      spark.read.parquet(s"$idx/shingles"), 0.0)
    assert(verified.queryExecution.executedPlan.toString.contains(s"$idx/shingles"))
  }
}
