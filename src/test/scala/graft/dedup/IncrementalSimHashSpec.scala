package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Incremental corpus-vs-batch simhash near-dup (q40 surface). */
class IncrementalSimHashSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank in the early morning light today",
    2L -> "spark partitions shuffle data across many executors for distributed joins and wide aggregations at considerable scale",
    3L -> "completely different text about gardening tomatoes in heavy clay soil with plenty of compost and patience",
    4L -> "neural networks approximate complicated functions by composing linear maps and pointwise nonlinearities over many layers")

  private val batch = Seq(
    101L -> "the quick brown fox jumps over the lazy dog near the quiet river bank in the early morning light today x",
    102L -> "spark partitions shuffle data across many executors for distributed joins and wide aggregations at considerable scale x",
    103L -> "a totally fresh topic sentence about volcanoes erupting under glacial ice sheets in iceland",
    104L -> "large language models sometimes memorize near duplicate training documents verbatim which inflates benchmark scores x",
    105L -> "large language models sometimes memorize near duplicate training documents verbatim which inflates benchmark scores y")

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.select(col("id_a"), col("id_b"), col("hamming_dist").cast("int"))
      .as[(Long, Long, Int)].collect().toSet

  test("incremental result equals full rerun restricted to pairs touching the batch") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val idx = Files.createTempDirectory("incr-simhash").toString
    SimHashDedup.buildIndex(corpusDf, "doc_id", "text", idx)
    val incremental = pairsOf(
      SimHashDedup.nearDuplicatesAgainst(batchDf, "doc_id", "text", idx))

    val batchIds = batch.map(_._1).toSet
    val full = pairsOf(
      SimHashDedup.nearDuplicates(corpusDf.union(batchDf), "doc_id", "text"))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    assert(incremental == full)
  }

  test("planted cross-corpus and within-batch near-copies are found; unrelated is not") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val idx = Files.createTempDirectory("incr-simhash-hits").toString
    SimHashDedup.buildIndex(corpusDf, "doc_id", "text", idx)
    val ids = pairsOf(SimHashDedup.nearDuplicatesAgainst(batchDf, "doc_id", "text", idx))
      .map(p => (p._1, p._2))
    // cross-corpus and within-batch planted copies (doc 1's variant
    // happens to land beyond 3 bits — simhash recall on one-token edits
    // is high but not total, measured ~90% on the real corpus in q22)
    assert(ids.contains((2L, 102L)) && ids.contains((104L, 105L)))
    assert(!ids.exists(p => p._1 == 103L || p._2 == 103L))
  }

  test("replayed docs self-collide at distance 0") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val idx = Files.createTempDirectory("incr-simhash-replay").toString
    SimHashDedup.buildIndex(corpusDf.union(batchDf), "doc_id", "text", idx)
    // replay: batch docs already in the index pair with themselves at 0
    val replay = pairsOf(SimHashDedup.nearDuplicatesAgainst(batchDf, "doc_id", "text", idx))
    batch.map(_._1).foreach { id => assert(replay.contains((id, id, 0)), s"no self-pair for $id") }
  }

  test("plan shape: the corpus contributes only via the stored chunk scan") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val root = Files.createTempDirectory("incr-simhash-plan").toString
    val idx = s"$root/idx"
    SimHashDedup.buildIndex(corpusDf, "doc_id", "text", idx)
    // parquet-back the batch: over a LocalRelation the optimizer folds
    // the fingerprint projection away, hiding the expression from the
    // plan assertion
    batch.toDF("doc_id", "text").write.parquet(s"$root/batch")
    val probe = SimHashDedup.nearDuplicatesAgainst(
      spark.read.parquet(s"$root/batch"), "doc_id", "text", idx)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains(s"$idx/chunks"), s"stored chunk table not scanned:\n$p")
    assert(p.contains("simhash64"), "batch side must fingerprint")
    // the stored side carries its fingerprints as data — exactly one
    // subtree (per union branch) computes simhash64, the batch's
    assert(!p.linesIterator.exists(l => l.contains("simhash64") && l.contains(s"$idx/chunks")))
  }
}
