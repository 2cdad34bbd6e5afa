package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Cluster resolution (q36 surface): transitively-connected duplicate
  * pairs must collapse to one deterministic survivor per component.
  */
class DedupClustersSpec extends SparkTestBase {
  import spark.implicits._

  test("components: chains collapse transitively, min id labels the cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = DedupClusters.components(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("deduplicate: one survivor per cluster, isolated docs untouched") {
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = DedupClusters.deduplicate(docs, "doc_id", pairs)
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 10L, 20L))
  }

  test("deduplicateBy: highest preference survives, min id on ties, " +
      "nulls lose, all-null clusters fall back to min id") {
    val docs = Seq(
      (1L, "a", Some(0.2)), (2L, "b", Some(0.9)), (3L, "c", Some(0.9)), // cluster {1,2,3}
      (10L, "d", None), (11L, "e", Some(0.1)),                          // cluster {10,11}
      (20L, "f", Some(0.5)),                                            // isolated
      (30L, "g", None), (31L, "h", None))                               // all-null cluster
      .map { case (i, t, q) => (i, t, q.map(Double.box).orNull) }
      .toDF("doc_id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L)).toDF("id_a", "id_b")
    val kept = DedupClusters.deduplicateBy(docs, "doc_id", pairs, "quality")
      .select("doc_id").as[Long].collect().toSet
    // {1,2,3}: 2 and 3 tie at 0.9 → 2 (lower id); {10,11}: null loses
    // to 0.1 → 11; 20 isolated; {30,31}: all null → min id 30
    assert(kept == Set(2L, 11L, 20L, 30L), s"got $kept")
    // schema preserved
    assert(DedupClusters.deduplicateBy(docs, "doc_id", pairs, "quality")
      .columns.toSeq == Seq("doc_id", "text", "quality"))
  }

  test("a long chain converges (diameter-bound propagation)") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = DedupClusters.components(pairs).as[(Long, Long)].collect()
    assert(comp.forall(_._2 == 1L) && comp.length == 12)
  }

  test("an exhausted round budget fails loudly instead of returning partial clusters") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // an odd budget rounds up to even: 3 runs 4 hops, and says so
    Seq(2 -> 2, 3 -> 4).foreach { case (budget, hops) =>
      val e = intercept[IllegalArgumentException](
        DedupClusters.components(pairs, maxRounds = budget))
      assert(e.getMessage.contains("converge"))
      assert(e.getMessage.contains(s"in $hops hops"), e.getMessage)
    }
  }

  test("end-to-end with MinHash pairs: planted near-copies collapse to originals") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      2L -> "spark partitions shuffle data across executors for distributed joins and aggregates",
      3L -> "completely different text about gardening tomatoes in clay soil with compost",
      // near-copies of 1: a chain 1~101~102 where only clustering keeps
      // exactly one of the three
      101L -> "the quick brown fox jumps over the lazy dog near the river bank yesterday",
      102L -> "the quick brown fox jumps over the lazy dog near the river bank tomorrow")
      .toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
    val kept = DedupClusters.deduplicate(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }
}
