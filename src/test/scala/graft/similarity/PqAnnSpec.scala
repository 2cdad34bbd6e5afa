package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Product-quantization ANN: codebook determinism, the planted-copy
  * guarantee, persisted-index equality, and MEASURED recall against
  * the exact brute-force answer — quality is a number here, not a
  * hope (the BinaryAnnSpec convention).
  */
class PqAnnSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def recallAt5(sfDir: String, candidates: Int): Double = {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = vecs.filter($"vec_id" < 50)
    val exact = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val cb = PqIndex.fit(vecs, m = 8, ksub = 16)
    val approx = cb.adcTopK(vecs, cb.encode(vecs), queries, k = 5, candidates = candidates)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    (exact & approx).size.toDouble / exact.size
  }

  test("fit is deterministic and codebooks are 6-decimal-rounded") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = PqIndex.fit(vecs, m = 8, ksub = 16)
    val b = PqIndex.fit(vecs, m = 8, ksub = 16)
    assert(a == b, "same seed must reproduce the same codebooks")
    assert(a.dsub == 8 && a.ksub == 16)
    a.books.flatten.flatten.foreach { v =>
      assert(v == math.rint(v * 1e6) / 1e6 ||
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble == v,
        s"codeword component $v not 6-decimal-rounded")
    }
  }

  test("planted exact copies surface at rank 1 with cosine 1") {
    // an exact copy encodes to the SAME codes, so its ADC distance to
    // the query equals the query's own self-distance — minimal — and
    // the rerank puts it at rank 1 with cosine 1
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val planted = vecs.union(
      vecs.filter($"vec_id" < 10).select($"vec_id" + 5000, $"embedding"))
    val cb = PqIndex.fit(planted, m = 8, ksub = 16)
    val top = cb.adcTopK(planted, cb.encode(planted),
        planted.filter($"vec_id" < 10), k = 3, candidates = 16)
      .filter($"rank" === 1)
      .select($"query_id", $"vec_id", round($"cosine", 9).as("c"))
      .as[(Long, Long, Double)].collect()
    top.foreach { case (q, v, c) =>
      assert(v == q + 5000 && c == 1.0, s"query $q: rank-1 is ($v, $c)")
    }
  }

  test("recall@5 vs exact brute force ≥ 0.5 at the q90 oracle knob C=32") {
    val recall = recallAt5(sf, candidates = 32)
    info(s"recall@5 at C=32 (sf0.001): $recall")
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("at production strength C=256, recall@5 ≥ 0.9 (sf0.01)") {
    val recall = recallAt5("/root/testdata/sf0.01", candidates = 256)
    info(s"recall@5 at C=256 (sf0.01): $recall")
    assert(recall >= 0.9, s"recall@5 = $recall")
  }

  test("search from a persisted index equals the fresh-encode path") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = vecs.filter($"vec_id" < 20)
    val cb = PqIndex.fit(vecs, m = 8, ksub = 16)
    val idx = java.nio.file.Files.createTempDirectory("pq-idx").toString
    PqIndex.save(cb, cb.encode(vecs), idx)
    val (lcb, lcodes) = PqIndex.load(spark, idx)
    assert(lcb == cb, "loaded codebooks differ from fitted")
    val fresh = cb.adcTopK(vecs, cb.encode(vecs), queries, k = 5, candidates = 32)
      .collect().map(_.toSeq).toSet
    val loaded = lcb.adcTopK(vecs, lcodes, queries, k = 5, candidates = 32)
      .collect().map(_.toSeq).toSet
    assert(loaded == fresh)
    // the probe plan reads the stored code table, not a re-encode
    val p = lcb.adcTopK(vecs, lcodes, queries, k = 5, candidates = 32)
      .queryExecution.executedPlan.toString
    assert(p.contains(idx), "stored code table not scanned")
  }

  test("IVF-PQ at nprobe = |cells| equals the flat ADC scan; partial probe keeps recall") {
    // the q75 full-probe argument at the PQ level: probing every cell
    // makes the candidate set the whole corpus, so the two-level path
    // must reproduce the flat scan bit-for-bit
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = vecs.filter($"vec_id" < 50)
    val cb = PqIndex.fit(vecs, m = 8, ksub = 16)
    val ivf = IvfIndex.fit(vecs, c = 8, maxIter = 5)
    val assignedCodes = ivf.assign(vecs).select($"vec_id", $"cell_id")
      .join(cb.encode(vecs), Seq("vec_id"))
    val flat = cb.adcTopK(vecs, cb.encode(vecs), queries, k = 5, candidates = 32)
      .collect().map(_.toSeq).toSet
    val full = cb.ivfAdcTopK(ivf, assignedCodes, vecs, queries,
        k = 5, candidates = 32, nprobe = 8)
      .collect().map(_.toSeq).toSet
    assert(full == flat, "full probe diverges from the flat ADC scan")
    // partial probe: recall vs the flat PQ answer stays usable — the
    // IVF pruning trades recall for an ~nprobe/C scan cut
    val partial = cb.ivfAdcTopK(ivf, assignedCodes, vecs, queries,
        k = 5, candidates = 32, nprobe = 3)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val flatIds = flat.map(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    val recall = (partial & flatIds).size.toDouble / flatIds.size
    info(s"IVF-PQ recall vs flat PQ at nprobe=3/8: $recall")
    assert(recall >= 0.5, s"partial-probe recall collapsed: $recall")
  }

  test("candidates < k is rejected; ragged codebooks are rejected") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val cb = PqIndex.fit(vecs, m = 8, ksub = 16)
    intercept[IllegalArgumentException] {
      cb.adcTopK(vecs, cb.encode(vecs), vecs.limit(1), k = 5, candidates = 3)
    }
    intercept[IllegalArgumentException] {
      PqCodebooks(64, 8, cb.books.init) // 7 books for m=8
    }
  }
}
