package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Curation analytics (q76–q79): planted-known-answer cases pinning the
  * semantics each oracle SQL was derived from — grouping-set coverage,
  * surprisal ordering, passage-dup detection, anomaly flagging.
  */
class CurationOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("curation-spec").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q76 cube emits all four grouping sets and marginals reconcile") {
    val dir = writeDocs(Seq(
      (1L, "a", "en", "web", 10L),
      (2L, "b", "en", "web", 20L),
      (3L, "c", "de", "web", 30L),
      (4L, "d", "en", "books", 40L)))
    val out = CurationOpsQueries.q76CubeScorecard(spark, dir)
      .select("source", "lang", "g_source", "g_lang", "n_docs", "total_chars")
      .as[(String, String, Int, Int, Long, Long)].collect().toSeq
    assert(out.filter(r => r._3 == 1 && r._4 == 1)
      == Seq(("(all)", "(all)", 1, 1, 4L, 100L)))
    // the grouping set rollup lacks: per-lang across sources
    val perLang = out.filter(r => r._3 == 1 && r._4 == 0)
      .map(r => r._2 -> (r._5, r._6)).toMap
    assert(perLang == Map("en" -> (3L, 70L), "de" -> (1L, 30L)))
    val perSource = out.filter(r => r._3 == 0 && r._4 == 1)
      .map(r => r._1 -> r._5).toMap
    assert(perSource == Map("web" -> 3L, "books" -> 1L))
    // leaves sum to both marginals
    val leaves = out.filter(r => r._3 == 0 && r._4 == 0)
    assert(leaves.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
      == perLang.view.mapValues(_._1).toMap)
    assert(leaves.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap == perSource)
  }

  test("q77 surprisal: rare-token doc scores above common-token doc; uniform corpus is flat") {
    // corpus: 7×"a" + 1×"b" → p(a)=7/8, p(b)=1/8
    val dir = writeDocs(Seq(
      (1L, "a a a a", "en", "w", 7L),
      (2L, "a a a b", "en", "w", 7L)))
    val out = CurationOpsQueries.q77UnigramSurprisal(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 4L), (2L, 4L)))
    val Seq(common, mixed) = out.map(_._3)
    assert(mixed > common, s"doc with rare token must score higher: $out")
    // exact values: -ln(7/8) and avg(3×-ln(7/8), -ln(1/8)), micro-quantized
    def micro(p: Double) = math.round(-math.log(p) * 1e6)
    assert(common == micro(7.0 / 8) / 1e6, s"got $common")
    val exp2 = BigDecimal((3 * micro(7.0 / 8) + micro(1.0 / 8)) / 4.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(mixed - exp2) < 1e-9, s"got $mixed want $exp2")

    val flat = writeDocs(Seq(
      (1L, "x y", "en", "w", 3L),
      (2L, "y x", "en", "w", 3L)))
    val f = CurationOpsQueries.q77UnigramSurprisal(spark, flat)
      .as[(Long, Long, Double)].collect().toSeq
    assert(f.map(_._3).distinct.size == 1, s"uniform corpus must be flat: $f")
  }

  test("q78 flags planted shared passages, skips short docs, counts tiles") {
    val passage = (1 to 16).map(i => s"p$i").mkString(" ")   // one shared tile
    val unique1 = (1 to 16).map(i => s"u$i").mkString(" ")
    val unique2 = (1 to 16).map(i => s"v$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, s"$passage $unique1", "en", "w", 0L),  // 2 tiles, 1 duplicated
      (2L, s"$passage $unique2", "en", "w", 0L),  // 2 tiles, 1 duplicated
      (3L, unique2.replace("v", "z"), "en", "w", 0L),  // 1 tile, unique
      (4L, "too short", "en", "w", 0L)))               // < 16 words: no row
    val out = CurationOpsQueries.q78PassageDupFraction(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, 2L, 1L, 0.5),
      (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0)), s"got $out")
  }

  test("q78 ragged tail words are not tiled") {
    val t16 = (1 to 16).map(i => s"w$i").mkString(" ")
    // 16 + 10 words: exactly one tile; the 10-word tail must not pad-tile
    val dir = writeDocs(Seq(
      (1L, s"$t16 ${(1 to 10).map(i => s"t$i").mkString(" ")}", "en", "w", 0L)))
    val out = CurationOpsQueries.q78PassageDupFraction(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1L, 0L, 0.0)))
  }

  test("q84 span boundaries are exact: shifted copy, two islands, merge rule") {
    // doc 1 carries the 10-word passage at words 5..14; doc 2 carries it
    // SHIFTED (offset 3) inside fresh text — q78's aligned tiles can miss
    // this, stride-1 windows cannot. doc 3 has TWO disjoint copies of two
    // different shared passages -> two spans, not one merged one.
    val p1 = (0 until 10).map(i => s"p$i").mkString(" ")   // shared passage A
    val p2 = (0 until 10).map(i => s"q$i").mkString(" ")   // shared passage B
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, s"${uniq("a", 5)} $p1 ${uniq("b", 20)}", "en", "web", 0L),
      (2L, s"${uniq("c", 3)} $p1 ${uniq("d", 22)}", "en", "web", 0L),
      (3L, s"$p2 ${uniq("e", 10)} $p2 ${uniq("f", 8)}", "en", "web", 0L)))
    val out = CurationOpsQueries.q84DuplicateSpans(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // passage A: 10 words -> 3 flagged windows (w=8), span = exactly the
    // passage: doc1 words 5..14, doc2 words 3..12
    assert(out.filter(_._1 == 1L) == Seq((1L, 5L, 14L, 10L, 3L)), s"got $out")
    assert(out.filter(_._1 == 2L) == Seq((2L, 3L, 12L, 10L, 3L)), s"got $out")
    // doc3: two islands (gap of 10 unique words > w=8 apart)
    val d3 = out.filter(_._1 == 3L)
    assert(d3 == Seq((3L, 0L, 9L, 10L, 3L), (3L, 20L, 29L, 10L, 3L)), s"got $out")
  }

  test("q84 adjacent flagged windows merge into one span") {
    // one long shared passage: every window duplicated, one maximal span
    val p = (0 until 24).map(i => s"s$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, p, "en", "web", 0L),
      (2L, p, "en", "web", 0L)))
    val out = CurationOpsQueries.q84DuplicateSpans(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 0L, 23L, 24L, 17L), (2L, 0L, 23L, 24L, 17L)), s"got $out")
  }

  test("q87 cut removes the copy, keeps the canonical, protects boundary words") {
    // doc 1 (lower doc_id) owns the 10-word passage; doc 2 carries the
    // same passage inside fresh text. The cut must keep doc 1 intact
    // (every flagged window's canonical occurrence is in doc 1) and
    // remove exactly the passage words from doc 2.
    val p = (0 until 10).map(i => s"p$i").mkString(" ")
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val a5 = uniq("a", 5); val b20 = uniq("b", 20)
    val c3 = uniq("c", 3); val d22 = uniq("d", 22)
    val dir = writeDocs(Seq(
      (1L, s"$a5 $p $b20", "en", "web", 0L),
      (2L, s"$c3 $p $d22", "en", "web", 0L)))
    val out = CurationOpsQueries.q87DedupCut(spark, dir)
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    val Seq(d1, d2) = out
    assert(d1 == (1L, 35L, 0L, s"$a5 $p $b20"), s"canonical doc changed: $d1")
    assert(d2._2 == 35L && d2._3 == 10L, s"copy doc cut wrong count: $d2")
    assert(d2._4 == s"$c3 $d22", s"copy doc kept wrong words: ${d2._4}")
  }

  test("q87 full non-canonical duplicate rebuilds to empty; canonical untouched") {
    val p = (0 until 16).map(i => s"z$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, p, "en", "web", 0L),
      (2L, p, "en", "web", 0L)))
    val out = CurationOpsQueries.q87DedupCut(spark, dir)
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(out(0) == (1L, 16L, 0L, p), s"got ${out(0)}")
    assert(out(1) == (2L, 16L, 16L, ""), s"got ${out(1)}")
  }

  test("q87 words shared with a canonical window survive in the canonical doc " +
      "even when that doc also holds a non-canonical copy") {
    // one doc containing the same passage twice: first occurrence is
    // canonical (kept), second is cut — self-repetition dedup
    val p = (0 until 12).map(i => s"r$i").mkString(" ")
    val g = (0 until 10).map(i => s"g$i").mkString(" ")
    val dir = writeDocs(Seq((1L, s"$p $g $p", "en", "web", 0L)))
    val out = CurationOpsQueries.q87DedupCut(spark, dir)
      .as[(Long, Long, Long, String)].collect().head
    assert(out._2 == 34L && out._3 == 12L, s"got $out")
    assert(out._4 == s"$p $g", s"got ${out._4}")
  }

  test("q87 fails loudly past the packed-long bound instead of picking a wrong canonical") {
    // (doc_id << 24) + i overflows at doc_id = 2^39: doc 2^39's packed
    // key wraps negative and would silently win the canonical min
    val p = (0 until 10).map(i => s"q$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, p, "en", "web", 0L),
      (1L << 39, p, "en", "web", 0L)))
    val e = intercept[Exception] {
      CurationOpsQueries.q87DedupCut(spark, dir).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("doc_id < 2^39 and i < 2^24")),
      s"the failure must name the bound, got: ${messages.mkString(" | ")}")
  }

  test("q89 planted eval copies are cut to empty; clean training docs untouched") {
    // ids < 200 are held-out; ids >= 200 train. doc 300 embeds the
    // eval passage mid-document → exactly that span is cut; doc 301 is
    // clean → untouched. The q65-convention plants (ids < 10 shifted
    // +3000000) are verbatim eval copies → cut to nothing.
    val evalP = (0 until 12).map(i => s"e$i").mkString(" ")
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val a6 = uniq("a", 6); val b9 = uniq("b", 9); val c30 = uniq("c", 30)
    val dir = writeDocs(Seq(
      (0L, evalP, "en", "web", 0L),                       // held-out
      (300L, s"$a6 $evalP $b9", "en", "web", 0L),         // train, contaminated
      (301L, c30, "en", "web", 0L)))                      // train, clean
    val out = CurationOpsQueries.q89DecontaminateCut(spark, dir)
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(out.map(_._1) == Seq(300L, 301L, 3000000L), s"got $out")
    val Seq(d300, d301, plant) = out
    assert(d300 == (300L, 27L, 12L, s"$a6 $b9"), s"contaminated doc: $d300")
    assert(d301 == (301L, 30L, 0L, c30), s"clean doc changed: $d301")
    assert(plant == (3000000L, 12L, 12L, ""), s"plant not fully cut: $plant")
  }

  test("q86 overlap matrix: planted cross-source copy with exact jaccard") {
    val p = (0 until 8).map(i => s"x$i").mkString(" ")  // exactly one window
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    // srcA: p + 8 unique words -> 9 distinct grams; srcB: p + different 8
    // unique -> 9 grams; shared = exactly the 1 all-p window... plus the
    // mixed windows differ between sources by construction
    val dir = writeDocs(Seq(
      (1L, s"$p ${uniq("a", 8)}", "en", "srcA", 0L),
      (2L, s"$p ${uniq("b", 8)}", "en", "srcB", 0L),
      (3L, uniq("z", 20), "en", "srcC", 0L)))
    val out = CurationOpsQueries.q86SourceOverlap(spark, dir)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // each doc: 16 words -> 9 windows, all distinct within source; only
    // the pure-p window is shared between A and B; C shares nothing
    assert(out == Seq(("srcA", "srcB", 1L, 9L, 9L, math.floor(1.0 / 17.0 * 1e6 + 0.5) / 1e6)),
      s"got $out")
  }

  test("q79 flags a planted burst hour and stays silent on a flat series") {
    val dir = java.nio.file.Files.createTempDirectory("curation-spec").toString
    val hourNs = 3600L * 1000000000L
    // "view": 1 event/hour for 12 hours, then a 30-event burst hour.
    // "flat": 2 events/hour for 6 hours — zero variance, no output.
    val rows =
      (0 until 12).map(h => (h.toLong, h * hourNs, 1L, "view", 0.0, "")) ++
      (0 until 30).map(i => (100L + i, 12 * hourNs + i, 1L, "view", 0.0, "")) ++
      (0 until 12).map(i => (200L + i, (i / 2) * hourNs, 1L, "flat", 0.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = CurationOpsQueries.q79EventAnomalies(spark, dir)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out.map(_._2).distinct == Seq("view"), s"flat series must not appear: $out")
    assert(out.map(_._3) == Seq(30L), s"only the burst hour flags: $out")
    assert(out.head._4 > 2, s"burst z must exceed threshold: $out")
  }

  test("q76–q79 run on real testdata with sane shapes") {
    val dir = "/root/testdata/sf0.001"
    val cube = CurationOpsQueries.q76CubeScorecard(spark, dir).collect()
    assert(cube.length > 1)
    val surp = CurationOpsQueries.q77UnigramSurprisal(spark, dir)
    assert(surp.filter(col("surprisal_r6") <= 0).isEmpty,
      "surprisal is positive for any non-degenerate corpus")
    val dup = CurationOpsQueries.q78PassageDupFraction(spark, dir)
    assert(dup.filter(col("dup_frac_r6") < 0 || col("dup_frac_r6") > 1).isEmpty)
    val anom = CurationOpsQueries.q79EventAnomalies(spark, dir)
    assert(anom.filter(abs(col("z_r6")) <= 2).isEmpty)
  }

  test("q127 bigram surprisal: exact hand values; reordered text scores higher") {
    // corpus bigrams — doc1 "a b a b a": (a,b)(b,a)(a,b)(b,a);
    // doc2 "a b a c a": (a,b)(b,a)(a,c)(c,a)
    // c2: ab=3 ba=3 ac=1 ca=1; c1(first-position): a=4 b=3 c=1
    val dir = writeDocs(Seq(
      (1L, "a b a b a", "en", "w", 9L),
      (2L, "a b a c a", "en", "w", 9L)))
    val out = CurationOpsQueries.q127BigramSurprisal(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 4L), (2L, 4L)))
    def micro(p: Double) = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    def avg4(ms: Seq[Long]) = math.floor(ms.sum.toDouble / 4 + 0.5) / 1e6
    val exp1 = avg4(Seq(micro(3.0 / 4), micro(3.0 / 3), micro(3.0 / 4), micro(3.0 / 3)))
    val exp2 = avg4(Seq(micro(3.0 / 4), micro(3.0 / 3), micro(1.0 / 4), micro(1.0 / 1)))
    assert(out.map(_._3) == Seq(exp1, exp2), s"got $out")
    assert(exp2 > exp1, "the rarer continuation (a→c) must raise the score")
  }

  test("q150 pipeline: every stage fires on its plants and the ledger reconciles") {
    val out = CurationOpsQueries.q150FullCuration(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long, Long, String)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // +4000000 self-appended plants lose (at least) their second half to stage 0
    val intra = out.filter(r => r._1 >= 4000000L && r._1 < 5000000L)
    assert(intra.nonEmpty && intra.forall(_._3 > 0),
      s"intra plants must be cut at stage 0: ${intra.take(3).toSeq}")
    // +3000000 eval copies must not survive at leak grain: whichever stage
    // kills them (decon usually; dedup when the eval text also duplicates
    // corpus text), no ≥ 8-word window of eval text may remain
    val evalPlants = out.filter(r => r._1 >= 3000000L && r._1 < 4000000L)
    assert(evalPlants.nonEmpty
      && evalPlants.forall(r => r._8 == "" || r._8.split(" ").length < 8),
      s"eval plants must not leak an 8-gram: ${evalPlants.filter(_._8.split(" ").length >= 8).take(3).toSeq}")
    assert(evalPlants.exists(_._7 > 0), "at least one plant must die to decon specifically")
    // ledger identities on every row
    out.foreach { r =>
      assert(r._4 == r._2 - r._3, s"after_intra = total0 - intra_cut: $r")
      if (r._6 > 0 || r._7 > 0)
        assert(r._6 == r._4 - r._5, s"after_dedup = after_intra - dedup_cut: $r")
    }
    // and an untouched ordinary doc flows through unchanged
    assert(out.exists(r => r._3 == 0 && r._5 == 0 && r._7 == 0 && r._8.nonEmpty))
  }

  test("q129 intra-doc cut: repeated tile removed, planted double halves, fp tracks kept order") {
    val t1 = "w1 w2 w3 w4 w5 w6 w7 w8"
    val dir = writeDocs(Seq(
      (1L, t1, "en", "w", t1.length.toLong),               // 1 tile, nothing to cut
      (2L, s"$t1 $t1", "en", "w", (2 * t1.length + 1).toLong))) // 2 identical tiles
    val out = CurationOpsQueries.q129IntraDocDedup(spark, dir)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // originals
    assert(out(1L)._2 == 1L && out(1L)._3 == 1L && out(1L)._4 == 0L)
    assert(out(2L)._2 == 2L && out(2L)._3 == 1L && out(2L)._4 == 1L)
    // planted self-appended copies: doc1+planted = 2 tiles keep 1;
    // doc2+planted = 4 tiles keep 1
    assert(out(1000001L)._2 == 2L && out(1000001L)._3 == 1L && out(1000001L)._4 == 1L)
    assert(out(1000002L)._2 == 4L && out(1000002L)._3 == 1L && out(1000002L)._4 == 3L)
    // every variant keeps exactly the same single tile → same fingerprint
    assert(Set(out(1L)._5, out(2L)._5, out(1000001L)._5, out(1000002L)._5).size == 1)
  }

  test("q164: only the two requested grouping sets materialize, and each partitions the corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q164-spec").toString
    Seq((1L, "a", "en", "A", 50L), (2L, "b", "en", "A", 150L),
      (3L, "c", "fr", "A", 250L), (4L, "d", "fr", "B", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = CurationOpsQueries.q164GroupingSets(spark, dir)
      .as[(String, String, String, Byte, Byte, Long, Long)].collect().toSeq
    // exactly two marker patterns: (0,1) = by-lang set, (1,0) = by-length set
    assert(out.map(r => (r._4, r._5)).toSet == Set((0: Byte, 1: Byte), (1: Byte, 0: Byte)),
      s"unexpected grouping sets: $out")
    // each set partitions all 4 documents
    assert(out.filter(r => r._4 == 0).map(_._6).sum == 4L)
    assert(out.filter(r => r._4 == 1).map(_._6).sum == 4L)
    // spot row: source A by-length 'short' holds exactly doc 1
    val aShort = out.find(r => r._1 == "A" && r._3 == "short").get
    assert((aShort._6, aShort._7) == ((1L, 50L)), s"got $aShort")
  }
}
