package graft.medallion

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Golden end-to-end test of the full medallion pipeline over the
  * FIXTURES.md §A CSVs: landing (chunked, header-per-chunk) → bronze
  * (normalize+dedup) → silver (typed transforms + joins) → gold
  * (4 aggregate tables) → the ad-hoc full-dataset query.
  *
  * Chunks are forced tiny (100 B) so every dataset lands multi-chunk:
  * concatenated landing objects carry embedded header lines, which
  * collapse to ONE artifact row in bronze (dedup) and — faithfully to
  * the reference — survive into silver for albums/bands (only reviews
  * filters header rows, `flows/silver.py:108`), turning into
  * null-keyed rows that the joins and filters must handle.
  */
class MedallionE2ESpec extends SparkTestBase {

  private lazy val lake: Lake = {
    val root = Files.createTempDirectory("medallion-e2e").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val l = Lake(root)
    val landed = LandingFlow.run(fixtures, l, maxBytes = 100, bufferBytes = 1000)
    assert(landed.keySet == Set("albums", "bands", "reviews"))
    val bronze = BronzeFlow.run(spark, l, Seq("albums", "bands", "reviews"))
    assert(bronze.keySet == Set("albums", "bands", "reviews"))
    val silver = SilverFlow.run(spark, l, bronze)
    assert(silver.keySet ==
      Set("albums", "bands", "reviews", "music_catalog", "album_reviews"))
    val gold = GoldFlow.run(spark, l)
    // brazilian_bands is empty on these fixtures (no Brazilian band has
    // reviews) → the empty-result guard must skip it.
    assert(gold.keySet == Set("top10_by_country", "band_avg_scores", "band_album_counts"))
    l
  }

  // Engine note: Polars infers embedded header lines as data (stringly
  // columns); Spark's CSV inference skips header-identical lines but the
  // parser still emits them as rows, nulling unparseable typed fields
  // (PERMISSIVE). Either way the artifact collapses to ONE bronze row and
  // reaches the same silver end state after casts.
  test("bronze reviews: dup row collapsed, embedded header rows collapse to one") {
    val bronze = Versioned.read(spark, lake.bronze("reviews"))
    assert(bronze.count() == 7) // 6 distinct data rows + 1 header-artifact row
    assert(bronze.filter(col("id").isNull && col("title") === "title").count() == 1)
  }

  test("bronze albums: chunk headers become one artifact row; names normalized") {
    val bronze = Versioned.read(spark, lake.bronze("albums"))
    assert(bronze.columns.toSeq == Seq("id", "title", "band", "year"))
    assert(bronze.count() == 7) // 6 albums + 1 header-artifact row
    assert(bronze.filter(col("id").isNull && trim(col("title")) === "Title").count() == 1)
  }

  test("silver bands: start_year extraction and non-strict casts") {
    val bands = spark.read.parquet(lake.silver("bands"))
      .filter(col("id").isNotNull)
      .select("id", "status", "formed_in", "start_year")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(bands(10) == (("Active", Some(1983L), Some(1983L))))
    assert(bands(11) == (("Split-up", Some(1987L), Some(1987L))))
    assert(bands(12) == (("Active", Some(1988L), Some(1988L))))
    assert(bands(14) == (("Split-up", Some(1985L), Some(1985L))))
    // band 16: empty formed_in and 'N/A' active → nulls via non-strict cast
    assert(bands(16) == (("On hold", None, None)))
    // the header-artifact row survives silver bands (reference parity:
    // only reviews filters header rows) with nulled-out numeric casts
    val junk = spark.read.parquet(lake.silver("bands")).filter(col("id").isNull).collect()
    assert(junk.length == 1)
    assert(junk.head.getAs[String]("status") == "Status")
  }

  test("silver reviews: header row dropped, pipes replaced, types cast") {
    val reviews = spark.read.parquet(lake.silver("reviews"))
    assert(reviews.count() == 6) // artifact row filtered here (F2)
    val r100 = reviews.filter(col("id") === 100).collect().head
    assert(r100.getAs[String]("content") == "Godfather of death metal , essential")
    assert(reviews.schema("score").dataType.typeName == "double")
    assert(reviews.schema("album").dataType.typeName == "long")
  }

  test("silver music_catalog: albums joined to band attributes") {
    val mc = spark.read.parquet(lake.silver("music_catalog"))
    assert(mc.columns.toSeq == Seq("album_id", "album_title", "year", "band_id",
      "band_name", "country", "genre", "theme"))
    assert(mc.count() == 7) // 6 real albums + albums' header-artifact row
    val rows = mc.filter(col("album_id").isNotNull).orderBy("album_id").collect()
    assert(rows.length == 6)
    assert(rows.head == Row(1L, "Altars of Madness", 1989L, 10L, "Morbid Angel",
      "United States", "Death Metal", "Occultism"))
    // album 6 has null year; band 15 attrs present (raw-padded country)
    assert(rows.last == Row(6L, "Unreleased Demo", null, 15L, "Krisiun",
      " brasil ", "Death Metal", "War"))
    // artifact album row: null band_id → left join leaves band side null
    val junk = mc.filter(col("album_id").isNull).collect()
    assert(junk.length == 1 && junk.head.getAs[String]("band_name") == null)
  }

  test("silver album_reviews: orphan FK → null album_title") {
    val ar = spark.read.parquet(lake.silver("album_reviews"))
    assert(ar.count() == 6)
    val orphan = ar.filter(col("review_id") === 105).collect().head
    assert(orphan.getAs[Long]("album_id") == 99L)
    assert(orphan.get(ar.columns.indexOf("album_title")) == null)
  }

  test("gold top10_by_country: per-country review leaders incl. orphan group") {
    val top = spark.read.parquet(lake.gold("top10_by_country")).collect()
      .map(r => (Option(r.getAs[String]("country")),
        Option(r.get(r.fieldIndex("band_id"))),
        r.getAs[Long]("review_count"), r.getAs[Double]("avg_score"))).toSet
    // reviews: albums 1(x2 → band 10), 2(x2 → band 11), 3(x1 → band 12), 99(orphan)
    assert(top == Set(
      (Some("Sweden"), Some(11L), 2L, 7.75),
      (Some("Sweden"), Some(12L), 1L, 9.1),
      (Some("United States"), Some(10L), 2L, 9.25),
      (None, None, 1L, 5.0)))
  }

  test("gold band_avg_scores: exact stats incl. sample stddev") {
    val s = spark.read.parquet(lake.gold("band_avg_scores"))
      .filter(col("band_id") === 11).collect().head
    assert(s.getAs[Long]("review_count") == 2L)
    assert(s.getAs[Double]("avg_score") == 7.75)
    assert(s.getAs[Double]("min_score") == 7.0)
    assert(s.getAs[Double]("max_score") == 8.5)
    assert(math.abs(s.getAs[Double]("std_score") - 1.0606601717798212) < 1e-12)
  }

  test("gold band_album_counts: one album per band + artifact group") {
    val counts = spark.read.parquet(lake.gold("band_album_counts"))
    assert(counts.count() == 7) // 6 bands + the null-keyed artifact group
    assert(counts.select("album_count").distinct().collect().toSeq == Seq(Row(1L)))
  }

  test("gold empty-result guard: brazilian_bands not written") {
    assert(!Files.exists(Paths.get(lake.gold("brazilian_bands"))))
  }

  test("brazilian filter logic (unit): lower+trim+isin") {
    import spark.implicits._
    val fake = Seq(
      (14L, "Sarcófago", "Brazil", 9.0),
      (15L, "Krisiun", " brasil ", 8.0),
      (11L, "Entombed", "Sweden", 7.75)
    ).toDF("band_id", "band_name", "country", "avg_score")
    val out = GoldFlow.brazilianBands(fake).collect()
    assert(out.map(_.getAs[Long]("band_id")).toSet == Set(14L, 15L))
    assert(out.map(_.getAs[String]("country_normalized")).toSet == Set("brazil", "brasil"))
  }

  test("full dataset ad-hoc chain: 5 reviewed albums with band context") {
    val fd = FullDataset.build(spark, MedallionTestKit.versionedSilverLake(spark, "full-dataset"))
    assert(fd.columns.toSeq == Seq("name", "country", "status", "formed_in",
      "title_album", "year_album", "title_review", "score", "content"))
    val rows = fd.orderBy("name", "title_review").collect()
    assert(rows.length == 5)
    val names = rows.map(_.getAs[String]("name")).toSeq
    assert(names == Seq("Dismember", "Entombed", "Entombed", "Morbid Angel", "Morbid Angel"))
  }

  test("versioned flows: reruns never expose an absent table to a concurrent reader") {
    val root = Files.createTempDirectory("medallion-versioned").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val l = Lake(root)
    LandingFlow.run(fixtures, l, maxBytes = 100, bufferBytes = 1000)
    val bronze = BronzeFlow.run(spark, l, Seq("albums", "bands", "reviews"))
    SilverFlow.run(spark, l, bronze, versioned = true)
    val gold1 = GoldFlow.run(spark, l, versioned = true)
    assert(gold1.keySet == Set("top10_by_country", "band_avg_scores", "band_album_counts"))
    // manifest entries are immutable committed version dirs
    assert(gold1("band_avg_scores").matches(".*/v_\\d{6}"),
      gold1("band_avg_scores"))
    val expected = Versioned.read(spark, l.gold("band_avg_scores"))
      .collect().map(_.toSeq).toSet

    // a plain overwrite rerun deletes the table before rewriting it —
    // this reader loop is exactly the consumer that window breaks
    @volatile var failures = List.empty[String]
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val got = Versioned.read(spark, l.gold("band_avg_scores"))
            .collect().map(_.toSeq).toSet
          if (got != expected) failures ::= s"reader saw ${got.size} rows"
        } catch { case e: Exception => failures ::= String.valueOf(e.getMessage) }
      }
    })
    reader.start()
    try {
      (1 to 3).foreach { _ =>
        SilverFlow.run(spark, l, bronze, versioned = true)
        GoldFlow.run(spark, l, versioned = true)
      }
    } finally { stop = true; reader.join() }
    assert(failures.isEmpty, failures.take(3).mkString("; "))
    assert(Versioned.read(spark, l.gold("band_avg_scores"))
      .collect().map(_.toSeq).toSet == expected)
  }

  test("silver validate_schema raises on missing column") {
    import spark.implicits._
    val bad = Seq((1L, "x")).toDF("id", "title")
    val e = intercept[IllegalArgumentException] {
      SilverFlow.transformAlbums(bad)
    }
    assert(e.getMessage.contains("band"))
    assert(e.getMessage.contains("albums"))
  }
}
