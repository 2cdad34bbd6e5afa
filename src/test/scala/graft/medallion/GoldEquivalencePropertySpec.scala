package graft.medallion

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkTestBase

/** The gold tables [[GoldFlow.run]] publishes from its one pinned band
  * aggregate equal the per-table formulation they replace (a join and group-by per table,
  * range-sorted; copied below as the oracle) over random silver frames:
  * same rows in the same `collect()` order. The frames carry ties on
  * `review_count`, null band and country groups, orphan album ids,
  * null scores and countries with more than 10 bands.
  *
  * Scores are multiples of 0.25, so every sum is exact in any order
  * and `avg_score` compares exactly; `std_score` merges partial moments
  * in shuffle order and compares within 1e-12.
  */
class GoldEquivalencePropertySpec extends SparkTestBase {
  import spark.implicits._

  // ---- oracle: the per-table formulation ----
  private def joined(music: DataFrame, reviews: DataFrame): DataFrame =
    reviews.withColumnsRenamed(Map("id" -> "review_id", "album" -> "album_id"))
      .join(music, Seq("album_id"), "left")

  private def oracleTop10(music: DataFrame, reviews: DataFrame): DataFrame = {
    val agg = joined(music, reviews)
      .groupBy(col("country"), col("band_id"), col("band_name"))
      .agg(count(lit(1)).as("review_count"), avg(col("score")).as("avg_score"))
    val w = Window.partitionBy(col("country"))
      .orderBy(col("review_count").desc, col("band_id"))
    agg.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .drop("rn")
      .orderBy(col("country"), col("review_count").desc, col("band_id"))
  }

  private def oracleBandAvgScores(music: DataFrame, reviews: DataFrame): DataFrame =
    joined(music, reviews)
      .groupBy(col("band_id"), col("band_name"), col("country"))
      .agg(
        count(lit(1)).as("review_count"),
        avg(col("score")).as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        stddev_samp(col("score")).as("std_score"))
      .orderBy(col("avg_score").desc, col("band_id"))

  private def oracleBrazilianBands(bandAvgScores: DataFrame): DataFrame =
    bandAvgScores
      .withColumn("country_normalized", lower(trim(col("country"))))
      .filter(col("country_normalized").isin("brazil", "brasil"))
      .orderBy(col("avg_score").desc, col("band_id"))

  private def oracleBandAlbumCounts(music: DataFrame): DataFrame =
    music.groupBy(col("band_id"), col("band_name"), col("country"))
      .agg(count(lit(1)).as("album_count"))
      .orderBy(col("album_count").desc, col("band_id"))

  // ---- random silver frames ----
  private type MusicRow = (Option[Long], Option[Long], Option[String], Option[String])
  private type ReviewRow = (Long, Option[Long], Option[Double])

  private val genCountry: Gen[Option[String]] = Gen.frequency(
    6 -> Gen.const(Some("Sweden")), 3 -> Gen.const(Some("Norway")),
    2 -> Gen.const(Some("Brazil")), 1 -> Gen.const(Some(" brasil ")), 1 -> Gen.const(None))

  /** Bands 1..n (each with one country, as music_catalog's join gives
    * it; mostly 20-40 bands, so Sweden usually has more than 10), one
    * album per band plus albums over bands 1..n+2 (the last two absent
    * from bands) or none, an occasional null-keyed catalog row, and
    * reviews over album ids up to 3 past the catalog's (orphans). */
  private val genSilver: Gen[(Seq[MusicRow], Seq[ReviewRow])] = for {
    nBands <- Gen.frequency(1 -> Gen.choose(0, 8), 3 -> Gen.choose(20, 40))
    countries <- Gen.listOfN(nBands, genCountry)
    nExtra <- Gen.choose(0, 20)
    extraBands <- Gen.listOfN(nExtra,
      Gen.frequency(4 -> Gen.choose(1L, nBands + 2L).map(Option(_)), 1 -> Gen.const(None)))
    artifact <- Gen.oneOf(true, false)
    albumBands = (1L to nBands).map(Option(_)) ++ extraBands
    nReviews <- Gen.choose(0, 3 * albumBands.size + 5)
    reviewAlbums <- Gen.listOfN(nReviews, Gen.choose(1L, albumBands.size + 3L))
    scores <- Gen.listOfN(nReviews,
      Gen.frequency(12 -> Gen.choose(0, 40).map(q => Option(q / 4.0)), 1 -> Gen.const(None)))
  } yield {
    val music = albumBands.zipWithIndex.map { case (band, i) =>
      val known = band.filter(_ <= nBands)
      (Option(i + 1L), band, known.map(b => s"band $b"), known.flatMap(b => countries(b.toInt - 1)))
    } ++ (if (artifact) Seq((None, None, None, None)) else Nil)
    val reviews = reviewAlbums.zip(scores).zipWithIndex.map { case ((a, s), i) =>
      (100L + i, Option(a), s)
    }
    (music, reviews)
  }

  private def sameRows(table: String, got: Seq[Row], want: Seq[Row]): Boolean = {
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-12
      case _ => a == b
    }
    val fields = want.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
    val ok = got.size == want.size && got.zip(want).forall { case (g, w) =>
      fields.forall { f =>
        val (a, b) = (g.get(g.fieldIndex(f)), w.get(w.fieldIndex(f)))
        if (f == "std_score") close(a, b) else a == b
      } && g.schema.fieldNames.toSeq == fields
    }
    if (!ok) info(s"$table\n  got:  ${got.mkString(" ")}\n  want: ${want.mkString(" ")}")
    ok
  }

  test("ScalaCheck: published gold equals the per-table formulation") {
    var truncated = 0 // cases where some country had more than 10 reviewed bands
    val prop = Prop.forAll(genSilver) { case (musicRows, reviewRows) =>
      val music = musicRows.toDF("album_id", "band_id", "band_name", "country")
      val reviews = reviewRows.toDF("id", "album", "score")
      val lake = Lake(Files.createTempDirectory("gold-equiv").toString)
      Versioned.commit(spark, lake.silver("music_catalog"), music)
      Versioned.commit(spark, lake.silver("reviews"), reviews)
      val manifest = GoldFlow.run(spark, lake, versioned = true)

      val scores = oracleBandAvgScores(music, reviews)
      val want = Map(
        "top10_by_country" -> oracleTop10(music, reviews),
        "band_avg_scores" -> scores,
        "brazilian_bands" -> oracleBrazilianBands(scores),
        "band_album_counts" -> oracleBandAlbumCounts(music)
      ).map { case (t, df) => t -> df.collect().toSeq }
      if (want("top10_by_country").size < want("band_avg_scores").size) truncated += 1
      if (musicRows.isEmpty || reviewRows.isEmpty) manifest.isEmpty
      else manifest.keySet == want.filter(_._2.nonEmpty).keySet &&
        manifest.keys.forall { t =>
          sameRows(t, Versioned.read(spark, lake.gold(t)).collect().toSeq, want(t))
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    assert(truncated > 0, "no generated case cut a country to its top 10")
  }
}
