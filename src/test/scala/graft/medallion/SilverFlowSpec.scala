package graft.medallion

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.medallion.MedallionTestKit._

/** [[SilverFlow.run]]'s cost in versioned mode: the job count of a
  * first run is locked, and a rerun republishes only the tables whose
  * bronze inputs changed ([[Versioned.commit]]'s input key).
  */
class SilverFlowSpec extends SparkTestBase {

  private val Tables = Seq("albums", "bands", "reviews", "music_catalog", "album_reviews")

  /** Spark jobs of a first versioned silver run over the fixture lake.
    * Bronze is read with the schema its pointer records, so none of them
    * is a schema-inference job (each bronze read added one when bronze
    * was a plain dir: 10). */
  private val SilverJobs = 7

  private def bronzeLake(prefix: String): (Lake, Map[String, String]) = {
    val lake = Lake(Files.createTempDirectory(prefix).toString)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)
    (lake, BronzeFlow.run(spark, lake, Seq("albums", "bands", "reviews")))
  }

  /** The `v_*` dirs of every silver root. */
  private def versions(lake: Lake): Map[String, Set[String]] =
    Tables.map { t =>
      t -> Files.list(Paths.get(lake.silver(t))).toArray
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.matches("v_\\d+")).toSet
    }.toMap

  test(s"a first versioned silver run over the fixture lake runs $SilverJobs Spark jobs") {
    val (lake, bronze) = bronzeLake("silver-jobs")
    val (manifest, jobs) = countingJobs(spark)(SilverFlow.run(spark, lake, bronze, versioned = true))
    assert(manifest.keySet == Tables.toSet)
    assert(jobs == SilverJobs, s"silver ran $jobs Spark jobs")
  }

  test("a rerun over unchanged bronze publishes no silver version") {
    val (lake, bronze) = bronzeLake("silver-rerun")
    val first = SilverFlow.run(spark, lake, bronze, versioned = true)
    val before = versions(lake)
    val second = SilverFlow.run(spark, lake, bronze, versioned = true)
    assert(versions(lake) == before)
    assert(second == first)
  }

  test("a reviews-only bronze change republishes exactly reviews and album_reviews") {
    val (lake, bronze) = bronzeLake("silver-reviews")
    val first = SilverFlow.run(spark, lake, bronze, versioned = true)
    val before = versions(lake)
    // one more bronze reviews file: a repeat of a review already there
    val reviews = Versioned.read(spark, bronze("reviews"))
    Versioned.append(spark, bronze("reviews"),
      spark.createDataFrame(java.util.Arrays.asList(reviews.limit(1).collect(): _*), reviews.schema))
    val second = SilverFlow.run(spark, lake, bronze, versioned = true)
    val changed = Tables.filter(t => versions(lake)(t) != before(t)).toSet
    assert(changed == Set("reviews", "album_reviews"))
    assert(Tables.filter(t => second(t) != first(t)).toSet == changed)
    assert(Versioned.read(spark, lake.silver("reviews")).count() ==
      spark.read.parquet(first("reviews")).count() + 1)
  }
}
