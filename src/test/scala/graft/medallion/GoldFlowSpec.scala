package graft.medallion

import java.nio.file.{Files, Paths}

import org.apache.spark.ListenerBuses
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.medallion.MedallionTestKit._
import graft.streaming.FailingCommitProtocol

/** [[GoldFlow.run]]'s cost and guards: one evaluation of reviews⟕music
  * feeds three tables, the job count is locked, and every empty guard
  * keeps the reference's meaning.
  */
class GoldFlowSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs of one versioned gold run over the fixture lake. A join
    * and group-by per table, an empty probe per write, a range sort per
    * table and schema inference per silver read ran 32 here, in plans
    * that scanned silver reviews 5 times; a music probe and a count
    * over the pinned aggregate for the empty guards ran 9. */
  private val GoldJobs = 7

  test(s"versioned gold over the fixture lake runs $GoldJobs Spark jobs and scans silver reviews once") {
    val lake = versionedSilverLake(spark, "gold-jobs")
    val reviewsDir = Versioned.resolve(spark, lake.silver("reviews"))
    val ((manifest, jobs), scans) = countingScans(spark, reviewsDir) {
      countingJobs(spark)(GoldFlow.run(spark, lake, versioned = true))
    }
    assert(manifest.keySet == Set("top10_by_country", "band_avg_scores", "band_album_counts"))
    assert(jobs == GoldJobs, s"gold ran $jobs Spark jobs")
    assert(scans == 1, s"$scans executed plans scanned $reviewsDir")
  }

  private def silverLake(prefix: String, music: DataFrame, reviews: DataFrame,
      versioned: Boolean): Lake = {
    val lake = Lake(Files.createTempDirectory(prefix).toString)
    Seq("music_catalog" -> music, "reviews" -> reviews).foreach { case (t, df) =>
      if (versioned) Versioned.commit(spark, lake.silver(t), df)
      else df.write.parquet(lake.silver(t))
    }
    lake
  }

  private def music = Seq(
    (1L, "Altars of Madness", 10L, "Morbid Angel", "United States"),
    (5L, "INRI", 14L, "Sarcófago", "Brazil")
  ).toDF("album_id", "album_title", "band_id", "band_name", "country")

  private def reviews(rows: (Long, Long, Double)*): DataFrame =
    rows.toDF("id", "album", "score")

  test("empty silver reviews: no gold table, no gold dir (plain and versioned)") {
    Seq(false, true).foreach { versioned =>
      val lake = silverLake("gold-no-reviews", music, reviews(), versioned)
      assert(GoldFlow.run(spark, lake, versioned = versioned) == Map.empty)
      assert(!Files.exists(Paths.get(lake.goldRoot)), s"versioned=$versioned")
    }
  }

  test("empty music with reviews: no gold table") {
    val lake = silverLake("gold-no-music", music.limit(0),
      reviews((100L, 1L, 9.5), (101L, 99L, 5.0)), versioned = true)
    assert(GoldFlow.run(spark, lake, versioned = true) == Map.empty)
    assert(!Files.exists(Paths.get(lake.goldRoot)))
  }

  test("versioned: a run with no brazilian band keeps that table's previous version") {
    val lake = silverLake("gold-brazil", music,
      reviews((100L, 1L, 9.5), (101L, 5L, 8.0)), versioned = true)
    val first = GoldFlow.run(spark, lake, versioned = true)
    assert(first.keySet == Set("top10_by_country", "band_avg_scores",
      "brazilian_bands", "band_album_counts"))
    // the Brazilian band's only review goes
    Versioned.commit(spark, lake.silver("reviews"), reviews((100L, 1L, 9.5), (102L, 1L, 7.0)))
    val second = GoldFlow.run(spark, lake, versioned = true)
    assert(second.keySet == Set("top10_by_country", "band_avg_scores", "band_album_counts"))
    assert(second("band_avg_scores") != first("band_avg_scores"))
    assert(Versioned.resolve(spark, lake.gold("brazilian_bands")) == first("brazilian_bands"))
    assert(Versioned.read(spark, lake.gold("brazilian_bands")).collect().toSeq
      .map(r => (r.getAs[Long]("band_id"), r.getAs[Double]("avg_score"))) == Seq((14L, 8.0)))
    assert(Versioned.read(spark, lake.gold("band_avg_scores")).collect().toSeq
      .map(r => (r.getAs[Long]("band_id"), r.getAs[Long]("review_count"))) == Seq((10L, 2L)))
  }

  test("gold tables are one sorted file each") {
    val lake = versionedSilverLake(spark, "gold-files")
    val manifest = GoldFlow.run(spark, lake, versioned = true)
    manifest.values.foreach { dir =>
      val files = Files.list(Paths.get(dir)).toArray.map(_.toString).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$dir: ${files.mkString(", ")}")
    }
    val top = Versioned.read(spark, lake.gold("top10_by_country")).collect().toSeq
      .map(r => (Option(r.getAs[String]("country")), r.getAs[Long]("review_count")))
    assert(top == Seq((None, 1L), (Some("Sweden"), 2L), (Some("Sweden"), 1L),
      (Some("United States"), 2L)))
    assert(Versioned.read(spark, lake.gold("band_avg_scores")).collect().toSeq
      .map(r => Option(r.get(r.fieldIndex("band_id")))) ==
      Seq(Some(10L), Some(12L), Some(11L), None))
  }

  test("a gold table whose write fails inside its job: siblings stop, every root keeps a committed version, a rerun equals a clean run") {
    val brazil = Seq((100L, 1L, 9.5), (101L, 5L, 8.0))
    val lake = silverLake("gold-fail", music, reviews(brazil: _*), versioned = true)
    val first = GoldFlow.run(spark, lake, versioned = true)
    val tables = first.keySet
    assert(tables.size == 4)
    val changed = reviews(brazil :+ ((102L, 1L, 7.0)): _*)
    Versioned.commit(spark, lake.silver("reviews"), changed)

    // the run's jobs, started and ended, by the job group set around it
    val sc = spark.sparkContext
    val group = s"gold-fail-${java.util.UUID.randomUUID}"
    val running = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          running.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = running.remove(e.jobId)
    }
    val key = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    FailingCommitProtocol.under = "/band_avg_scores/"
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "failing gold run", interruptOnCancel = false)
    val failed =
      try scala.util.Try(GoldFlow.run(spark, lake, versioned = true))
      finally {
        sc.clearJobGroup()
        spark.conf.unset(key)
        FailingCommitProtocol.under = ""
      }
    ListenerBuses.drain(sc)
    sc.removeSparkListener(listener)
    assert(failed.isFailure, "the injected write failure did not surface")
    assert(running.isEmpty, s"jobs $running of the failed run were still running when it returned")
    tables.foreach(t => Versioned.resolve(spark, lake.gold(t)))
    assert(Versioned.resolve(spark, lake.gold("band_avg_scores")) == first("band_avg_scores"))

    def rows(lake: Lake, t: String): Seq[String] =
      Versioned.read(spark, lake.gold(t)).collect().toSeq.map(_.toString)
    val rerun = GoldFlow.run(spark, lake, versioned = true)
    val clean = silverLake("gold-fail-clean", music, changed, versioned = true)
    assert(GoldFlow.run(spark, clean, versioned = true).keySet == rerun.keySet)
    rerun.keySet.foreach(t => assert(rows(lake, t) == rows(clean, t), t))
  }
}
