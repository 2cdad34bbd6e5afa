package graft.medallion

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

class FlowsSpec extends SparkTestBase {

  private def fixtures: String =
    Paths.get(getClass.getResource("/fixtures/albums.csv").toURI).getParent.toString

  test("runAll composes the four flows into one manifest") {
    val lake = Lake(Files.createTempDirectory("flows-e2e").toString)
    val manifest = Flows.runAll(spark, fixtures, lake, maxChunkBytes = 100)
    assert(manifest("landing").keySet == Set("albums", "bands", "reviews"))
    assert(manifest("bronze").keySet == Set("albums", "bands", "reviews"))
    assert(manifest("silver").keySet ==
      Set("albums", "bands", "reviews", "music_catalog", "album_reviews"))
    assert(manifest("gold").keySet ==
      Set("top10_by_country", "band_avg_scores", "band_album_counts"))
    assert(spark.read.parquet(manifest("gold")("band_avg_scores")).count() == 4)
  }

  test("runAll publishes atomically: versioned manifests, rerun-safe for readers") {
    val lake = Lake(Files.createTempDirectory("flows-versioned").toString)
    val m1 = Flows.runAll(spark, fixtures, lake, maxChunkBytes = 100)
    // silver and gold manifest entries are immutable committed version dirs
    (m1("silver").values ++ m1("gold").values).foreach { p =>
      assert(p.matches(".*/v_\\d{6}"), p)
    }
    val expected = Versioned.read(spark, lake.gold("band_avg_scores"))
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)

    // a reader polling across full-pipeline reruns must never see an
    // absent or wrong table — the window a plain overwrite rerun opens
    @volatile var failures = List.empty[String]
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val got = Versioned.read(spark, lake.gold("band_avg_scores"))
            .collect().map(_.toSeq).toSet
          if (got != expected) failures ::= s"reader saw ${got.size} rows"
        } catch { case e: Exception => failures ::= String.valueOf(e.getMessage) }
      }
    })
    reader.start()
    try {
      (1 to 2).foreach { _ =>
        Flows.runAll(spark, fixtures, lake, maxChunkBytes = 100)
      }
    } finally { stop = true; reader.join() }
    assert(failures.isEmpty, failures.take(3).mkString("; "))
  }

  test("waitForLanding returns keys once objects arrive") {
    val lake = Lake(Files.createTempDirectory("flows-poll").toString)
    val dir = Paths.get(lake.landing("reviews"))
    // arrive asynchronously after ~200ms, poll every 50ms
    new Thread(() => {
      Thread.sleep(200)
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-00000.csv"), "id\n1\n".getBytes)
    }).start()
    val keys = Flows.waitForLanding(spark, lake, "reviews",
      pollMs = 50, pollsPerAttempt = 40, retries = 0)
    assert(keys.exists(_.endsWith("part-00000.csv")))
  }

  test("waitForLanding with retry budget returns promptly when data exists") {
    val lake = Lake(Files.createTempDirectory("flows-poll-fast").toString)
    val dir = Paths.get(lake.landing("albums"))
    Files.createDirectories(dir)
    Files.write(dir.resolve("x.csv"), "id\n1\n".getBytes)
    // regression: a successful poll used to unwind through Retry as
    // NonLocalReturnControl and burn the whole retry budget in sleeps
    val t0 = System.nanoTime()
    val keys = Flows.waitForLanding(spark, lake, "albums",
      pollMs = 10, pollsPerAttempt = 5, retries = 3, retryDelayMs = 5000)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(keys.nonEmpty)
    assert(elapsedMs < 3000, s"took ${elapsedMs}ms — retry sleeps leaked in")
  }

  test("waitForLanding exhausts polls and retries, then throws") {
    val lake = Lake(Files.createTempDirectory("flows-poll-empty").toString)
    val e = intercept[RuntimeException] {
      Flows.waitForLanding(spark, lake, "albums",
        pollMs = 1, pollsPerAttempt = 2, retries = 1, retryDelayMs = 1)
    }
    assert(e.getMessage.contains("no landing objects"))
  }
}
