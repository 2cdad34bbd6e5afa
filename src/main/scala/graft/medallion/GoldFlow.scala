package graft.medallion

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver → gold flow (reference `flows/gold.py`): four aggregate tables
  * over `music_catalog` ⟕ `reviews`, with the reference's
  * truncate-before-write (`gold.py:45-51`) and empty-result guard
  * (`gold.py:62-65`).
  *
  * Scale notes: `top10_by_country`, `band_avg_scores` and
  * `brazilian_bands` are all views of one band grouping of
  * reviews⟕music ([[bandStats]]), so [[run]] computes that aggregate
  * once and pins it ([[graft.core.Materialize.pin]]): the only plan that
  * scans silver `reviews` is the pin's, and the three tables, a window
  * and a filter over a few thousand pinned rows, read it back. No job
  * only probes for emptiness: the pin's own job counts music rows,
  * aggregate rows (the left join keeps every review, so the aggregate is
  * empty exactly when reviews is) and Brazilian bands with
  * `Observation`s, which answer the reference's three empty guards;
  * the other tables are then known non-empty. The reference's
  * `collect()`-based emptiness checks (`gold.py:151`) never materialize
  * a table on the driver. The four tables are independent and are
  * written concurrently ([[graft.core.Concurrent]]), each one atomic on
  * its own. Each table is written as one file sorted within its one
  * partition (`coalesce(1).sortWithinPartitions`), the reference's
  * single-file layout, instead of a range `orderBy`, which pays a
  * sampling job and a range shuffle per table.
  */
object GoldFlow {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `gold.py:78`: reviews renamed for the gold joins. */
  def preprocessReviews(reviews: DataFrame): DataFrame =
    reviews.withColumnsRenamed(Map("id" -> "review_id", "album" -> "album_id"))

  private def reviewsWithCatalog(music: DataFrame, reviews: DataFrame): DataFrame =
    preprocessReviews(reviews).join(music, Seq("album_id"), "left")

  /** The gold tables' sort orders, `band_id` breaking every tie. */
  private val Top10Order = Seq(col("country"), col("review_count").desc, col("band_id"))
  private val ScoreOrder = Seq(col("avg_score").desc, col("band_id"))
  private val AlbumCountOrder = Seq(col("album_count").desc, col("band_id"))

  /** `gold.py:82-111`'s shared band grouping: per band, its review count
    * and score summary (std = Polars ddof=1). Reviews of albums missing
    * from the catalog form the null band's group.
    */
  private def bandStats(music: DataFrame, reviews: DataFrame): DataFrame =
    reviewsWithCatalog(music, reviews)
      .groupBy(col("band_id"), col("band_name"), col("country"))
      .agg(
        count(lit(1)).as("review_count"),
        avg(col("score")).as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        stddev_samp(col("score")).as("std_score"))

  /** `gold.py:82-94` over [[bandStats]], unordered. Reference shape is
    * sort + group_by(country).head(10); Spark-first equivalent is a
    * row_number window with a deterministic band_id tie-break (SURVEY
    * §7.1 D1). Over a single partition the window needs no shuffle.
    */
  private def top10ByCountry(bandStats: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("country"))
      .orderBy(col("review_count").desc, col("band_id"))
    bandStats.select("country", "band_id", "band_name", "review_count", "avg_score")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .drop("rn")
  }

  /** `gold.py:115-122`'s match: the normalized country is either spelling. */
  private def isBrazilian(country: Column): Column =
    lower(trim(country)).isin("brazil", "brasil")

  /** `gold.py:115-122` over band_avg_scores, unordered. */
  private[medallion] def brazilianBands(bandAvgScores: DataFrame): DataFrame =
    bandAvgScores
      .withColumn("country_normalized", lower(trim(col("country"))))
      .filter(isBrazilian(col("country")))

  private def albumCounts(music: DataFrame): DataFrame =
    music.groupBy(col("band_id"), col("band_name"), col("country"))
      .agg(count(lit(1)).as("album_count"))

  /** `gold.py:45-51`: delete everything under gold/ before rewriting. */
  def clearGold(spark: SparkSession, lake: Lake): Unit = {
    val p = new HPath(lake.goldRoot)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** `gold.py:135-167`: the gold DAG with its input guard. Missing or
    * unreadable silver inputs return an empty manifest, not an error
    * (`gold.py:144-148` try/except).
    *
    * `versioned = true` (pair with `SilverFlow.run(versioned = true)`):
    * silver inputs resolve through the `_current` pointer, gold writes
    * go through [[Versioned.commit]], and the reference's
    * truncate-before-write is SKIPPED — deleting gold first is exactly
    * the absent-table window the atomic pointer publish exists to
    * close, and superseded versions are garbage-collected by commit
    * retention instead. `band_album_counts` over an unchanged
    * `music_catalog` version keeps its version (the commit's input key
    * matches); the three tables served from the pinned aggregate always
    * publish. An empty result still skips its table, which
    * in versioned mode leaves the previous version visible rather than
    * truncating — reruns only ever move tables forward.
    */
  def run(spark: SparkSession, lake: Lake, versioned: Boolean = false): Map[String, String] = {
    if (!versioned) clearGold(spark, lake)
    val (music, reviews) =
      try {
        if (versioned)
          (Versioned.read(spark, lake.silver("music_catalog")),
            Versioned.read(spark, lake.silver("reviews")))
        else
          (spark.read.parquet(lake.silver("music_catalog")),
            spark.read.parquet(lake.silver("reviews")))
      } catch {
        case e: Exception =>
          log.warn(s"gold: silver inputs unavailable: ${e.getMessage}")
          return Map.empty
      }

    // the one evaluation of reviews⟕music (SURVEY §4 "Caching / reuse"),
    // counting what the guards need inside its own job. `music` itself
    // stays unobserved for band_album_counts, whose commit keys on its plan
    val musicRows = Observation()
    val statsRows = Observation()
    val stats = graft.core.Materialize.pin(
      bandStats(music.observe(musicRows, count(lit(1)).as("rows")), reviews)
        .observe(statsRows, count(lit(1)).as("rows"),
          count_if(isBrazilian(col("country"))).as("brazilian")))
    // an empty reviews side can leave music unscanned: no row seen
    def observed(o: Observation, name: String): Long =
      o.get.get(name).fold(0L)(_.asInstanceOf[Long])
    if (observed(statsRows, "rows") == 0 || observed(musicRows, "rows") == 0) return Map.empty

    // each table is one file, sorted within its one partition; the four
    // are independent, so they are written concurrently
    def table(name: String, df: DataFrame, order: Seq[Column]) =
      name -> (() => Versioned.write(df.coalesce(1).sortWithinPartitions(order: _*),
        lake.gold(name), versioned))
    graft.core.Concurrent.run(spark.sparkContext, Seq(
      // one partition already clusters the window by country
      Some(table("top10_by_country", top10ByCountry(stats.coalesce(1)), Top10Order)),
      Some(table("band_avg_scores", stats, ScoreOrder)),
      Option.when(observed(statsRows, "brazilian") > 0)(
        table("brazilian_bands", brazilianBands(stats), ScoreOrder)),
      Some(table("band_album_counts", albumCounts(music), AlbumCountOrder))
    ).flatten).toMap
  }
}
