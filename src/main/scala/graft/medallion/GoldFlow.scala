package graft.medallion

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver → gold flow (reference `flows/gold.py`): four aggregate tables
  * over `music_catalog` ⟕ `reviews`, with the reference's
  * truncate-before-write (`gold.py:45-51`) and empty-result guard
  * (`gold.py:62-65`).
  *
  * Scale notes: the shared reviews⟕music join shuffles once on album_id
  * (music is the dim side — broadcast-able by AQE below threshold);
  * every aggregate is a partial/final hash agg on low-cardinality keys.
  * The reference's `collect()`-based emptiness checks (`gold.py:151`)
  * become `df.isEmpty` (a limit-1 job), never a full driver
  * materialization.
  */
object GoldFlow {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `gold.py:78`: reviews renamed for the gold joins. */
  def preprocessReviews(reviews: DataFrame): DataFrame =
    reviews.withColumnsRenamed(Map("id" -> "review_id", "album" -> "album_id"))

  private def reviewsWithCatalog(music: DataFrame, reviews: DataFrame): DataFrame =
    preprocessReviews(reviews).join(music, Seq("album_id"), "left")

  /** `gold.py:82-94`: top-10 bands per country by review count.
    * Reference shape is sort + group_by(country).head(10); Spark-first
    * equivalent is a row_number window — one shuffle on the partition
    * key, deterministic band_id tie-break (SURVEY §7.1 D1), no global
    * sort of the fact side.
    */
  def createTop10ByCountry(music: DataFrame, reviews: DataFrame): DataFrame = {
    val agg = reviewsWithCatalog(music, reviews)
      .groupBy(col("country"), col("band_id"), col("band_name"))
      .agg(count(lit(1)).as("review_count"), avg(col("score")).as("avg_score"))
    val w = Window.partitionBy(col("country"))
      .orderBy(col("review_count").desc, col("band_id"))
    agg.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .drop("rn")
      .orderBy(col("country"), col("review_count").desc, col("band_id"))
  }

  /** `gold.py:98-111`: per-band score summary (std = Polars ddof=1). */
  def createBandAvgScores(music: DataFrame, reviews: DataFrame): DataFrame =
    reviewsWithCatalog(music, reviews)
      .groupBy(col("band_id"), col("band_name"), col("country"))
      .agg(
        count(lit(1)).as("review_count"),
        avg(col("score")).as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        stddev_samp(col("score")).as("std_score"))
      .orderBy(col("avg_score").desc, col("band_id"))

  /** `gold.py:115-122`: normalized-country filter over band_avg_scores. */
  def createBrazilianBands(bandAvgScores: DataFrame): DataFrame =
    bandAvgScores
      .withColumn("country_normalized", lower(trim(col("country"))))
      .filter(col("country_normalized").isin("brazil", "brasil"))
      .orderBy(col("avg_score").desc, col("band_id"))

  /** `gold.py:126-131`: album counts per band. */
  def createBandAlbumCounts(music: DataFrame): DataFrame =
    music.groupBy(col("band_id"), col("band_name"), col("country"))
      .agg(count(lit(1)).as("album_count"))
      .orderBy(col("album_count").desc, col("band_id"))

  /** `gold.py:45-51`: delete everything under gold/ before rewriting. */
  def clearGold(spark: SparkSession, lake: Lake): Unit = {
    val p = new HPath(lake.goldRoot)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Empty-guarded write (`gold.py:62-65`); returns path or None.
    * `partitions` enables hive-style partitioned layout — off by
    * default for reference parity (single-dir tables,
    * `flows/gold.py:70`), on at scale so downstream scans
    * partition-prune (SURVEY §7.3 #6).
    */
  def writeGold(
      df: DataFrame, path: String,
      partitions: Seq[String] = Nil,
      versioned: Boolean = false): Option[String] =
    if (df.isEmpty) None
    else if (versioned)
      Some(Versioned.commit(df.sparkSession, path, df, partitions = partitions))
    else {
      val w = df.write.mode("overwrite")
      (if (partitions.nonEmpty) w.partitionBy(partitions: _*) else w).parquet(path)
      Some(path)
    }

  /** `gold.py:135-167`: the gold DAG with its input guard. Missing or
    * unreadable silver inputs return an empty manifest, not an error
    * (`gold.py:144-148` try/except). `partitionSpec` maps gold table
    * name → partition columns (empty = flat layout).
    *
    * `versioned = true` (pair with `SilverFlow.run(versioned = true)`):
    * silver inputs resolve through the `_current` pointer, gold writes
    * go through [[Versioned.commit]], and the reference's
    * truncate-before-write is SKIPPED — deleting gold first is exactly
    * the absent-table window the atomic pointer publish exists to
    * close, and superseded versions are garbage-collected by commit
    * retention instead. An empty result still skips its table, which
    * in versioned mode leaves the previous version visible rather than
    * truncating — reruns only ever move tables forward.
    */
  def run(
      spark: SparkSession, lake: Lake,
      partitionSpec: Map[String, Seq[String]] = Map.empty,
      versioned: Boolean = false): Map[String, String] = {
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
    if (music.isEmpty || reviews.isEmpty) return Map.empty

    // Reused by two outputs + the brazilian derivation → cache once
    // (allowed improvement over the reference's per-task recompute,
    // SURVEY §4 "Caching / reuse").
    graft.core.Materialize.cached(music) { music =>
    graft.core.Materialize.cached(reviews) { reviews =>
      val result = Map.newBuilder[String, String]
      def parts(name: String): Seq[String] = partitionSpec.getOrElse(name, Nil)
      val avgScores = createBandAvgScores(music, reviews)
      writeGold(createTop10ByCountry(music, reviews), lake.gold("top10_by_country"),
        parts("top10_by_country"), versioned).foreach(result += "top10_by_country" -> _)
      writeGold(avgScores, lake.gold("band_avg_scores"),
        parts("band_avg_scores"), versioned).foreach(result += "band_avg_scores" -> _)
      writeGold(createBrazilianBands(avgScores), lake.gold("brazilian_bands"),
        parts("brazilian_bands"), versioned).foreach(result += "brazilian_bands" -> _)
      writeGold(createBandAlbumCounts(music), lake.gold("band_album_counts"),
        parts("band_album_counts"), versioned).foreach(result += "band_album_counts" -> _)
      result.result()
    }}
  }
}
