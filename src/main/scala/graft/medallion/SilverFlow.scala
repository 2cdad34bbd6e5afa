package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze → silver flow (reference `flows/silver.py`): presence-validated
  * typed transforms per dataset plus the two conformed joins, with the
  * reference's conditional DAG (skip joins when inputs are absent —
  * `silver.py:169-183`). All casts rely on the session's non-ANSI
  * null-on-failure semantics (SURVEY §7.1 D5; Polars `strict=False`,
  * `silver.py:86,93`).
  */
object SilverFlow {

  /** Presence-only schema validation (`flows/silver.py:48-52` checks
    * column existence, never types).
    */
  def validateSchema(df: DataFrame, expected: Seq[String], name: String): Unit = {
    val have = df.columns.toSet
    expected.foreach { c =>
      require(have.contains(c), s"column '$c' missing in $name")
    }
  }

  /** `flows/silver.py:55-68`: albums casts id/band/year to i64. */
  def transformAlbums(df: DataFrame): DataFrame = {
    validateSchema(df, Seq("id", "title", "band", "year"), "albums")
    df.withColumn("id", col("id").cast("long"))
      .withColumn("band", col("band").cast("long"))
      .withColumn("year", col("year").cast("long"))
  }

  /** `flows/silver.py:71-95`: bands casts, identity when/otherwise on
    * status (preserved for fidelity), and `start_year` = first 4-digit
    * run of `active` (regex group 0) with null-on-failure cast.
    */
  def transformBands(df: DataFrame): DataFrame = {
    validateSchema(df,
      Seq("id", "name", "country", "genre", "theme", "status", "formed_in", "active"),
      "bands")
    df.withColumn("id", col("id").cast("long"))
      .withColumn("formed_in", col("formed_in").cast("long"))
      .withColumn("status",
        when(col("status") === "Active", lit("Active")).otherwise(col("status")))
      .withColumn("start_year",
        regexp_extract(col("active"), "(\\d{4})", 0).cast("long"))
  }

  /** `flows/silver.py:98-115`: drop embedded chunk-header rows
    * (`id` containing the literal "id"), type casts, and `|`→`,` in
    * review content.
    */
  def transformReviews(df: DataFrame): DataFrame = {
    validateSchema(df, Seq("id", "album", "score", "content"), "reviews")
    df.filter(!col("id").cast("string").contains("id"))
      .withColumn("id", col("id").cast("long"))
      .withColumn("album", col("album").cast("long"))
      .withColumn("score", col("score").cast("double"))
      .withColumn("content", regexp_replace(col("content"), "\\|", ","))
  }

  /** albums⟕bands conformed table (`flows/silver.py:119-134`). The
    * pre-join renames double as collision avoidance, exactly like the
    * reference.
    */
  def createMusicCatalog(albums: DataFrame, bands: DataFrame): DataFrame = {
    val a = albums.withColumnsRenamed(
      Map("id" -> "album_id", "title" -> "album_title", "band" -> "band_id"))
    val b = bands.withColumnsRenamed(Map("id" -> "band_id", "name" -> "band_name"))
    a.join(b, Seq("band_id"), "left")
      .select("album_id", "album_title", "year", "band_id", "band_name",
        "country", "genre", "theme")
  }

  /** reviews⟕albums conformed table (`flows/silver.py:138-145`). */
  def createAlbumReviews(albums: DataFrame, reviews: DataFrame): DataFrame = {
    val a = albums.withColumnsRenamed(Map("id" -> "album_id", "title" -> "album_title"))
    val r = reviews.withColumnsRenamed(Map("id" -> "review_id", "album" -> "album_id"))
    r.join(a, Seq("album_id"), "left")
      .select("review_id", "album_id", "album_title", "score", "content")
  }

  /** Conditional-DAG flow (`flows/silver.py:161-185`): albums+bands
    * gate the catalog; reviews gates album_reviews (which also needs
    * albums). `bronze` maps each dataset to its bronze [[Versioned]]
    * root ([[BronzeFlow.run]]'s manifest), read with the schema its
    * pointer records. Returns the written-path manifest.
    *
    * `versioned = true` routes every write through [[Versioned.commit]]
    * — an atomic pointer publish, so a rerun never exposes a
    * half-overwritten or absent table to concurrent readers (a bare
    * `mode("overwrite")` deletes before it rewrites). A table whose
    * bronze inputs are unchanged keeps its version: the commit's input
    * key matches and nothing is written. The tables are independent,
    * so they are published concurrently ([[graft.core.Concurrent]]),
    * each one atomic on its own. Manifest entries
    * are then the immutable committed version dirs; consumers that
    * should follow future commits read `Versioned.read(lake.silver(name))`
    * instead. Pair with `GoldFlow.run(versioned = true)` so gold reads
    * silver through the pointer too.
    */
  def run(
      spark: SparkSession, lake: Lake, bronze: Map[String, String],
      versioned: Boolean = false): Map[String, String] = {
    val tables = Seq.newBuilder[(String, DataFrame)]
    val albumsOpt =
      if (bronze.contains("albums") && bronze.contains("bands")) {
        val albums = transformAlbums(Versioned.read(spark, bronze("albums")))
        val bands = transformBands(Versioned.read(spark, bronze("bands")))
        tables += "albums" -> albums
        tables += "bands" -> bands
        tables += "music_catalog" -> createMusicCatalog(albums, bands)
        Some(albums)
      } else None

    if (bronze.contains("reviews")) {
      val reviews = transformReviews(Versioned.read(spark, bronze("reviews")))
      tables += "reviews" -> reviews
      albumsOpt.foreach(albums => tables += "album_reviews" -> createAlbumReviews(albums, reviews))
    }
    graft.core.Concurrent.run(spark.sparkContext, tables.result().map { case (name, df) =>
      name -> (() => Versioned.write(df, lake.silver(name), versioned))
    }).toMap
  }
}
