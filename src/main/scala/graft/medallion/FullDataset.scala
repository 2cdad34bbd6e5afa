package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ad-hoc denormalized "full dataset" analysis (reference
  * `main.py:37-86`): albums⟕bands on differing key names, reviews⟖albums
  * right join, chained left join, final 9-column projection, and the
  * `!= 'None'` filters (null comparisons drop rows in both engines).
  * Reads the [[Versioned]] silver tables that [[Flows.runAll]] publishes.
  */
object FullDataset {

  def build(spark: SparkSession, lake: Lake): DataFrame = {
    val bands = Versioned.read(spark, lake.silver("bands"))
    val albums = Versioned.read(spark, lake.silver("albums"))
      .withColumnRenamed("id", "album_id") // main.py:25
    val reviews = Versioned.read(spark, lake.silver("reviews"))
      .withColumnRenamed("album", "album_id") // main.py:34

    // main.py:37-52 — J4: albums ⟕ bands, left_on=band right_on=id
    val bandsAlbums = albums
      .join(bands, albums("band") === bands("id"), "left")
      .select(
        albums("album_id"),
        albums("title").as("title_album"),
        albums("year").as("year_album"),
        bands("name"),
        bands("country"),
        bands("status"),
        bands("formed_in"))

    // main.py:54-67 — J5: reviews ⟖ albums on album_id
    val albumsReviews = reviews
      .join(albums, Seq("album_id"), "right")
      .select(
        col("album_id"),
        reviews("id").as("id_review"),
        reviews("title").as("title_review"),
        reviews("score"),
        reviews("content"))

    // main.py:69-86 — J6 + final projection + F1 filters
    bandsAlbums
      .join(albumsReviews, Seq("album_id"), "left")
      .select(col("name"), col("country"), col("status"), col("formed_in"),
        col("title_album"), col("year_album"), col("title_review"),
        col("score"), col("content"))
      .filter(col("name") =!= "None")
      .filter(col("title_review") =!= "None")
  }
}
