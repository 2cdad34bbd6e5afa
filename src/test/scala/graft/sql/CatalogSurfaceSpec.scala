package graft.sql

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.medallion._

/** Catalog namespaces + external tables + the Trino-analogue view over
  * a real medallion run.
  */
class CatalogSurfaceSpec extends SparkTestBase {

  private lazy val lake: Lake = {
    val root = Files.createTempDirectory("catalog-e2e").toString
    val fixtures = Paths.get(getClass.getResource("/fixtures/albums.csv").toURI)
      .getParent.toString
    val l = Lake(root)
    LandingFlow.run(fixtures, l, maxBytes = 100, bufferBytes = 1000)
    val bronze = BronzeFlow.run(spark, l, Seq("albums", "bands", "reviews"))
    SilverFlow.run(spark, l, bronze)
    GoldFlow.run(spark, l)
    l
  }

  test("namespaces + external tables resolve through spark.table") {
    CatalogSurface.registerLake(spark, lake)
    assert(spark.table("bronze.reviews").count() == 7)
    assert(spark.table("silver.music_catalog").count() == 7)
    assert(spark.table("gold.band_avg_scores").count() == 4)
    // brazilian_bands was empty → guarded, so it must NOT be registered
    assert(!spark.catalog.tableExists("gold.brazilian_bands"))
  }

  test("catalog tables survive flow rewrites after refresh") {
    CatalogSurface.registerLake(spark, lake)
    val before = spark.table("gold.band_avg_scores").count()
    GoldFlow.run(spark, lake) // rerun: truncate + rewrite same data
    CatalogSurface.refreshAll(spark) // external tables cache file lists
    assert(spark.table("gold.band_avg_scores").count() == before)
  }

  test("a versioned root registers exactly the rows Versioned.read returns, across appended segments") {
    import org.apache.spark.sql.functions.col
    val l = MedallionTestKit.versionedSilverLake(spark, "catalog-versioned")
    val reviews = Versioned.read(spark, l.bronze("reviews"))
    def shifted(n: Int, by: Int) =
      reviews.limit(n).withColumn("id", (col("id") + by).cast(reviews.schema("id").dataType))
    Versioned.append(spark, l.bronze("reviews"), shifted(2, 1000))
    Versioned.append(spark, l.bronze("reviews"), shifted(1, 2000))
    assert(Versioned.segments(spark, l.bronze("reviews")).size == 3)
    // a second silver reviews version; the first stays retained beside it
    SilverFlow.run(spark, l, Flows.Datasets.map(d => d -> l.bronze(d)).toMap, versioned = true)
    CatalogSurface.registerLake(spark, l)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString)
    assert(rows(spark.table("bronze.reviews")) == rows(Versioned.read(spark, l.bronze("reviews"))))
    assert(spark.table("bronze.reviews").count() == 10)
    assert(spark.table("bronze.reviews").schema == reviews.schema)
    assert(rows(spark.table("silver.reviews")) == rows(Versioned.read(spark, l.silver("reviews"))))
  }

  test("a registered evolved root reads the widened and added columns through spark.table") {
    import spark.implicits._
    val root = Files.createTempDirectory("catalog-evolved").toString + "/t"
    Versioned.append(spark, root, Seq((1, "a")).toDF("n", "s"))
    Versioned.append(spark, root, Seq((5000000000L, "b", 0.5)).toDF("n", "s", "x"))
    CatalogSurface.register(spark, "evo_spec.evolved", root)
    val table = spark.table("evo_spec.evolved")
    assert(table.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("n" -> "bigint", "s" -> "string", "x" -> "double"))
    assert(table.collect().map(_.toSeq).toSet ==
      Set(Seq(1L, "a", null), Seq(5000000000L, "b", 0.5)))
    spark.sql("DROP TABLE evo_spec.evolved")
  }

  test("band_score_ranking view: Trino DDL analogue over the catalog") {
    CatalogSurface.registerLake(spark, lake)
    CatalogSurface.createViews(spark)
    val ranked = spark.sql(
      "SELECT band_name, avg_score FROM gold.band_score_ranking").collect()
    assert(ranked.length == 4)
    val scores = spark.sql("SELECT avg_score FROM gold.band_score_ranking")
      .collect().map(_.getDouble(0)).toSeq
    assert(scores == scores.sorted.reverse)
  }
}
