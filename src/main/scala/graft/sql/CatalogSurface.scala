package graft.sql

import org.apache.spark.sql.SparkSession

import graft.medallion.{Lake, Versioned}

/** Catalog-table surface: namespaces `bronze`/`silver`/`gold` with the
  * lake's parquet layers registered as external tables, plus the
  * externally-defined SQL view layer (the reference's Trino surface,
  * `scripts/trino_create_tables.sql:14-121`, re-expressed as Spark SQL
  * — same catalog, same storage, one engine instead of two).
  *
  * External `LOCATION`-based tables mean zero data movement: the
  * catalog points at the flow-written parquet. A plain dir's table sees
  * a pipeline rerun after [[refreshAll]]; a [[Versioned]] root's table
  * (bronze always, silver and gold when versioned) points at the
  * version active when it was registered, so a rerun is visible after
  * [[registerLake]] runs again. [[register]] does the same for any one
  * root, such as an evolving table (q206, q215). An Iceberg runtime
  * would slot in via `spark.sql.catalog.*` without changing callers;
  * nothing the reference queries depends on snapshots/branches
  * (SURVEY §3 E2).
  */
object CatalogSurface {

  val Namespaces: Seq[String] = Seq("bronze", "silver", "gold")

  private def q(path: String): String = path.replace("'", "''")

  /** Create namespaces and register one external table per existing
    * layer dataset. Idempotent.
    */
  def registerLake(
      spark: SparkSession, lake: Lake,
      bronze: Seq[String] = Seq("albums", "bands", "reviews"),
      silver: Seq[String] = Seq("albums", "bands", "reviews", "music_catalog", "album_reviews"),
      gold: Seq[String] = Seq("top10_by_country", "band_avg_scores", "brazilian_bands", "band_album_counts")): Unit = {
    Namespaces.foreach(ns => spark.sql(s"CREATE DATABASE IF NOT EXISTS $ns"))
    def registerIfExists(ns: String, name: String, path: String): Unit =
      if (exists(spark, path)) register(spark, s"$ns.$name", path)
    bronze.foreach(d => registerIfExists("bronze", d, lake.bronze(d)))
    silver.foreach(d => registerIfExists("silver", d, lake.silver(d)))
    gold.foreach(d => registerIfExists("gold", d, lake.gold(d)))
  }

  /** Register `path` as the external table `table` (`ns.name`, its
    * namespace created if absent), replacing any table of that name.
    * A [[Versioned]] root registers its active version, read under its
    * pointer's schema — an evolved root's earlier segments included.
    */
  def register(spark: SparkSession, table: String, path: String): Unit = {
    val (columns, location) = source(spark, path)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${table.split('.').head}")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table $columns USING PARQUET LOCATION '${q(location)}'")
  }

  /** The declared columns and the location of a table over `path`: a
    * [[Versioned]] root's active segments (a glob over their names when
    * there are several) with the schema its pointer records — exactly
    * the rows [[Versioned.read]] returns — else the plain dir, with its
    * schema inferred. */
  private def source(spark: SparkSession, path: String): (String, String) =
    if (!Versioned.exists(spark, path)) ("", path)
    else {
      val names = Versioned.segments(spark, path).map(new org.apache.hadoop.fs.Path(_).getName)
      (s"(${Versioned.read(spark, path).schema.toDDL})",
        s"$path/${if (names.size == 1) names.head else names.mkString("{", ",", "}")}")
    }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(p.toUri, spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Invalidate cached file listings after a flow rewrites a layer in
    * place (external tables cache their file manifest; a truncate +
    * rewrite otherwise leaves readers pointing at deleted part files).
    * Call after GoldFlow/SilverFlow reruns.
    */
  def refreshAll(spark: SparkSession): Unit =
    Namespaces.foreach { ns =>
      if (spark.catalog.databaseExists(ns))
        spark.catalog.listTables(ns).collect()
          .filter(!_.isTemporary) // listTables surfaces temp views in every db
          .foreach(t => spark.catalog.refreshTable(s"$ns.${t.name}"))
    }

  /** The Trino view (`trino_create_tables.sql:114-121`): global top-100
    * bands by average score — plans TakeOrderedAndProject, no global
    * sort at any scale.
    */
  def createViews(spark: SparkSession): Unit =
    spark.sql(
      """CREATE OR REPLACE VIEW gold.band_score_ranking AS
        |SELECT band_id, band_name, country, review_count, avg_score
        |FROM gold.band_avg_scores
        |ORDER BY avg_score DESC
        |LIMIT 100""".stripMargin)
}
