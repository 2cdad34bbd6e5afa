package graft.medallion

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Landing → bronze flow (reference `flows/bronze.py:63-113`): CSV read
  * with schema inference, header normalize+dedupe, full-row distinct,
  * snappy parquet write per dataset.
  *
  * Deviation from the reference, on purpose: the reference maps over
  * landing objects individually and each one overwrites the same bronze
  * key (`bronze.py:92-98`) — correct only while Firehose delivers one
  * object per dataset. We read the whole `landing/<dataset>/` directory
  * as one distributed scan, so bronze is the dedup of ALL landed data
  * regardless of object count — same result on the reference's layout,
  * and still correct (and parallel) with thousands of landing objects.
  *
  * Dedup runs on the raw inferred frame BEFORE any typing, as the
  * reference does (`bronze.py:74-80`) — embedded chunk-header rows force
  * the affected columns to string and must collapse identically
  * (SURVEY §7.3 risk 4).
  *
  * Bronze is a [[Versioned]] root, like silver and gold (the reference's
  * lakehouse variant keeps bronze as a snapshot table,
  * `flows_iceberg/bronze_iceberg.py:36-44`): an ingest commits a full
  * version, and each landing-stream micro-batch appends a segment
  * ([[graft.streaming.LandingStream.appendBatch]]). Read it with
  * [[Versioned.read]].
  */
object BronzeFlow {

  /** A landing dir's CSVs with their types inferred: the one schema
    * policy of every landing reader.
    *
    * Scan economics: `inferSchema=true` makes Spark read every landing
    * byte TWICE — once for inference, once for parsing. The reference
    * bounds inference to a 5000-row window (`flows/bronze.py:74`);
    * Spark's CSV inference has no such bound.
    */
  def inferred(spark: SparkSession, landingDir: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(landingDir)

  /** Read one dataset's landing CSVs → normalized, deduped DataFrame. */
  def read(spark: SparkSession, landingDir: String): DataFrame =
    ColumnNormalizer(inferred(spark, landingDir)).dropDuplicates()

  /** Ingest one dataset landing→bronze: commit it as a version of the
    * bronze root; returns the version dir that holds its rows. */
  def ingest(spark: SparkSession, landingDir: String, bronzeRoot: String): String =
    Versioned.commit(spark, bronzeRoot, read(spark, landingDir))

  /** Ingest with malformed-record routing — the Firehose error-prefix
    * analogue (`infra/main.tf:82` routes failed records to
    * `errors/<ds>/`): lines the CSV parser cannot fit to the schema
    * land raw in `errorsDir` instead of silently polluting bronze.
    * Commits bronze as [[ingest]] does; returns (the version dir that
    * holds its rows, malformedCount).
    *
    * No caching: the old implementation cached the ENTIRE landing zone
    * to work around Spark's corrupt-record-column restriction — at
    * scale that is the whole ingest in executor memory. Instead this
    * runs a counting scan, re-scans for the bad lines only when the
    * count says there are any, and then scans once more for the bronze
    * write. Each scan must reference EVERY data column (not just the
    * corrupt-record column): the CSV reader prunes parsing to the
    * required schema, and a row is only judged malformed against the
    * columns actually parsed — a corrupt-only (disallowed uncached) or
    * partial-schema scan would miss overflow/type errors in unreferenced
    * columns. The touch expression also stays nullable on purpose:
    * `count` of a provably non-null expression optimizes to `count(1)`
    * and the column references vanish with it.
    *
    * Pass `schema` to skip the inference scan — the strict re-parse
    * then judges rows against the declared contract instead of against
    * whatever the dirty data itself inferred (a malformed line can
    * otherwise widen a column to string and mask itself).
    */
  def ingestWithErrorRouting(
      spark: SparkSession, landingDir: String, bronzeRoot: String,
      errorsDir: String, schema: org.apache.spark.sql.types.StructType = null): (String, Long) = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{coalesce, concat_ws, count}
    import org.apache.spark.sql.types.StringType
    val dataSchema = Option(schema).getOrElse(inferred(spark, landingDir).schema)
    // backtick-quote when resolving: a dotted CSV header like
    // `album.score` otherwise parses as struct-field access and fails
    // analysis (graft.core.Cols)
    def dataCols(df: DataFrame) =
      dataSchema.fieldNames.toSeq.map(n => df(graft.core.Cols.quoted(n)).cast("string"))
    val parsed = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(dataSchema.add("_corrupt_record", StringType))
      .csv(landingDir)
    val nBad = parsed.agg(
      count(parsed("_corrupt_record")).as("bad"),
      count(coalesce(dataCols(parsed): _*)).as("_touch_every_data_column"))
      .head.getLong(0)
    if (nBad > 0)
      // the concat_ws arm never wins (corrupt is non-null under the
      // filter) — it is there to reference every data column
      parsed.filter(parsed("_corrupt_record").isNotNull)
        .select(coalesce(parsed("_corrupt_record"),
          concat_ws(",", dataCols(parsed): _*)).as("value"))
        .write.mode("overwrite").text(errorsDir)
    else {
      // a clean rerun must not leave a stale errors prefix behind
      val ep = new HPath(errorsDir)
      val fs = FileSystem.get(ep.toUri, spark.sparkContext.hadoopConfiguration)
      if (fs.exists(ep)) fs.delete(ep, true)
    }
    val good = parsed.filter(parsed("_corrupt_record").isNull).drop("_corrupt_record")
    (Versioned.commit(spark, bronzeRoot, ColumnNormalizer(good).dropDuplicates()), nBad)
  }

  private def hasLanding(spark: SparkSession, dir: String): Boolean = {
    val p = new HPath(dir)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Flow over datasets with landing data; manifest of bronze roots
    * (reference `bronze.py:102-113`: empty landing → empty manifest).
    * The datasets are independent, so they are ingested concurrently
    * ([[graft.core.Concurrent]]), each root atomic on its own.
    */
  def run(spark: SparkSession, lake: Lake, datasets: Seq[String]): Map[String, String] =
    graft.core.Concurrent.run(spark.sparkContext,
      datasets.filter(ds => hasLanding(spark, lake.landing(ds))).map { ds =>
        ds -> (() => { ingest(spark, lake.landing(ds), lake.bronze(ds)); lake.bronze(ds) })
      }).toMap
}
