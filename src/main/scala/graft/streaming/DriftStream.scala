package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming distribution-drift monitor — the q145 PSI score computed
  * PER MICRO-BATCH against a frozen reference histogram: ingestion
  * batches arrive as files, each batch's document-length distribution
  * is scored against the reference corpus's decile profile, and one
  * (batch_id, n_docs, psi_micro) row is appended to a drift log — the
  * "alert when today's crawl stops looking like the corpus" loop, with
  * the same smoothing and micro-quantization as the batch q145 so a
  * logged score is directly comparable to the batch report.
  *
  * The reference (decile cut points + per-decile counts) is built ONCE
  * from a reference corpus and persisted; batches never touch the
  * reference corpus again. Each batch publishes its log row as its own
  * [[BatchSink]] partition.
  *
  * Scale shape: the reference is 9 cut points + 10 counts (broadcast
  * trivially); scoring a batch is one map-side bucketing + a 10-row
  * aggregate. The monitor's cost is O(batch), independent of corpus
  * or history size.
  */
object DriftStream {

  /** Build and persist the reference profile: decile cut points and
    * per-decile counts of `n_chars` over the reference corpus.
    */
  def buildReference(docs: DataFrame, refDir: String): Unit = {
    val cuts = docs.agg(expr(
      "percentile(n_chars, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
      .as("qs"))
    val counts = docs.crossJoin(broadcast(cuts))
      .withColumn("decile", expr("1 + size(filter(qs, c -> n_chars > c))"))
      .groupBy(col("decile")).agg(count(lit(1)).as("c"))
    cuts.select(posexplode(col("qs")).as(Seq("pos", "cut")))
      .write.mode("overwrite").parquet(s"$refDir/cuts")
    counts.write.mode("overwrite").parquet(s"$refDir/counts")
  }

  /** PSI (micro units) of a batch against the stored reference — the
    * q145 arithmetic with the reference as the q-side.
    */
  def psiOfBatch(batch: DataFrame, refDir: String): (Long, Long) = {
    val spark = batch.sparkSession
    val cuts = spark.read.parquet(s"$refDir/cuts")
      .orderBy(col("pos")).collect().map(_.getDouble(1)) // 9 rows, bounded
    val ref = spark.read.parquet(s"$refDir/counts")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤ 10 rows
    val nRef = ref.values.sum
    val cutsCol = array(cuts.map(lit(_)): _*)
    val bucketed = batch
      .withColumn("qs", cutsCol)
      .withColumn("decile", expr("1 + size(filter(qs, c -> n_chars > c))"))
      .groupBy(col("decile")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nB = bucketed.values.sum
    val psi = (1 to 10).map { d =>
      val p = (bucketed.getOrElse(d, 0L) + 0.5) / (nB + 5.0)
      val q = (ref.getOrElse(d, 0L) + 0.5) / (nRef + 5.0)
      math.floor((p - q) * math.log(p / q) * 1e6 + 0.5).toLong
    }.sum
    (nB, psi)
  }

  /** One micro-batch score (exposed for tests): publishes the log row
    * as the batch's partition.
    */
  def applyBatch(batch: DataFrame, batchId: Long, refDir: String,
      logDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val pinned = graft.core.Materialize.pin(batch)
    val (n, psi) = psiOfBatch(pinned, refDir)
    // batch_id lives in the PATH (partition discovery reads it back):
    // keeping it out of the file sidesteps the duplicate-column clash
    BatchSink.Partitions.publish(
      Seq((n, psi)).toDF("n_docs", "psi_micro").coalesce(1), logDir, batchId)
  }

  /** Start the document-feed → drift-log stream. */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      refDir: String, logDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    BatchSink.start(reader.parquet(inDir), trigger, checkpointDir)(
      applyBatch(_, _, refDir, logDir))
  }

  /** The accumulated drift log. */
  def readLog(spark: SparkSession, logDir: String): DataFrame =
    spark.read.parquet(logDir)
      .select(col("batch_id").cast("long").as("batch_id"),
        col("n_docs"), col("psi_micro"))
}
