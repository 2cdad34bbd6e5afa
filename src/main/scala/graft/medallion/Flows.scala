package graft.medallion

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

import graft.core.Retry

/** Top-level orchestration (reference §2.10): the composed
  * landing→bronze→silver→gold DAG the reference runs as four Prefect
  * flow mains, plus the landing poll task.
  */
object Flows {

  val Datasets: Seq[String] = Seq("albums", "bands", "reviews")

  /** Landing-arrival poll (reference `wait_firehose`,
    * `flows/landing.py:56-66`: 15 s poll loop inside a 3×/30 s-retry
    * task). Returns landed object paths or throws after the retry
    * budget — intervals are parameters so tests don't sleep minutes.
    */
  def waitForLanding(
      spark: SparkSession, lake: Lake, dataset: String,
      pollMs: Long = 15000, pollsPerAttempt: Int = 20,
      retries: Int = 3, retryDelayMs: Long = 30000): Seq[String] =
    Retry(retries, retryDelayMs) {
      // no non-local `return` in here: it would unwind through Retry's
      // catch as a control-flow Throwable
      val p = new HPath(lake.landing(dataset))
      val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
      var polls = 0
      var found: Option[Seq[String]] = None
      while (found.isEmpty && polls < pollsPerAttempt) {
        if (fs.exists(p)) {
          val keys = fs.listStatus(p).map(_.getPath.toString).toSeq
          if (keys.nonEmpty) found = Some(keys)
        }
        if (found.isEmpty) {
          polls += 1
          if (polls < pollsPerAttempt) Thread.sleep(pollMs)
        }
      }
      found.getOrElse(
        sys.error(s"no landing objects for '$dataset' after $pollsPerAttempt polls"))
    }

  /** The whole pipeline: chunked landing ingest → bronze → silver →
    * gold. Returns a layer→dataset→path manifest (the union of each
    * flow's manifest — the composition of the reference's four flow
    * `__main__`s).
    *
    * Every layer publishes through [[Versioned]], the configuration the
    * medallion benchmark runs: a rerun never exposes an absent or
    * half-written table to concurrent readers. The manifest names
    * bronze's roots and silver's and gold's immutable `v_NNNNNN` dirs;
    * gold reads silver through the `_current` pointer.
    */
  def runAll(
      spark: SparkSession, csvFolder: String, lake: Lake,
      maxChunkBytes: Int = Chunker.DefaultMaxBytes,
      bufferBytes: Int = Chunker.DefaultBufferBytes): Map[String, Map[String, String]] = {
    val landed = LandingFlow.run(csvFolder, lake, maxChunkBytes, bufferBytes)
    val bronze = BronzeFlow.run(spark, lake, landed.keys.toSeq.sorted)
    val silver = SilverFlow.run(spark, lake, bronze, versioned = true)
    val gold = GoldFlow.run(spark, lake, versioned = true)
    Map(
      "landing" -> landed.map { case (k, v) => k -> v.mkString(",") },
      "bronze" -> bronze,
      "silver" -> silver,
      "gold" -> gold)
  }
}
