package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.util.Try

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

import graft.SparkTestBase

/** Crash points of the shared publish path ([[BatchSink]]), driven
  * through one partition sink ([[FreqStream.countAndAppend]]) and one
  * snapshot chain ([[CdcStream.applyBatch]]). The crash is a real job
  * failure: every write task of the attempt fails inside its Spark job
  * ([[FailingCommitProtocol]]), after the job has set up its output
  * directory. CdcStream pins its batch with a local checkpoint before
  * the write, so a failing expression inside the batch would fail
  * before the write job instead.
  */
class BatchSinkSpec extends SparkTestBase {
  import spark.implicits._

  /** Run `body` with every file write task failing. */
  private def withFailingWrites(body: => Unit): Try[Unit] = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    try Try(body)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val docs = Seq(
    (1L, "alpha beta beta", "s1"), (2L, "gamma alpha", "s2"),
    (3L, "beta gamma gamma delta", "s1"), (4L, "delta alpha", "s2"))
    .toDF("doc_id", "text", "source")
  private val docs0 = docs.filter($"doc_id" <= 2)
  private val docs1 = docs.filter($"doc_id" > 2)

  private def counts(dir: String): Set[(String, String, Long)] =
    FreqStream.mergedCounts(spark, dir).as[(String, String, Long)].collect().toSet

  private def freqRoot(tag: String): String =
    Files.createTempDirectory(s"sink-$tag").toString + "/counts"

  private val initial = Seq(1L -> "one", 2L -> "two").toDF("key", "value")
  private val changes0 = Seq(("U", 1L, "ONE", 1L), ("I", 3L, "three", 2L))
    .toDF("op", "key", "value", "seq")
  private val changes1 = Seq(("D", 2L, null.asInstanceOf[String], 3L), ("I", 4L, "four", 4L))
    .toDF("op", "key", "value", "seq")

  private def mirror(dir: String): Map[Long, String] =
    CdcStream.readCurrent(spark, dir).as[(Long, String)].collect().toMap

  private def cdcRoot(tag: String): String = {
    val dir = Files.createTempDirectory(s"sink-$tag").toString + "/mirror"
    CdcStream.init(initial, dir)
    CdcStream.applyBatch(changes0, 0L, dir, "key", "value")
    dir
  }

  test("partition sink: a write that fails inside its job publishes no batch_id=N") {
    val dir = freqRoot("freq-fail")
    FreqStream.countAndAppend(docs0, 0L, dir)
    val before = counts(dir)
    val attempt = withFailingWrites(FreqStream.countAndAppend(docs1, 1L, dir))
    assert(attempt.isFailure, "the injected failure must fail the write")
    assert(!new File(dir, "batch_id=1").exists(),
      "a failed write left a batch_id=1 partition for readers")
    assert(counts(dir) == before)
  }

  test("snapshot chain: after a failed write readCurrent still serves the previous version") {
    val dir = cdcRoot("cdc-fail")
    val before = mirror(dir)
    val attempt = withFailingWrites(CdcStream.applyBatch(changes1, 1L, dir, "key", "value"))
    assert(attempt.isFailure, "the injected failure must fail the write")
    assert(mirror(dir) == before)
    assert(!new File(dir, "snap_00003").exists(), "a failed write left snap_00003")
  }

  test("partition sink: a failed replay never removes the published partition") {
    val dir = freqRoot("freq-replay-fail")
    FreqStream.countAndAppend(docs0, 0L, dir)
    FreqStream.countAndAppend(docs1, 1L, dir)
    val published = counts(dir)
    withFailingWrites(FreqStream.countAndAppend(docs1, 1L, dir))
    assert(Option(new File(dir, "batch_id=1").list()).exists(_.exists(_.endsWith(".parquet"))),
      "a failed replay emptied the published batch_id=1")
    assert(counts(dir) == published)
  }

  test("snapshot chain: a failed replay never removes the published version") {
    val dir = cdcRoot("cdc-replay-fail")
    CdcStream.applyBatch(changes1, 1L, dir, "key", "value")
    val published = mirror(dir)
    withFailingWrites(CdcStream.applyBatch(changes1, 1L, dir, "key", "value"))
    assert(mirror(dir) == published)
  }

  test("partition sink: a clean replay after a failed attempt converges to a single run") {
    val once = freqRoot("freq-once")
    FreqStream.countAndAppend(docs0, 0L, once)
    FreqStream.countAndAppend(docs1, 1L, once)
    val dir = freqRoot("freq-converge")
    FreqStream.countAndAppend(docs0, 0L, dir)
    withFailingWrites(FreqStream.countAndAppend(docs1, 1L, dir))
    FreqStream.countAndAppend(docs1, 1L, dir)
    assert(counts(dir) == counts(once))
  }

  test("snapshot chain: a clean replay after a failed attempt converges to a single run") {
    val once = cdcRoot("cdc-once")
    CdcStream.applyBatch(changes1, 1L, once, "key", "value")
    val dir = cdcRoot("cdc-converge")
    withFailingWrites(CdcStream.applyBatch(changes1, 1L, dir, "key", "value"))
    CdcStream.applyBatch(changes1, 1L, dir, "key", "value")
    assert(mirror(dir) == mirror(once))
    assert(mirror(dir) == Map(1L -> "ONE", 3L -> "three", 4L -> "four"))
  }
}

/** A commit protocol whose every write task fails. Set as
  * `spark.sql.sources.commitProtocolClass`, it makes a file write fail
  * inside its own Spark job, after the job has set up its output
  * directory: the crash a sink must leave readers consistent through.
  */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupTask(taskContext: TaskAttemptContext): Unit =
    throw new java.io.IOException(s"injected write-task failure under $path")
}
