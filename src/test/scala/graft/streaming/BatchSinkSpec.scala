package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables
import graft.medallion.Versioned
import graft.similarity.BinaryAnn

/** Crash points of the streams' publish path: the [[Versioned]]
  * serving log that [[AnnServeStream.serveBatch]] appends to and the
  * [[Versioned]] evolving table that [[SchemaEvolveStream.applyBatch]]
  * commits to, each publish keyed by its micro-batch id.
  *
  * Three kinds of crash:
  *  - a write that fails inside its own Spark job: every write task of
  *    the attempt fails ([[FailingCommitProtocol]]) after the job has
  *    set up its output directory;
  *  - a stream whose batch was published but whose offset commit was
  *    lost: the checkpoint's last `commits/N` is deleted and the stream
  *    restarted, so Structured Streaming replays batch N;
  *  - a stream whose batch fails inside its write: the offset is
  *    logged, the commit is not, and the restart runs the batch again.
  *
  * Either way readers see only complete versions, and a replay of a
  * published batch leaves the pointer and the active segments' files
  * as they were.
  */
class BatchSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def withFailingWrites(body: => Unit): Try[Unit] = FailingCommitProtocol.during(spark)(body)

  /** What a publish changes: the pointer's bytes, and the parquet
    * files of the active version's segments, by path and mtime.
    */
  private def published(root: String): (Seq[Byte], Set[(String, Long)]) =
    (Files.readAllBytes(Paths.get(root, "_current")).toSeq,
      Versioned.segments(spark, root).toSet.flatMap((dir: String) =>
        Option(new File(dir).listFiles()).toSet.flatten
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified())))

  private def tempRoot(tag: String): String =
    Files.createTempDirectory(s"sink-$tag").toString

  // ---- the ANN serving log ----

  private val (k, cands) = (5, 32)
  private val slice = col("label") === 3
  private lazy val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val annIndex: String = {
    val idx = tempRoot("ann-index") + "/idx"
    BinaryAnn.buildDecoratedIndex(vecs, idx, Seq("label"))
    idx
  }
  private lazy val probes = vecs.filter($"vec_id" < 50).select($"vec_id", $"embedding")
  private lazy val probes0 = probes.filter($"vec_id" < 25)
  private lazy val probes1 = probes.filter($"vec_id" >= 25)

  private def serve(probes: DataFrame, batchId: Long, log: String): Unit =
    AnnServeStream.serveBatch(probes, batchId, annIndex, vecs, slice, log, k, cands)

  private def served(log: String): Set[(Long, Long, Int, Long, Long, Double)] =
    AnnServeStream.servingLog(spark, log)
      .select($"batch_id".cast("long"), $"query_id", $"rank", $"vec_id", $"hamming",
        round($"cosine", 6))
      .as[(Long, Long, Int, Long, Long, Double)].collect().toSet

  private def logRoot(tag: String): String = tempRoot(tag) + "/log"

  // ---- the evolving table ----

  private val chainInput: String = tempRoot("chain-input")

  /** One parquet file holding `df` under `chainInput`; its path is what
    * a micro-batch of [[SchemaEvolveStream.start]] hands to `applyBatch`.
    */
  private def landed(tag: String, df: DataFrame): Seq[String] = {
    val dir = s"$chainInput/$tag"
    df.coalesce(1).write.parquet(dir)
    new File(dir).listFiles().toSeq.map(_.toString).filter(_.endsWith(".parquet"))
  }

  // written up front: a first use inside withFailingWrites would fail
  private val v1 = landed("v1",
    Seq((1, "alpha"), (2, "beta")).toDF("id", "title"))
  private val v2 = landed("v2",
    Seq((3, "gamma", 7L)).toDF("id", "title", "rating"))

  /** The table's rows; `rating` reads null before v2 adds it. */
  private def table(dir: String): Seq[(Long, String, Option[Long])] = {
    val t = SchemaEvolveStream.read(spark, dir)
    val rating = if (t.columns.contains("rating")) $"rating" else lit(null).cast("long")
    t.select($"id".cast("long"), $"title", rating)
      .orderBy("id").as[(Long, String, Option[Long])].collect().toSeq
  }

  private def chainRoot(tag: String): String = {
    val dir = tempRoot(tag) + "/table"
    SchemaEvolveStream.applyBatch(spark, v1, 0L, dir)
    dir
  }

  private val evolved: Seq[(Long, String, Option[Long])] = Seq((1L, "alpha", None), (2L, "beta", None), (3L, "gamma", Some(7L)))

  test("partition sink: a write that fails inside its job publishes no batch_id=N") {
    val dir = logRoot("ann-fail")
    serve(probes0, 0L, dir)
    val (before, pointer) = (served(dir), published(dir))
    val attempt = withFailingWrites(serve(probes1, 1L, dir))
    assert(attempt.isFailure, "the injected failure must fail the write")
    assert(published(dir) == pointer, "a failed write changed the published log")
    assert(!served(dir).exists(_._1 == 1L), "a failed write published batch_id=1 rows")
    assert(served(dir) == before)
  }

  test("snapshot chain: after a failed write readCurrent still serves the previous version") {
    val dir = chainRoot("chain-fail")
    val (before, pointer) = (table(dir), published(dir))
    val attempt = withFailingWrites(SchemaEvolveStream.applyBatch(spark, v2, 1L, dir))
    assert(attempt.isFailure, "the injected failure must fail the write")
    assert(table(dir) == before)
    assert(published(dir) == pointer, "a failed write changed the published table")
  }

  test("partition sink: a failed replay never removes the published partition") {
    val dir = logRoot("ann-replay-fail")
    serve(probes0, 0L, dir)
    serve(probes1, 1L, dir)
    val (rows, pointer) = (served(dir), published(dir))
    withFailingWrites(serve(probes1, 1L, dir))
    assert(published(dir) == pointer, "a failed replay changed the published log")
    assert(served(dir) == rows)
  }

  test("snapshot chain: a failed replay never removes the published version") {
    val dir = chainRoot("chain-replay-fail")
    SchemaEvolveStream.applyBatch(spark, v2, 1L, dir)
    val (rows, pointer) = (table(dir), published(dir))
    withFailingWrites(SchemaEvolveStream.applyBatch(spark, v2, 1L, dir))
    assert(published(dir) == pointer, "a failed replay changed the published table")
    assert(table(dir) == rows)
  }

  // A converged table alone cannot tell a skipped replay from a
  // republish of the same rows. So each of the next two also replays
  // the published batch once more (its offset commit lost), through a
  // failed and a clean attempt, and checks that the pointer and the
  // published files stayed in place.

  test("partition sink: a clean replay after a failed attempt converges to a single run") {
    val once = logRoot("ann-once")
    serve(probes0, 0L, once)
    serve(probes1, 1L, once)
    val dir = logRoot("ann-converge")
    serve(probes0, 0L, dir)
    withFailingWrites(serve(probes1, 1L, dir))
    serve(probes1, 1L, dir)
    val pointer = published(dir)
    withFailingWrites(serve(probes1, 1L, dir))
    serve(probes1, 1L, dir)
    assert(served(dir) == served(once))
    assert(published(dir) == pointer, "a replay republished batch 1")
  }

  test("snapshot chain: a clean replay after a failed attempt converges to a single run") {
    val once = chainRoot("chain-once")
    SchemaEvolveStream.applyBatch(spark, v2, 1L, once)
    val dir = chainRoot("chain-converge")
    withFailingWrites(SchemaEvolveStream.applyBatch(spark, v2, 1L, dir))
    SchemaEvolveStream.applyBatch(spark, v2, 1L, dir)
    val pointer = published(dir)
    withFailingWrites(SchemaEvolveStream.applyBatch(spark, v2, 1L, dir))
    SchemaEvolveStream.applyBatch(spark, v2, 1L, dir)
    assert(table(dir) == table(once))
    assert(table(dir) == evolved)
    assert(published(dir) == pointer, "a replay republished batch 1")
  }

  // ---- stream level: published, offset commit lost ----

  /** Delete the checkpoint's last `commits/N`, as a crash between the
    * publish and the offset commit leaves it; returns N.
    */
  private def dropLastCommit(checkpoint: String): Long = {
    val commits = new HPath(s"$checkpoint/commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(commits).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(fs.delete(new HPath(commits, last.toString), false))
    last
  }

  private def committed(checkpoint: String, n: Long): Boolean =
    new File(s"$checkpoint/commits/$n").exists()

  private def logged(checkpoint: String, n: Long): Boolean =
    new File(s"$checkpoint/offsets/$n").exists()

  /** Copy one landed file into a stream's input dir, as a delivery. */
  private def deliver(file: Seq[String], dir: String): Unit = {
    val src = Paths.get(file.head)
    Files.createDirectories(Paths.get(dir))
    Files.copy(src, Paths.get(dir, src.getFileName.toString))
  }

  test("stream: a snapshot chain batch published before its offset commit replays as a no-op") {
    val root = tempRoot("chain-stream")
    val (dir, cp) = (s"$root/table", s"$root/cp")
    // the stream lands v1's and v2's files, one per micro-batch
    def run(): Unit = SchemaEvolveStream.start(spark, s"$chainInput/*", dir, cp,
      maxFilesPerTrigger = Some(1)).awaitTermination()

    run()
    val single = table(dir)
    assert(single.size == 3 && committed(cp, 1) && !committed(cp, 2),
      "two files at maxFilesPerTrigger = 1 must commit batches 0 and 1")
    val pointer = published(dir)
    assert(dropLastCommit(cp) == 1L)
    run()
    assert(committed(cp, 1), "the restart must replay and commit batch 1")
    assert(table(dir) == single)
    assert(published(dir) == pointer, "the replay republished batch 1")
  }

  test("stream: a serving-log batch published before its offset commit replays as a no-op") {
    val root = tempRoot("ann-stream")
    val (in, log, cp) = (s"$root/in", s"$root/log", s"$root/cp")
    probes0.coalesce(1).write.parquet(s"$in/f1")
    probes1.coalesce(1).write.parquet(s"$in/f2")
    val schema = spark.read.parquet(s"$in/f1").schema
    def run(): Unit = AnnServeStream.start(spark, s"$in/*", schema, annIndex, vecs,
      slice, log, cp, k, cands, maxFilesPerTrigger = Some(1)).awaitTermination()

    run()
    val single = served(log)
    assert(single.map(_._1) == Set(0L, 1L) && committed(cp, 1) && !committed(cp, 2),
      "two files at maxFilesPerTrigger = 1 must serve batches 0 and 1")
    val pointer = published(log)
    assert(dropLastCommit(cp) == 1L)
    run()
    assert(committed(cp, 1), "the restart must replay and commit batch 1")
    assert(served(log) == single)
    assert(published(log) == pointer, "the replay republished batch 1")
  }

  // ---- stream level: the batch's write fails ----

  test("stream: an evolving-table batch whose write fails is logged, publishes nothing, and restarts clean") {
    val root = tempRoot("chain-stream-fail")
    val (in, dir, cp) = (s"$root/in", s"$root/table", s"$root/cp")
    def run(): Unit = SchemaEvolveStream.start(spark, s"$in/*", dir, cp).awaitTermination()

    deliver(v1, s"$in/f1")
    run()
    val pointer = published(dir)
    deliver(v2, s"$in/f2")
    val failed = FailingCommitProtocol.during(spark, under = dir)(run())
    assert(failed.isFailure, "the injected write failure did not surface")
    assert(logged(cp, 1) && !committed(cp, 1), "batch 1's offset must be logged, not committed")
    assert(published(dir) == pointer, "a failed batch published")

    run()
    assert(committed(cp, 1), "the restart must run and commit batch 1")
    assert(table(dir) == evolved)
  }

  test("stream: a serving-log batch whose write fails is logged, publishes nothing, and restarts clean") {
    val once = logRoot("ann-stream-once")
    serve(probes0, 0L, once)
    serve(probes1, 1L, once)
    val root = tempRoot("ann-stream-fail")
    val (in, log, cp) = (s"$root/in", s"$root/log", s"$root/cp")
    probes0.coalesce(1).write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f1").schema
    def run(): Unit = AnnServeStream.start(spark, s"$in/*", schema, annIndex, vecs,
      slice, log, cp, k, cands).awaitTermination()

    run()
    val pointer = published(log)
    probes1.coalesce(1).write.parquet(s"$in/f2")
    val failed = FailingCommitProtocol.during(spark, under = log)(run())
    assert(failed.isFailure, "the injected write failure did not surface")
    assert(logged(cp, 1) && !committed(cp, 1), "batch 1's offset must be logged, not committed")
    assert(published(log) == pointer, "a failed batch published")

    run()
    assert(committed(cp, 1), "the restart must run and commit batch 1")
    assert(served(log) == served(once))
  }
}

/** A commit protocol whose every write task fails. Set as
  * `spark.sql.sources.commitProtocolClass`, it makes a file write fail
  * inside its own Spark job, after the job has set up its output
  * directory: the crash a sink must leave readers consistent through.
  * Only writes whose path contains [[FailingCommitProtocol.under]] fail
  * (every write, by default).
  */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupTask(taskContext: TaskAttemptContext): Unit =
    if (path.contains(FailingCommitProtocol.under))
      throw new java.io.IOException(s"injected write-task failure under $path")
    else super.setupTask(taskContext)
}

object FailingCommitProtocol {
  @volatile var under: String = ""

  /** Run `body` with the file write tasks of `spark` failing: those
    * whose path contains `under`, every one by default.
    */
  def during[T](spark: SparkSession, under: String = "")(body: => T): Try[T] = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    this.under = under
    try Try(body)
    finally {
      this.under = ""
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
