package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables
import graft.similarity.BinaryAnn

/** Streaming metadata-filtered ANN serving (AnnServeStream): the q218
  * kernel under foreachBatch — streamed over micro-batched query files
  * ≡ the one-shot batch probe over the same probes, and a redelivered
  * batch is a no-op (its batch-keyed append publishes nothing).
  */
class AnnServeStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val (k, cands) = (5, 32)

  private def canon(df: DataFrame): Set[(Long, Int, Long, Long, Double)] =
    df.select($"query_id", $"rank", $"vec_id", $"hamming",
        round($"cosine", 6).as("c6"))
      .as[(Long, Int, Long, Long, Double)].collect().toSet

  test("streamed serving over two micro-batches ≡ batch q218 probe; replay is a no-op") {
    val vecs = Tables.load(spark, sf, "embeddings")
    val root = Files.createTempDirectory("ann-serve").toString
    val (in, idx, out, cp) = (s"$root/in", s"$root/idx", s"$root/out", s"$root/cp")
    BinaryAnn.buildDecoratedIndex(vecs, idx, Seq("label"))

    // two probe files → two micro-batches (maxFilesPerTrigger=1)
    Files.createDirectories(java.nio.file.Paths.get(in))
    val probes = vecs.filter($"vec_id" < 50).select($"vec_id", $"embedding")
    probes.filter($"vec_id" < 25).write.parquet(s"$in/f1")
    probes.filter($"vec_id" >= 25).write.parquet(s"$in/f2")
    val schema = spark.read.parquet(s"$in/f1").schema

    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$in/*")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .foreachBatch { (b: DataFrame, id: Long) =>
        AnnServeStream.serveBatch(b, id, idx, vecs, col("label") === 3,
          out, k, cands)
      }
      .start().awaitTermination()

    val streamed = canon(AnnServeStream.servingLog(spark, out))
    val batch = canon(BinaryAnn.filteredHammingTopKFromIndex(
      idx, vecs, probes, col("label") === 3, k, cands))
    assert(streamed == batch,
      s"streamed vs batch: ${streamed.diff(batch)} / ${batch.diff(streamed)}")
    assert(streamed.nonEmpty && streamed.map(_._1).size >= 50 * k / (k + 1),
      "the serving log should cover the probe set")
    // every served neighbor respects the slice predicate
    val inSlice = vecs.filter($"label" === 3).select($"vec_id")
      .as[Long].collect().toSet
    assert(streamed.forall(r => inSlice.contains(r._3)),
      "a neighbor escaped the metadata slice")

    // replay: redeliver batch 0's probes under the same batch_id — the
    // log already holds batches up to 1, so the append publishes nothing
    val before = canon(AnnServeStream.servingLog(spark, out))
    val pointer = Files.readAllBytes(java.nio.file.Paths.get(out, "_current")).toSeq
    AnnServeStream.serveBatch(spark.read.parquet(s"$in/f1"), 0L, idx, vecs,
      col("label") === 3, out, k, cands)
    assert(canon(AnnServeStream.servingLog(spark, out)) == before,
      "replaying a batch must not change the serving log")
    assert(Files.readAllBytes(java.nio.file.Paths.get(out, "_current")).toSeq == pointer,
      "replaying a batch published a version")
  }

  test("a batch whose slice predicate matches nothing serves an empty partition, not a failure") {
    val vecs = Tables.load(spark, sf, "embeddings")
    val root = Files.createTempDirectory("ann-serve-empty").toString
    val (idx, out) = (s"$root/idx", s"$root/out")
    BinaryAnn.buildDecoratedIndex(vecs, idx, Seq("label"))
    AnnServeStream.serveBatch(
      vecs.filter($"vec_id" < 5).select($"vec_id", $"embedding"), 0L,
      idx, vecs, col("label") === 9999, out, k, cands)
    assert(AnnServeStream.servingLog(spark, out).count() == 0)
  }

  test("an empty probe batch gives a new log its schema and publishes nothing to an existing one") {
    val vecs = Tables.load(spark, sf, "embeddings")
    val root = Files.createTempDirectory("ann-serve-no-probes").toString
    val (idx, out) = (s"$root/idx", s"$root/out")
    BinaryAnn.buildDecoratedIndex(vecs, idx, Seq("label"))
    val probes = vecs.select($"vec_id", $"embedding")
    def serve(batch: DataFrame, id: Long): Unit =
      AnnServeStream.serveBatch(batch, id, idx, vecs, col("label") === 3, out, k, cands)
    def pointer = Files.readAllBytes(java.nio.file.Paths.get(out, "_current")).toSeq

    serve(probes.filter($"vec_id" < 0), 0L)
    val empty = AnnServeStream.servingLog(spark, out)
    assert(empty.count() == 0 && empty.columns.contains("batch_id"))
    serve(probes.filter($"vec_id" < 10), 1L)
    val (rows, published) = (canon(AnnServeStream.servingLog(spark, out)), pointer)
    assert(rows.nonEmpty)
    serve(probes.filter($"vec_id" < 0), 2L)
    assert(pointer == published, "an empty batch published a version")
    assert(canon(AnnServeStream.servingLog(spark, out)) == rows)
  }

  test("the public start() entry point runs the loop end-to-end") {
    val vecs = Tables.load(spark, sf, "embeddings")
    val root = Files.createTempDirectory("ann-serve-start").toString
    val (in, idx, out, cp) = (s"$root/in", s"$root/idx", s"$root/out", s"$root/cp")
    BinaryAnn.buildDecoratedIndex(vecs, idx, Seq("label"))
    Files.createDirectories(java.nio.file.Paths.get(in))
    vecs.filter($"vec_id" < 10).select($"vec_id", $"embedding")
      .write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f1").schema
    AnnServeStream.start(spark, s"$in/*", schema, idx, vecs,
      col("label") === 3, out, cp, k, cands).awaitTermination()
    val log = AnnServeStream.servingLog(spark, out)
    assert(log.count() > 0 && log.columns.contains("batch_id"))
  }
}
