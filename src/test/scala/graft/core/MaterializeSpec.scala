package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.CheckpointDirs
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The materialization policy itself: a pin evaluates once and reads
  * back a local or a reliable checkpoint depending on whether the
  * context has a checkpoint dir; a scoped cache is released even when
  * its block throws.
  */
class MaterializeSpec extends SparkTestBase {

  private def sc = spark.sparkContext

  /** The RDD a pinned frame reads: its plan is one checkpointed leaf. */
  private def pinnedRdd(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(fail(s"no checkpointed leaf in\n${df.queryExecution.analyzed}"))

  private def filesUnder(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    finally s.close()
  }

  test("pin evaluates its input exactly once across three consumers") {
    val evals = sc.longAccumulator("materialize-spec-evals")
    val counted = udf((x: Long) => { evals.add(1); x })
    val pinned = Materialize.pin(spark.range(0, 100, 1, 4).select(counted(col("id")).as("x")))
    assert(evals.value == 100L, "pin must evaluate its input before returning")
    assert(pinned.count() == 100L)
    assert(pinned.agg(sum(col("x"))).head().getLong(0) == 4950L)
    assert(pinned.filter(col("x") % 2 === 0).collect().length == 50)
    assert(evals.value == 100L, s"consumers re-evaluated the input: ${evals.value} evaluations")
  }

  test("with no checkpoint dir, the pinned plan reads a local checkpoint") {
    assert(sc.getCheckpointDir.isEmpty, "a checkpoint dir leaked from another suite")
    val rdd = pinnedRdd(Materialize.pin(spark.range(0, 10, 1, 2).toDF()))
    assert(rdd.isCheckpointed, "the pin must be materialized before it returns")
    assert(rdd.getCheckpointFile.isEmpty, s"local pin wrote ${rdd.getCheckpointFile}")
  }

  test("with a checkpoint dir, the pinned plan reads a reliable checkpoint under it") {
    val dir = Files.createTempDirectory("materialize-spec-ckpt")
    try {
      CheckpointDirs.withCheckpointDir(sc, dir.toString) {
        val evals = sc.longAccumulator("materialize-spec-reliable-evals")
        val counted = udf((x: Long) => { evals.add(1); x })
        val pinned = Materialize.pin(spark.range(0, 10, 1, 2).select(counted(col("id")).as("id")))
        assert(evals.value == 10L, s"the reliable pin evaluated its input ${evals.value / 10.0} times")
        val rdd = pinnedRdd(pinned)
        assert(rdd.isCheckpointed, "the pin must be materialized before it returns")
        val file = rdd.getCheckpointFile
          .getOrElse(fail("a pin under a checkpoint dir must be reliable"))
        assert(file.contains(dir.toString), s"checkpoint $file is not under $dir")
        assert(filesUnder(dir).nonEmpty, s"no checkpoint files under $dir")
        assert(pinned.agg(sum(col("id"))).head().getLong(0) == 45L)
        assert(evals.value == 10L, "a consumer re-evaluated the reliably pinned input")
      }
      assert(sc.getCheckpointDir.isEmpty, "the checkpoint dir must be unset after the test")
    } finally LocalFs.deleteRecursively(dir)
  }

  test("cached releases its frame even when the body throws") {
    // by RDD id, not by count: the ContextCleaner may release an earlier
    // suite's persisted RDD at any moment
    val before = sc.getPersistentRDDs.keySet
    var persisted = Set.empty[Int]
    val e = intercept[IllegalStateException] {
      Materialize.cached(spark.range(0, 1000, 1, 2).select((col("id") * 3).as("x"))) { c =>
        assert(c.count() == 1000L)
        persisted = (sc.getPersistentRDDs.keySet -- before).toSet
        assert(persisted.size == 1, "the body must read a cached frame")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(!persisted.exists(sc.getPersistentRDDs.contains),
      "cached leaked its frame past a throwing body")
  }
}
