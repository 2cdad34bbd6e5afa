package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.medallion.{SchemaEvolution, Versioned}

/** Streaming schema evolution (SchemaEvolveStream): micro-batches at
  * schema v1, then v1+column, then widened, land in one evolving
  * table; streamed content ≡ a batch [[Versioned.append]] replay; a
  * crash-replayed batch is a no-op; unsafe evolution fails the batch
  * loudly; pre-evolution segments keep their original schema, and each
  * batch stays a live segment of the active version.
  */
class SchemaEvolveStreamSpec extends SparkTestBase {
  import spark.implicits._

  // v1: (id INT, title) — note the INT: v3 widens it
  private def v1 = Seq((1, "alpha"), (2, "beta")).toDF("id", "title")
    .select(col("id").cast("int").as("id"), col("title"))
  // v2: adds rating
  private def v2 = Seq((3, "gamma", 7L)).toDF("id", "title", "rating")
    .select(col("id").cast("int").as("id"), col("title"), col("rating"))
  // v3: id arrives as BIGINT beyond int range — the widen case
  private def v3 = Seq((9999999999L, "delta", 9L)).toDF("id", "title", "rating")

  private def expected = Seq(
    (1L, "alpha", None), (2L, "beta", None),
    (3L, "gamma", Some(7L)), (9999999999L, "delta", Some(9L)))

  private def contents(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Option[Long])] =
    df.select(col("id").cast("long"), col("title"), col("rating"))
      .orderBy("id").as[(Long, String, Option[Long])].collect().toSeq

  test("v1 then +column then widened: streamed table equals a Versioned.append batch replay") {
    val root = Files.createTempDirectory("evolve-stream").toString
    val (in, table, cp) = (s"$root/in", s"$root/table", s"$root/cp")
    Files.createDirectories(java.nio.file.Paths.get(in))
    // one file per version, maxFilesPerTrigger=1 → three micro-batches
    // in arrival order
    v1.coalesce(1).write.parquet(s"$in/f1")
    SchemaEvolveStream.start(spark, s"$in/*", table, cp,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    v2.coalesce(1).write.parquet(s"$in/f2")
    v3.coalesce(1).write.parquet(s"$in/f3")
    SchemaEvolveStream.start(spark, s"$in/*", table, cp,
      maxFilesPerTrigger = Some(1)).awaitTermination()

    val streamed = SchemaEvolveStream.read(spark, table)
    assert(streamed.schema("id").dataType == LongType, "id must have widened to long")
    assert(contents(streamed) == expected, s"streamed: ${contents(streamed)}")

    // ≡ the batch path: an append replay of the same three versions
    val twin = s"$root/twin"
    Seq(v1, v2, v3).foreach(df => Versioned.append(spark, twin, df))
    assert(contents(Versioned.read(spark, twin)) == contents(streamed),
      "streamed table != Versioned.append batch replay")
  }

  test("crash-replayed batch is a no-op; pre-evolution snapshot keeps its schema") {
    val root = Files.createTempDirectory("evolve-replay").toString
    val table = s"$root/table"
    SchemaEvolveStream.applyBatch(spark,
      writeFiles(root, "b0", v1), 0L, table)
    SchemaEvolveStream.applyBatch(spark,
      writeFiles(root, "b1", v2), 1L, table)
    val before = contents(SchemaEvolveStream.read(spark, table))

    // replay batch 1: same files, same id → the active version already
    // holds batch 1, so nothing is published
    SchemaEvolveStream.applyBatch(spark,
      writeFiles(root, "b1r", v2), 1L, table)
    assert(contents(SchemaEvolveStream.read(spark, table)) == before,
      "replay changed the table")

    // the pre-evolution segment (v_000001, written by batch 0) is
    // untouched: original schema, no rating column
    val first = spark.read.parquet(s"$table/v_000001")
    assert(first.schema.fieldNames.toSeq == Seq("id", "title"))
    assert(first.count() == 2)
  }

  test("unsafe evolution (string arriving as int) fails the batch loudly, table untouched") {
    val root = Files.createTempDirectory("evolve-unsafe").toString
    val table = s"$root/table"
    SchemaEvolveStream.applyBatch(spark, writeFiles(root, "b0", v1), 0L, table)
    def state = SchemaEvolveStream.read(spark, table)
      .select(col("id").cast("long"), col("title"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    val before = state
    val bad = Seq((5, 42)).toDF("id", "title") // title as int
    intercept[SchemaEvolution.IncompatibleSchemaException] {
      SchemaEvolveStream.applyBatch(spark, writeFiles(root, "bad", bad), 1L, table)
    }
    assert(state == before)
  }

  test("seven batches are seven live segments, none tombstoned") {
    val root = Files.createTempDirectory("evolve-segments").toString
    val table = s"$root/table"
    (0 until 7).foreach { i =>
      SchemaEvolveStream.applyBatch(spark,
        writeFiles(root, s"b$i", Seq((i, s"t$i")).toDF("id", "title")), i.toLong, table)
    }
    // each batch appends its own segment: every one stays in the active
    // version, so none is superseded or tombstoned for GC
    val versions = (1 to 7).map(n => f"v_$n%06d")
    assert(Versioned.segments(spark, table) == versions.map(v => s"$table/$v"))
    val names = new java.io.File(table).list().toSet
    assert(!names.exists(_.endsWith(".reap")), s"tombstones: ${names.filter(_.endsWith(".reap"))}")
    // and the active content accumulated all seven batches
    assert(SchemaEvolveStream.read(spark, table).count() == 7)
  }

  private def writeFiles(root: String, tag: String,
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val dir = s"$root/$tag"
    df.coalesce(1).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.toString).filter(_.endsWith(".parquet"))
  }
}
