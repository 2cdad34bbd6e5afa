package graft.medallion

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.SparkTestBase
import graft.medallion.MedallionTestKit._
import graft.streaming.LandingStream

/** [[Versioned.append]]: a version's pointer lists several segments,
  * each row lives in exactly one of them, [[Versioned.read]] reads them
  * all with the pointer's schema, and GC keeps every segment a retained
  * pointer lists. An append that evolves the schema rewrites no earlier
  * segment, and one that cannot evolve it writes nothing.
  */
class VersionedAppendSpec extends SparkTestBase {
  import spark.implicits._

  private def pointerLines(root: String): Seq[String] =
    Files.readAllLines(Paths.get(root, "_current"), StandardCharsets.UTF_8).asScala.toSeq

  private def versionDirs(root: String): Set[String] =
    new java.io.File(root).list().filter(_.matches("v_\\d+")).toSet

  private def claims(root: String): Set[String] =
    new java.io.File(root).list().filter(_.matches("\\.v_\\d+\\.claim")).toSet

  private def pointerBytes(root: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(root, "_current")).toSeq

  /** Rows in every parquet file under `root`, from the footers. */
  private def rowsOnDisk(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !Paths.get(p).getFileName.toString.startsWith("."))
      .map(p => spark.read.parquet(p).count()).sum
    finally s.close()
  }

  private def frame(ids: Long*) = ids.map(i => (i, s"r$i")).toDF("id", "name")

  test("an append publishes only its rows as a new segment; read returns every segment with no inference job") {
    val root = Files.createTempDirectory("append").toString + "/t"
    val v1 = Versioned.commit(spark, root, frame(1, 2))
    val v2 = Versioned.append(spark, root, frame(3)).get
    assert(pointerLines(root).head == "v_000001 v_000002")
    assert(!pointerLines(root).exists(_.startsWith("input-key ")), "an append carries no input key")
    assert(spark.read.parquet(v2).as[(Long, String)].collect().toSeq == Seq(3L -> "r3"))
    assert(Versioned.segments(spark, root) == Seq(v1, v2))
    val (got, jobs) = countingJobs(spark)(Versioned.read(spark, root).as[(Long, String)].collect())
    assert(got.sorted.toSeq == Seq(1L -> "r1", 2L -> "r2", 3L -> "r3"))
    assert(jobs == 1, s"read + collect ran $jobs Spark jobs")
    // no row lives in two retained dirs
    assert(rowsOnDisk(root) == 3)
    // the first append to an empty root is a one-segment version
    val fresh = Files.createTempDirectory("append-first").toString + "/t"
    Versioned.append(spark, fresh, frame(7))
    assert(pointerLines(fresh).head == "v_000001")
    assert(Versioned.read(spark, fresh).count() == 1)
  }

  test("resolve fails loudly on a version with several segments and names read") {
    val root = Files.createTempDirectory("append-resolve").toString + "/t"
    Versioned.commit(spark, root, frame(1))
    Versioned.append(spark, root, frame(2))
    val e = intercept[IllegalStateException](Versioned.resolve(spark, root))
    assert(e.getMessage.contains("2 segments") && e.getMessage.contains("Versioned.read"), e.getMessage)
  }

  test("an append whose schema differs from the active version's is refused and publishes nothing") {
    val root = Files.createTempDirectory("append-schema").toString + "/t"
    Versioned.commit(spark, root, frame(1))
    val before = pointerLines(root)
    val e = intercept[SchemaEvolution.IncompatibleSchemaException](
      Versioned.append(spark, root, Seq((2L, 5)).toDF("id", "name")))
    assert(e.getMessage.contains("cannot evolve"), e.getMessage)
    assert(pointerLines(root) == before)
    assert(versionDirs(root) == Set("v_000001"))
  }

  test("GC keeps every segment the new and the previous pointer list, and reaps a superseded chain") {
    val root = Files.createTempDirectory("append-gc").toString + "/t"
    Versioned.commit(spark, root, frame(1), gcGraceMs = 0L)
    Versioned.append(spark, root, frame(2))
    Versioned.append(spark, root, frame(3))
    assert(versionDirs(root) == Set("v_000001", "v_000002", "v_000003"))
    // a full version: the chain it supersedes is the previous pointer's
    Versioned.commit(spark, root, frame(1, 2, 3, 4), gcGraceMs = 0L)
    assert(versionDirs(root) == Set("v_000001", "v_000002", "v_000003", "v_000004"))
    Versioned.commit(spark, root, frame(5), gcGraceMs = 0L)
    assert(versionDirs(root) == Set("v_000004", "v_000005"))
    assert(Versioned.read(spark, root).count() == 1)
  }

  test("an empty append to an existing root publishes nothing: the pointer is unchanged, no version dir or claim is left") {
    val root = Files.createTempDirectory("append-empty").toString + "/t"
    Versioned.commit(spark, root, frame(1, 2))
    Versioned.append(spark, root, frame(3))
    val (pointer, dirs, claimed) = (pointerBytes(root), versionDirs(root), claims(root))
    val (appended, jobs) = countingJobs(spark)(Versioned.append(spark, root, frame(1, 2).filter("id > 5")))
    assert(appended.isEmpty)
    assert(jobs == 1, s"an empty append ran $jobs Spark jobs: the count belongs to the write's own job")
    assert(pointerBytes(root) == pointer, "the pointer changed")
    assert(versionDirs(root) == dirs)
    assert(claims(root) == claimed)
    assert(Versioned.read(spark, root).count() == 3)
  }

  test("an empty first append to an absent root still publishes, so the root has its schema") {
    val root = Files.createTempDirectory("append-empty-first").toString + "/t"
    val dir = Versioned.append(spark, root, frame())
    assert(dir.contains(s"$root/v_000001"))
    assert(pointerLines(root).head == "v_000001")
    val read = Versioned.read(spark, root)
    assert(read.columns.toSeq == Seq("id", "name"))
    assert(read.count() == 0)
  }

  /** (path, modification time) of every parquet file in the active segments. */
  private def liveFiles(root: String): Set[(String, Long)] =
    Versioned.segments(spark, root).flatMap(d => new java.io.File(d).listFiles().toSeq)
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified).toSet

  /** `body` under the row-at-a-time parquet reader, then the vectorized one. */
  private def bothReaders[T](body: => T): Seq[T] =
    Seq("false", "true").map { vectorized =>
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
      try body finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    }

  test("an added column and an int→long widening each keep every earlier segment's files live; a value past int range survives") {
    val root = Files.createTempDirectory("append-evolve").toString + "/t"
    Versioned.commit(spark, root, Seq((1, "a")).toDF("n", "s"))
    val first = liveFiles(root)
    Versioned.append(spark, root, Seq((2, "b", 0.5)).toDF("n", "s", "x"))
    val second = liveFiles(root)
    assert(first.subsetOf(second), "adding a column rewrote an earlier segment")
    Versioned.append(spark, root, Seq((5000000000L, "c", 1.5)).toDF("n", "s", "x"))
    assert(second.subsetOf(liveFiles(root)), "widening rewrote an earlier segment")
    assert(Versioned.segments(spark, root).size == 3)
    val read = Versioned.read(spark, root)
    assert(read.schema.map(f => f.name -> f.dataType) ==
      Seq("n" -> LongType, "s" -> StringType, "x" -> DoubleType))
    bothReaders(Versioned.read(spark, root).collect().map(_.toSeq).toSet).foreach { got =>
      assert(got == Set(Seq(1L, "a", null), Seq(2L, "b", 0.5), Seq(5000000000L, "c", 1.5)), got)
    }
  }

  test("a column that differs only in case from the table's reads under the table's name") {
    val root = Files.createTempDirectory("append-case").toString + "/t"
    Versioned.commit(spark, root, Seq((1L, 7.5)).toDF("id", "score"))
    Versioned.append(spark, root, Seq((2L, 9.0)).toDF("id", "Score"))
    assert(Versioned.read(spark, root).columns.toSeq == Seq("id", "score"))
    bothReaders(Versioned.read(spark, root).as[(Long, Double)].collect().toSet).foreach { got =>
      assert(got == Set(1L -> 7.5, 2L -> 9.0), got)
    }
  }

  test("an unsafe change leaves the pointer bytes and the root listing unchanged") {
    val root = Files.createTempDirectory("append-unsafe").toString + "/t"
    Versioned.commit(spark, root, Seq((1L, 7.5)).toDF("id", "score"))
    Versioned.append(spark, root, Seq((2L, 9.0, "x")).toDF("id", "score", "note"))
    def listing = new java.io.File(root).list().toSet
    val (pointer, names) = (pointerBytes(root), listing)
    // one safe change (a new column) beside an unsafe one (double → string)
    intercept[SchemaEvolution.IncompatibleSchemaException](
      Versioned.append(spark, root, Seq((3L, "high", 1)).toDF("id", "score", "rank")))
    assert(pointerBytes(root) == pointer, "the pointer changed")
    assert(listing == names, "the refused append left files behind")
  }

  test("an empty frame that adds a column still publishes the new schema") {
    val root = Files.createTempDirectory("append-empty-evolve").toString + "/t"
    Versioned.commit(spark, root, frame(1, 2))
    val added = frame().withColumn("note", org.apache.spark.sql.functions.lit("x"))
    assert(Versioned.append(spark, root, added).isDefined)
    val read = Versioned.read(spark, root)
    assert(read.columns.toSeq == Seq("id", "name", "note"))
    assert(read.count() == 2 && read.filter("note IS NULL").count() == 2)
  }

  test("a batch of rows bronze already has leaves the pointer unchanged") {
    val lake = Lake(Files.createTempDirectory("append-dup-batch").toString)
    val root = lake.bronze("d")
    Versioned.commit(spark, root, spark.range(3).selectExpr("id", "id * 2 AS v"))
    // twice over: duplicates within the batch and against bronze
    val batch = spark.range(0, 3).union(spark.range(2, 3)).selectExpr("id", "id * 2 AS v")
    val (pointer, dirs, claimed) = (pointerBytes(root), versionDirs(root), claims(root))
    LandingStream.appendBatch(spark, lake, "d", batch)
    assert(pointerBytes(root) == pointer, "the pointer changed")
    assert(versionDirs(root) == dirs)
    assert(claims(root) == claimed)
    assert(Versioned.read(spark, root).count() == 3)
  }
}
