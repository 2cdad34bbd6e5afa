package graft.medallion

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.medallion.MedallionTestKit._
import graft.streaming.LandingStream

/** [[Versioned.append]]: a version's pointer lists several segments,
  * each row lives in exactly one of them, [[Versioned.read]] reads them
  * all with the pointer's schema, and GC keeps every segment a retained
  * pointer lists.
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
    val e = intercept[IllegalArgumentException](
      Versioned.append(spark, root, Seq((2L, 5)).toDF("id", "name")))
    assert(e.getMessage.contains("append to"), e.getMessage)
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
