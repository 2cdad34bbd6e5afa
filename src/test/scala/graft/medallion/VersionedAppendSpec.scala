package graft.medallion

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.medallion.MedallionTestKit._

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
    val v2 = Versioned.append(spark, root, frame(3))
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
}
