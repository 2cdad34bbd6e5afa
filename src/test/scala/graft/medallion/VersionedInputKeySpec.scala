package graft.medallion

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, current_timestamp, rand, udf}

import graft.SparkTestBase

/** [[Versioned.commit]]'s skip rule: a frame whose input key (files,
  * plan, row-changing settings) equals the active
  * version's publishes nothing, and a frame without a key always
  * publishes.
  */
class VersionedInputKeySpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** A parquet source dir of (id, country, score) rows. */
  private def source(rows: (Long, String, Double)*): String = {
    val dir = tmp("key-src") + "/src"
    rows.toDF("id", "country", "score").write.parquet(dir)
    dir
  }

  private def versions(root: String): Seq[String] =
    Files.list(Paths.get(root)).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.matches("v_\\d+")).toSeq.sorted

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Overwrite `_current` through the Hadoop FS, which keeps the
    * pointer's checksum sidecar in step. */
  private def writePointer(root: String, text: String): Unit = {
    val ptr = new HPath(s"$root/_current")
    val out = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).create(ptr, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def pointerLines(root: String): Seq[String] =
    Files.readAllLines(Paths.get(root, "_current"), StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toSeq

  private val base = Seq((1L, "Sweden", 7.5), (2L, "Brazil", 9.0), (3L, "Norway", 6.0))

  test("a file-sourced frame committed twice publishes one version") {
    val src = source(base: _*)
    val root = tmp("key-twice") + "/t"
    val first = Versioned.commit(spark, root, spark.read.parquet(src).filter(col("id") > 1))
    // a new frame over the same files, the way a rerun builds it
    val second = Versioned.commit(spark, root, spark.read.parquet(src).filter(col("id") > 1))
    assert(second == first)
    assert(versions(root) == Seq("v_000001"))
    assert(!Files.exists(Paths.get(root, ".v_000002.claim")), "the skipped commit claimed a version")
    assert(pointerLines(root).last.startsWith("input-key "), pointerLines(root).mkString("\n"))
    assert(rows(Versioned.read(spark, root)) == base.filter(_._1 > 1).map(_.productIterator.toSeq).toSet)
  }

  test("a changed source file or plan publishes a new version") {
    val src = source(base: _*)
    val root = tmp("key-changes") + "/t"
    def read = spark.read.parquet(src)
    def commit(df: DataFrame): String = Versioned.commit(spark, root, df)

    val v1 = commit(read.filter(col("id") > 1))
    val v2 = commit(read.filter(col("id") > 2))
    assert(v2 != v1, "another filter")
    val v3 = commit(read.withColumn("score", col("score").cast("decimal(4,1)")))
    val v4 = commit(read.withColumn("score", col("score").cast("decimal(4,0)")))
    assert(Seq(v1, v2, v3, v4).distinct.size == 4, "another cast")
    assert(commit(read.withColumn("score", col("score").cast("decimal(4,0)"))) == v4)

    val v5 = commit(read)
    assert(commit(read) == v5)

    // one more source file
    Seq((4L, "Finland", 8.0)).toDF("id", "country", "score").write.mode("append").parquet(src)
    val v6 = commit(read)
    assert(v6 != v5, "an added file")
    assert(Versioned.read(spark, root).count() == 4)

    // a file rewritten in place under its own name
    val file = Files.list(Paths.get(src)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).minBy(_.getFileName.toString)
    val aside = Paths.get(tmp("key-rewrite"), "one")
    Seq((5L, "Chile", 5.5), (6L, "Peru", 4.5)).toDF("id", "country", "score")
      .coalesce(1).write.parquet(aside.toString)
    val replacement = Files.list(aside).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    Files.copy(replacement, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val v7 = commit(read)
    assert(v7 != v6, "a rewritten file")
    assert(rows(Versioned.read(spark, root).select("id")).contains(Seq(6L)))
  }

  /** Two frames of one schema, committed in turn to a fresh root: both
    * publish. */
  private def publishesBoth(name: String, a: DataFrame, b: DataFrame, sameRows: Boolean = true): Unit = {
    assert(a.schema == b.schema)
    val root = tmp(s"key-$name") + "/t"
    val first = Versioned.commit(spark, root, a)
    val second = Versioned.commit(spark, root, b)
    assert(second != first, "the second commit was skipped")
    assert(versions(root).size == 2)
    if (sameRows) assert(rows(Versioned.read(spark, root)) == rows(b))
  }

  private def read(src: String): DataFrame = spark.read.parquet(src)

  test("local frames always publish") {
    publishesBoth("local", Seq(1L, 2L).toDF("id"), Seq(3L, 4L).toDF("id"))
  }

  test("range frames always publish") {
    publishesBoth("range", spark.range(2).toDF("id"), spark.range(1, 3).toDF("id"))
  }

  test("pinned frames always publish") {
    val src = source(base: _*)
    publishesBoth("pinned",
      graft.core.Materialize.pin(read(src).filter(col("id") > 1).select("id")),
      graft.core.Materialize.pin(read(src).filter(col("id") > 2).select("id")))
  }

  test("rand frames over files always publish") {
    val src = source(base: _*)
    // one seed, one plan, one set of files: still no key
    publishesBoth("rand", read(src).withColumn("r", rand(7)), read(src).withColumn("r", rand(7)))
  }

  test("clock frames over files always publish") {
    val src = source(base: _*)
    publishesBoth("clock",
      read(src).withColumn("t", current_timestamp()),
      { Thread.sleep(5); read(src).withColumn("t", current_timestamp()) }, sameRows = false)
  }

  test("UDF frames over files always publish") {
    val src = source(base: _*)
    // two functions the plan's text cannot tell apart
    val plusOne = udf((x: Long) => x + 1).withName("f")
    val plusTwo = udf((x: Long) => x + 2).withName("f")
    publishesBoth("udf",
      read(src).select(plusOne(col("id")).as("id")), read(src).select(plusTwo(col("id")).as("id")))
  }

  test("a version written but never published does not count, so the rerun commits") {
    val src = source(base: _*)
    val root = tmp("key-crash") + "/t"
    val v1 = Versioned.commit(spark, root, spark.read.parquet(src).filter(col("id") > 2))
    val next = spark.read.parquet(src).filter(col("id") > 1)
    // a directory where the pointer's temp file goes: the commit claims
    // and writes v_000002, then fails before the rename
    val blocker = Paths.get(root, "._current.tmp", "blocker")
    Files.createDirectories(blocker)
    intercept[java.io.IOException](Versioned.commit(spark, root, next))
    assert(versions(root) == Seq("v_000001", "v_000002"))
    assert(Versioned.resolve(spark, root) == v1)
    Files.delete(blocker)
    Files.delete(blocker.getParent)

    val rerun = Versioned.commit(spark, root, spark.read.parquet(src).filter(col("id") > 1))
    assert(rerun != v1)
    assert(Versioned.resolve(spark, root) == rerun)
    assert(rows(Versioned.read(spark, root)) == base.filter(_._1 > 1).map(_.productIterator.toSeq).toSet)
  }

  test("one- and two-line pointers of older code still read, and a commit over them publishes") {
    val src = source(base: _*)
    val root = tmp("key-legacy") + "/t"
    def frame = spark.read.parquet(src)
    val v1 = Versioned.commit(spark, root, frame)
    val Seq(name, schema, _) = pointerLines(root)

    writePointer(root, name)
    assert(Versioned.resolve(spark, root) == v1)
    assert(rows(Versioned.read(spark, root)) == rows(frame))
    val v2 = Versioned.commit(spark, root, frame)
    assert(v2 != v1, "a commit over a one-line pointer was skipped")

    writePointer(root, s"${Paths.get(v2).getFileName}\n$schema")
    assert(Versioned.resolve(spark, root) == v2)
    assert(Versioned.read(spark, root).schema.json == schema)
    assert(rows(Versioned.read(spark, root)) == rows(frame))
    val v3 = Versioned.commit(spark, root, frame)
    assert(v3 != v2, "a commit over a two-line pointer was skipped")
    // the new pointer carries the key again
    assert(Versioned.commit(spark, root, frame) == v3)
  }
}
