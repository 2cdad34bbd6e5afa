package graft.medallion

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.SparkTestBase
import graft.medallion.MedallionTestKit._

/** The `_current` pointer's optional lines. The schema line:
  * [[Versioned.read]] takes the committed schema from it instead of
  * inferring one from the parquet footers, and a one-line pointer reads
  * as it always has. The batch line: a publish at or below the recorded
  * micro-batch id writes nothing.
  */
class VersionedPointerSpec extends SparkTestBase {
  import spark.implicits._

  private def pointerLines(root: String): Seq[String] =
    Files.readAllLines(Paths.get(root, "_current"), StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toSeq

  private def pointerSchema(root: String): StructType =
    DataType.fromJson(pointerLines(root)(1)).asInstanceOf[StructType]

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def frame = Seq((1L, "Sweden", 7.5), (2L, "Brazil", 9.0)).toDF("id", "country", "score")

  test("a name-only pointer (the older format) still resolves and reads") {
    val root = Files.createTempDirectory("versioned-legacy").toString + "/t"
    val dir = Versioned.commit(spark, root, frame)
    // through the Hadoop FS, which keeps the pointer's checksum sidecar in step
    val ptr = new org.apache.hadoop.fs.Path(s"$root/_current")
    val out = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).create(ptr, true)
    try out.write(Paths.get(dir).getFileName.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    assert(pointerLines(root).size == 1)
    assert(Versioned.resolve(spark, root) == dir)
    val df = Versioned.read(spark, root)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(rows(df) == rows(frame))
  }

  test("reading a new unpartitioned commit runs no schema-inference job") {
    val root = Files.createTempDirectory("versioned-jobs").toString + "/t"
    Versioned.commit(spark, root, frame)
    assert(pointerLines(root).size == 2)
    // a name-only pointer adds a footer-inference job to each (3 and 2);
    // count's partial aggregate runs as its own adaptive stage job
    val (n, countJobs) = countingJobs(spark)(Versioned.read(spark, root).count())
    assert(n == 2)
    assert(countJobs == 2, s"read + count ran $countJobs Spark jobs")
    val (got, collectJobs) = countingJobs(spark)(Versioned.read(spark, root).collect())
    assert(got.length == 2)
    assert(collectJobs == 1, s"read + collect ran $collectJobs Spark jobs")
  }

  test("a partitioned version with a one-line pointer (older code) reads back as before") {
    val root = Files.createTempDirectory("versioned-parted").toString + "/t"
    val dir = s"$root/v_000001"
    frame.write.partitionBy("country").parquet(dir)
    val ptr = new org.apache.hadoop.fs.Path(s"$root/_current")
    val out = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).create(ptr, true)
    try out.write("v_000001".getBytes(StandardCharsets.UTF_8)) finally out.close()
    val got = Versioned.read(spark, root)
    val inferred = spark.read.parquet(dir)
    assert(got.columns.toSeq == Seq("id", "score", "country"))
    assert(got.schema == inferred.schema)
    assert(rows(got) == rows(inferred) && rows(got) == rows(frame.select("id", "score", "country")))
  }

  test("after an append widens a column, read returns the widened schema") {
    val root = Files.createTempDirectory("versioned-widen").toString + "/t"
    Versioned.commit(spark, root, Seq((1, "a")).toDF("n", "s"))
    Versioned.append(spark, root, Seq((2L, 0.5)).toDF("n", "x"))
    val df = Versioned.read(spark, root)
    assert(df.schema("n").dataType == LongType)
    assert(df.columns.toSeq == Seq("n", "s", "x"))
    assert(rows(df) == Set(Seq(1L, "a", null), Seq(2L, null, 0.5)))
  }

  test("a publish at or below the active batch writes nothing; an unbatched commit carries the batch forward") {
    val root = Files.createTempDirectory("versioned-batch").toString + "/t"
    def listing = Files.list(Paths.get(root)).toArray.map(_.toString).toSet
    Versioned.commit(spark, root, frame, batch = Some(3L))
    assert(pointerLines(root).last == "batch 3")
    val (pointer, files) = (pointerLines(root), listing)
    Versioned.commit(spark, root, frame, batch = Some(3L))
    Versioned.commit(spark, root, frame, batch = Some(2L))
    assert(Versioned.append(spark, root, frame, batch = Some(3L)).isEmpty)
    assert(pointerLines(root) == pointer && listing == files,
      "a replayed batch wrote a claim marker, a version dir or the pointer")

    assert(Versioned.append(spark, root, frame, batch = Some(4L)).isDefined)
    assert(pointerLines(root).last == "batch 4" && Versioned.segments(spark, root).size == 2)
    Maintenance.compactVersioned(spark, root, 1L << 20)
    assert(Versioned.segments(spark, root).size == 1)
    assert(pointerLines(root).last == "batch 4", "the fold dropped the batch line")
    assert(Versioned.append(spark, root, frame, batch = Some(4L)).isEmpty)
    assert(Versioned.read(spark, root).count() == 4)
  }

  test("every silver and gold pointer's schema is the schema a parquet read infers") {
    val lake = versionedSilverLake(spark, "versioned-schemas")
    // a review of the Brazilian band's album, so all four gold tables publish
    val reviews = Versioned.read(spark, lake.silver("reviews"))
    Versioned.commit(spark, lake.silver("reviews"), reviews.unionByName(
      Seq((106L, 5L, "Raw", 8.0, "Thrash roots")).toDF("id", "album", "title", "score", "content")
        .select(reviews.columns.map(c => $"$c".cast(reviews.schema(c).dataType)): _*)))
    assert(GoldFlow.run(spark, lake, versioned = true).size == 4)
    val roots = Seq("albums", "bands", "reviews", "music_catalog", "album_reviews").map(lake.silver) ++
      Seq("top10_by_country", "band_avg_scores", "brazilian_bands", "band_album_counts").map(lake.gold)
    roots.foreach { root =>
      assert(pointerSchema(root) == spark.read.parquet(Versioned.resolve(spark, root)).schema, root)
    }
  }
}
