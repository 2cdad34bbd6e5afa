package graft.medallion

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Schema evolution (the narrowable Iceberg gap): CSV re-ingest with a
  * changed schema flows through bronze into an evolving [[Versioned]]
  * root by [[Versioned.append]] — old rows read NULL under added
  * columns, no earlier file is rewritten, prior segments stay readable
  * at their original schema, widening keeps every value, and anything
  * unsafe throws.
  */
class SchemaEvolutionSpec extends SparkTestBase {
  import spark.implicits._

  private def ingestCsv(csv: String, tag: String): String = {
    val root = Files.createTempDirectory(s"evo-$tag").toString
    Chunker.deliver(Chunker.split(csv, maxBytes = 200), s"$root/landing",
      bufferBytes = 1000)
    BronzeFlow.ingest(spark, s"$root/landing", s"$root/bronze")
  }

  private def evolving(tag: String): String =
    Files.createTempDirectory(s"evo-$tag").toString + "/t"

  test("re-ingest with an added CSV column: old rows NULL, new column queryable, no rewrite") {
    val v1 = ingestCsv("id,title\n1,alpha\n2,beta\n", "v1")
    val v2 = ingestCsv("id,title,rating\n3,gamma,7\n4,delta,9\n", "v2")
    val root = evolving("albums")
    Versioned.append(spark, root, spark.read.parquet(v1))
    val firstFiles = Versioned.read(spark, root).inputFiles.toSet
    Versioned.append(spark, root, spark.read.parquet(v2))
    // add-column is metadata-only: every v1 data file is still live
    assert(firstFiles.subsetOf(Versioned.read(spark, root).inputFiles.toSet),
      "add-column evolution must not rewrite existing files")
    val rows = Versioned.read(spark, root).select("id", "title", "rating").orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(rows == Seq((1L, "alpha", None), (2L, "beta", None),
      (3L, "gamma", Some(7L)), (4L, "delta", Some(9L))), s"got $rows")
  }

  test("widening re-ingest (int -> long) rewrites nothing and preserves old values") {
    val root = evolving("widen")
    Versioned.append(spark, root,
      Seq((1, "a")).toDF("k", "v")
        .select(col("k").cast("int").as("k"), col("v")))
    assert(Versioned.read(spark, root).schema("k").dataType == IntegerType)
    val firstFiles = Versioned.read(spark, root).inputFiles.toSet
    Versioned.append(spark, root, Seq((9999999999L, "b")).toDF("k", "v"))
    assert(Versioned.read(spark, root).schema("k").dataType == LongType)
    assert(firstFiles.subsetOf(Versioned.read(spark, root).inputFiles.toSet),
      "widening must not rewrite existing files")
    val rows = Versioned.read(spark, root).orderBy("k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (9999999999L, "b")), s"got $rows")
  }

  test("unsafe evolution (string column arriving as int) throws, table untouched") {
    val root = evolving("unsafe")
    Versioned.append(spark, root, Seq(("x", 1L)).toDF("name", "n"))
    intercept[SchemaEvolution.IncompatibleSchemaException] {
      Versioned.append(spark, root, Seq((5, 2L)).toDF("name", "n"))
    }
    assert(Versioned.read(spark, root).count() == 1)
  }

  test("Versioned root: evolved commit leaves the prior snapshot readable at its OLD schema") {
    val root = evolving("versioned")
    Versioned.append(spark, root,
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "title"))
    val v1Dir = Versioned.resolve(spark, root)
    Versioned.append(spark, root,
      Seq((3L, "gamma", 7L)).toDF("id", "title", "rating"))
    // current version: evolved schema, old rows NULL under the new col
    val cur = Versioned.read(spark, root).orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(cur == Seq((1L, "alpha", None), (2L, "beta", None),
      (3L, "gamma", Some(7L))), s"current: $cur")
    // the pre-evolution segment is untouched: original schema, rows
    val old = spark.read.parquet(v1Dir)
    assert(old.schema.fieldNames.toSeq == Seq("id", "title"))
    assert(old.count() == 2)
  }

  test("mergeSchema read path unifies heterogeneous part files in one dir") {
    val dir = Files.createTempDirectory("evo-merge").toString
    Seq((1L, "a")).toDF("id", "title").write.parquet(s"$dir/p=1")
    Seq((2L, "b", 5L)).toDF("id", "title", "rating").write.parquet(s"$dir/p=2")
    val merged = SchemaEvolution.readMerged(spark, dir)
      .select("id", "title", "rating").orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(merged == Seq((1L, "a", None), (2L, "b", Some(5L))), s"got $merged")
  }
}
