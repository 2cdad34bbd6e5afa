package graft.medallion

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class ErrorRoutingSpec extends SparkTestBase {

  test("malformed landing lines route to errors/, bronze stays clean") {
    val lake = Lake(Files.createTempDirectory("err-route").toString)
    val dir = Paths.get(lake.landing("reviews"))
    Files.createDirectories(dir)
    // one clean object + one object with a field-count overflow line
    Files.write(dir.resolve("part-00000.csv"),
      "id,album,score\n1,10,9.5\n2,11,8.0\n".getBytes)
    Files.write(dir.resolve("part-00001.csv"),
      "id,album,score\n3,12,7.5\n4,13,6.0,EXTRA,FIELDS,OVERFLOW\n5,14,5.5\n".getBytes)

    val (bronzePath, nBad) = BronzeFlow.ingestWithErrorRouting(
      spark, lake.landing("reviews"), lake.bronze("reviews"), lake.errors("reviews"))

    assert(nBad == 1)
    val bronze = spark.read.parquet(bronzePath)
    assert(bronze.count() == 4) // ids 1,2,3,5 — the overflow line excluded
    assert(bronze.filter(col("id") === 4).count() == 0)
    val errors = spark.read.text(lake.errors("reviews")).collect().map(_.getString(0))
    assert(errors.toSeq == Seq("4,13,6.0,EXTRA,FIELDS,OVERFLOW"))
  }

  test("clean rerun clears a stale errors prefix") {
    val lake = Lake(Files.createTempDirectory("err-rerun").toString)
    val dir = Paths.get(lake.landing("reviews"))
    Files.createDirectories(dir)
    val badFile = dir.resolve("part-00000.csv")
    Files.write(badFile, "id,album,score\n1,10,9.5\n2,11,8.0,X,Y,Z\n".getBytes)
    val (_, nBad1) = BronzeFlow.ingestWithErrorRouting(
      spark, lake.landing("reviews"), lake.bronze("reviews"), lake.errors("reviews"))
    assert(nBad1 == 1 && Files.exists(Paths.get(lake.errors("reviews"))))
    // fix the data, re-ingest: no phantom errors may remain
    Files.write(badFile, "id,album,score\n1,10,9.5\n2,11,8.0\n".getBytes)
    val (_, nBad2) = BronzeFlow.ingestWithErrorRouting(
      spark, lake.landing("reviews"), lake.bronze("reviews"), lake.errors("reviews"))
    assert(nBad2 == 0)
    assert(!Files.exists(Paths.get(lake.errors("reviews"))))
  }

  test("explicit schema catches type drift that inference would mask") {
    import org.apache.spark.sql.types._
    val lake = Lake(Files.createTempDirectory("err-schema").toString)
    val dir = Paths.get(lake.landing("reviews"))
    Files.createDirectories(dir)
    // under inference the bad score would widen the column to string and
    // the row would pass; against the declared contract it must route
    Files.write(dir.resolve("part-00000.csv"),
      "id,album,score\n1,10,9.5\n2,11,not_a_number\n3,12,7.0\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("album", IntegerType),
      StructField("score", DoubleType)))
    val (bronzePath, nBad) = BronzeFlow.ingestWithErrorRouting(
      spark, lake.landing("reviews"), lake.bronze("reviews"),
      lake.errors("reviews"), schema)
    assert(nBad == 1)
    assert(spark.read.parquet(bronzePath).count() == 2)
    val errors = spark.read.text(lake.errors("reviews")).collect().map(_.getString(0))
    assert(errors.toSeq == Seq("2,11,not_a_number"))
  }

  test("dotted header names neither break the scan nor hide bad rows") {
    val lake = Lake(Files.createTempDirectory("err-dotted").toString)
    val dir = Paths.get(lake.landing("reviews"))
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-00000.csv"),
      "id,album.score\n1,9.5\n2,8.0,OVERFLOW\n3,7.0\n".getBytes)
    val (bronzePath, nBad) = BronzeFlow.ingestWithErrorRouting(
      spark, lake.landing("reviews"), lake.bronze("reviews"), lake.errors("reviews"))
    assert(nBad == 1)
    assert(spark.read.parquet(bronzePath).count() == 2)
  }

  test("clean landing writes no errors directory") {
    val lake = Lake(Files.createTempDirectory("err-clean").toString)
    val dir = Paths.get(lake.landing("albums"))
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-00000.csv"), "id,title\n1,x\n2,y\n".getBytes)
    val (_, nBad) = BronzeFlow.ingestWithErrorRouting(
      spark, lake.landing("albums"), lake.bronze("albums"), lake.errors("albums"))
    assert(nBad == 0)
    assert(!Files.exists(Paths.get(lake.errors("albums"))))
    assert(Versioned.read(spark, lake.bronze("albums")).count() == 2)
  }
}
