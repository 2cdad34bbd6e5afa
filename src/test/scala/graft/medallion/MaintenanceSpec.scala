package graft.medallion

import java.nio.file.Files

import graft.SparkTestBase

class MaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  test("compaction collapses small files without changing rows") {
    val root = Files.createTempDirectory("compact").toString + "/t"
    Versioned.commit(spark, root, spark.range(10000).selectExpr("id", "id * 2 AS v")
      .repartition(64), // simulate micro-batch small-file accretion
      gcGraceMs = 0L)
    val before = new java.io.File(Versioned.resolve(spark, root)).list().count(_.endsWith(".parquet"))
    assert(before >= 32)
    val rowsBefore = Versioned.read(spark, root).collect().map(_.getLong(0)).sorted

    val after = Maintenance.compactVersioned(spark, root, targetFileBytes = 1L << 20, gcGraceMs = 0L)
    assert(after < before / 4, s"still $after files")
    val rowsAfter = Versioned.read(spark, root).collect().map(_.getLong(0)).sorted
    assert(rowsAfter.toSeq == rowsBefore.toSeq)
  }

  test("versioned commit: concurrent readers never observe an absent table") {
    val root = Files.createTempDirectory("versioned").toString + "/t"
    // gcGraceMs = 0: single-writer tests want aggressive GC so the
    // retained-window assertions are exact
    Versioned.commit(spark, root, spark.range(100).toDF("id"), gcGraceMs = 0L)

    @volatile var failures = List.empty[String]
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val v = Versioned.resolve(spark, root)
        val d = new java.io.File(v)
        if (!d.exists() || !d.list().exists(_.endsWith(".parquet")))
          failures ::= s"resolved $v but no data there"
      }
    })
    reader.start()
    try {
      (2 to 6).foreach { i =>
        Versioned.commit(spark, root, spark.range(100L * i).toDF("id"), gcGraceMs = 0L)
      }
    } finally { stop = true; reader.join() }
    assert(failures.isEmpty, failures.take(3).mkString("; "))
    // the final read sees the last commit, and GC kept a bounded window
    assert(Versioned.read(spark, root).count() == 600L)
    val versions = new java.io.File(root).list().count(_.startsWith("v_"))
    assert(versions == 2, s"expected 2 retained versions, found $versions")
  }

  test("versioned GC spares a racing writer inside the grace window, reaps it after") {
    val root = Files.createTempDirectory("versioned-grace").toString + "/t"
    Versioned.commit(spark, root, spark.range(10).toDF("id"), gcGraceMs = 0L) // v1
    // a racing committer has claimed v2 and is still writing its dir
    assert(new java.io.File(root, ".v_000002.claim").createNewFile())
    assert(new java.io.File(root, "v_000002").mkdirs())
    Versioned.commit(spark, root, spark.range(20).toDF("id")) // v3, default grace
    assert(new java.io.File(root, "v_000002").exists(), "in-flight dir was GC'd")
    assert(new java.io.File(root, ".v_000002.claim").exists(), "in-flight claim was GC'd")
    // that commit dropped a reap tombstone (supersession-time clock);
    // age IT past the grace window → the next commit reaps
    assert(new java.io.File(root, ".v_000002.reap").exists(), "no tombstone started")
    assert(new java.io.File(root, ".v_000002.reap").setLastModified(1000L))
    Versioned.commit(spark, root, spark.range(30).toDF("id"), gcGraceMs = 60000L) // v4
    assert(!new java.io.File(root, "v_000002").exists(), "abandoned dir not reaped")
    assert(!new java.io.File(root, ".v_000002.claim").exists(), "abandoned claim not reaped")
    assert(Versioned.read(spark, root).count() == 30)
  }

  test("versioned compact publishes atomically with the same rows") {
    val root = Files.createTempDirectory("versioned-maint").toString + "/t"
    Versioned.commit(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "score")
        .repartition(16), gcGraceMs = 0L)

    val files = Maintenance.compactVersioned(spark, root,
      targetFileBytes = 1L << 20, gcGraceMs = 0L)
    assert(files <= 2, s"still $files files after compaction")
    val out = Versioned.read(spark, root).as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))
    // the pointer file resolves to an existing dir at every step, and
    // the previous version is retained for in-flight readers
    val versions = new java.io.File(root).list().filter(_.startsWith("v_")).sorted
    assert(versions.length == 2, versions.mkString(","))
    assert(Versioned.resolve(spark, root).endsWith(versions.last))
  }

  test("compacting an appended root leaves one segment with the same rows") {
    val root = Files.createTempDirectory("compact-appended").toString + "/t"
    Versioned.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    Versioned.append(spark, root, Seq((3L, "c")).toDF("id", "name"))
    Versioned.append(spark, root, Seq((4L, "d"), (5L, "e")).toDF("id", "name"))
    assert(Versioned.segments(spark, root).size == 3)
    val before = Versioned.read(spark, root).as[(Long, String)].collect().sorted.toSeq

    Maintenance.compactVersioned(spark, root, targetFileBytes = 1L << 20)
    val segments = Versioned.segments(spark, root)
    assert(segments.size == 1, segments.mkString(","))
    assert(Versioned.resolve(spark, root) == segments.head)
    assert(Versioned.read(spark, root).as[(Long, String)].collect().sorted.toSeq == before)
    assert(before.map(_._1) == (1L to 5L))
  }
}
