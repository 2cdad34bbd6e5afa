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

  test("upsert replaces matched keys and appends new ones") {
    val root = Files.createTempDirectory("upsert").toString + "/t"
    Versioned.commit(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "score"))

    val updates = Seq((2L, "b2", 21), (4L, "d", 40)).toDF("id", "name", "score")
    Maintenance.upsertVersionedByKey(spark, root, updates, Seq("id"))

    val out = Versioned.read(spark, root).as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30), (4L, "d", 40)))
    // idempotence: same upsert again changes nothing
    Maintenance.upsertVersionedByKey(spark, root, updates, Seq("id"))
    assert(Versioned.read(spark, root).as[(Long, String, Int)].collect().toSet == out)
  }

  test("double rename failure names the backup and staging paths, not a false restore") {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("swap-fail").toString
    val target = s"$root/t"
    val staging = s"$root/t_staging"
    Files.createDirectories(java.nio.file.Paths.get(target))
    Files.createDirectories(java.nio.file.Paths.get(staging))
    val local = new java.io.File(root)
    def realRename(a: HPath, b: HPath): Boolean =
      new java.io.File(a.toUri.getPath).renameTo(new java.io.File(b.toUri.getPath))
    // fail the staging→target move AND the backup→target restore
    def failingRename(a: HPath, b: HPath): Boolean =
      if (a.toString.endsWith("t_staging") || a.toString.endsWith("t_old")) false
      else realRename(a, b)
    val e = intercept[RuntimeException] {
      Maintenance.swapSteps(
        failingRename,
        p => new java.io.File(p.toUri.getPath).exists(),
        p => { def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }; rm(new java.io.File(p.toUri.getPath)) },
        staging, target)
    }
    assert(e.getMessage.contains("TWICE"), e.getMessage)
    assert(e.getMessage.contains("t_old"), s"backup path not named: ${e.getMessage}")
    assert(e.getMessage.contains("t_staging"), s"staging path not named: ${e.getMessage}")
    // the data really is where the message says
    assert(new java.io.File(s"$root/t_old").exists())
    assert(new java.io.File(staging).exists())
  }

  test("single rename failure restores the old table and says so") {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("swap-restore").toString
    val target = s"$root/t"
    val staging = s"$root/t_staging"
    Files.createDirectories(java.nio.file.Paths.get(target))
    Files.createDirectories(java.nio.file.Paths.get(staging))
    def realRename(a: HPath, b: HPath): Boolean =
      new java.io.File(a.toUri.getPath).renameTo(new java.io.File(b.toUri.getPath))
    def failStaging(a: HPath, b: HPath): Boolean =
      if (a.toString.endsWith("t_staging")) false else realRename(a, b)
    val e = intercept[RuntimeException] {
      Maintenance.swapSteps(
        failStaging,
        p => new java.io.File(p.toUri.getPath).exists(),
        p => { def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }; rm(new java.io.File(p.toUri.getPath)) },
        staging, target)
    }
    assert(e.getMessage.contains("old table restored"), e.getMessage)
    assert(new java.io.File(target).exists(), "old table was not actually restored")
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

  test("versioned compact and upsert publish atomically with same semantics") {
    val root = Files.createTempDirectory("versioned-maint").toString + "/t"
    Versioned.commit(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "score")
        .repartition(16), gcGraceMs = 0L)

    val files = Maintenance.compactVersioned(spark, root,
      targetFileBytes = 1L << 20, gcGraceMs = 0L)
    assert(files <= 2, s"still $files files after compaction")
    assert(Versioned.read(spark, root).count() == 3)

    val updates = Seq((2L, "b2", 21), (4L, "d", 40)).toDF("id", "name", "score")
    Maintenance.upsertVersionedByKey(spark, root, updates, Seq("id"), gcGraceMs = 0L)
    val out = Versioned.read(spark, root).as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30), (4L, "d", 40)))
    // the pointer file resolves to an existing dir at every step, and
    // the previous version is retained for in-flight readers
    val versions = new java.io.File(root).list().filter(_.startsWith("v_")).sorted
    assert(versions.length == 2, versions.mkString(","))
    assert(Versioned.resolve(spark, root).endsWith(versions.last))
  }

  test("upsert with composite key") {
    val root = Files.createTempDirectory("upsert2").toString + "/t"
    Versioned.commit(spark, root,
      Seq((1L, "x", 1.0), (1L, "y", 2.0), (2L, "x", 3.0)).toDF("k1", "k2", "v"))
    Maintenance.upsertVersionedByKey(spark,
      root, Seq((1L, "y", 9.0)).toDF("k1", "k2", "v"), Seq("k1", "k2"))
    val out = Versioned.read(spark, root).as[(Long, String, Double)].collect().toSet
    assert(out == Set((1L, "x", 1.0), (1L, "y", 9.0), (2L, "x", 3.0)))
  }
}
