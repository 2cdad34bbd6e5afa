package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard for the policies that are decided once, in one file.
  *
  * Streaming start, in `graft/streaming/BatchSink.scala`: how a loop
  * starts. Any other main source that starts a stream fails here.
  * Streaming publish, in `graft/medallion/Versioned.scala`: a streaming
  * source that writes a frame itself, or probes `_SUCCESS`, fails here.
  *
  * Materialization, in `graft/core/Materialize.scala`: every eager
  * lineage cut and every scoped cache. Any other main source that
  * checkpoints or reads the checkpoint dir fails here, and so does any
  * other `persist`/`cache` outside the two caches that outlive a block
  * (the rolling per-round caches of `DedupClusters` and the session
  * memo of `ScaleOpsQueries`).
  *
  * Tables, in `graft/medallion/Versioned.scala`: every table publishes
  * through a `Versioned` root, which the catalog registers as an
  * external table. A main source that writes a managed catalog table
  * (`saveAsTable`) fails here.
  *
  * Concurrency, in `graft/core/Concurrent.scala`: the one place that
  * creates a thread pool or starts a thread to run Spark work. Any other
  * main source that does fails here; `Bench`'s watchdog thread, which
  * runs one query under a cancellable job group, is the one exemption.
  *
  * Comments are ignored.
  */
class StructureSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val streamingRoot = mainRoot.resolve("graft/streaming")
  private val sinkFile = streamingRoot.resolve("BatchSink.scala")
  private val versionedFile = mainRoot.resolve("graft/medallion/Versioned.scala")
  private val materializeFile = mainRoot.resolve("graft/core/Materialize.scala")
  private val longLivedCaches = Set("DedupClusters.scala", "ScaleOpsQueries.scala")
  private val concurrentFile = mainRoot.resolve("graft/core/Concurrent.scala")
  private val watchdogFile = mainRoot.resolve("graft/Bench.scala")

  private val startRules = Seq(
    """\.writeStream\b""" -> "starts a stream (use BatchSink.start)",
    """\bforeachBatch\b""" -> "runs a foreachBatch loop (use BatchSink.start)")
  private val publishRules = Seq(
    """\.write\b""" -> "writes a frame itself (publish through Versioned)",
    "_SUCCESS" -> "probes a commit marker (a published version is complete)")
  private val tableRules = Seq(
    """\bsaveAsTable\b""" -> "writes a managed table (publish through Versioned)")
  private val pinRules = Seq(
    """\blocalCheckpoint\b""" -> "checkpoints locally (use Materialize.pin)",
    """\.checkpoint\(""" -> "checkpoints (use Materialize.pin)",
    """\bgetCheckpointDir\b""" -> "reads the checkpoint dir (use Materialize.pin)")
  private val poolRules = Seq(
    """\bExecutors\.""" -> "creates a thread pool (use Concurrent.run)",
    """\b(ThreadPoolExecutor|ForkJoinPool|ExecutionContext\.from\w*)\b""" ->
      "creates a thread pool (use Concurrent.run)")
  private val threadRules = Seq(
    """\bnew\s+Thread\b""" -> "starts a thread (use Concurrent.run)")
  private val cacheRules = Seq(
    """\.persist\(""" -> "persists (use Materialize.cached)",
    """\.cache\(\)""" -> "caches (use Materialize.cached)")

  /** Source text without comments: block comments that open a line,
    * and `//` comments that follow whitespace (so `hdfs://` survives).
    */
  private def code(file: Path): String =
    new String(Files.readAllBytes(file), "UTF-8")
      .replaceAll("""(?ms)^\s*/\*.*?\*/""", "")
      .replaceAll("""(?m)(^|\s)//.*$""", "$1")

  private def scalaFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  private def violations(
      files: Seq[Path], owner: Path, rules: Seq[(String, String)]): Seq[String] =
    for {
      f <- files if f != owner
      (pattern, what) <- rules
      if pattern.r.findFirstIn(code(f)).nonEmpty
    } yield s"$f $what"

  private def unmatched(owner: Path, rules: Seq[(String, String)]): Seq[String] = {
    assert(Files.isRegularFile(owner), s"run from the repository root: no $owner")
    rules.map(_._1).filter(_.r.findFirstIn(code(owner)).isEmpty)
  }

  test("the rules match the policy where it lives") {
    val missed = unmatched(sinkFile, startRules) ++ unmatched(versionedFile, publishRules.take(1))
    assert(missed.isEmpty, s"rules that no longer match BatchSink.scala or Versioned.scala: $missed")
  }

  test("only BatchSink starts a stream or spells the publish layout") {
    val found = violations(scalaFiles(mainRoot), sinkFile, startRules) ++
      violations(scalaFiles(streamingRoot), versionedFile, publishRules)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no main source writes a managed table") {
    val planted = Files.createTempFile("planted", ".scala")
    try {
      Files.write(planted, "object P { def f(df: DataFrame) = df.write.saveAsTable(\"t\") }".getBytes("UTF-8"))
      assert(violations(Seq(planted), versionedFile, tableRules).nonEmpty,
        "the table rule misses a planted saveAsTable")
    } finally Files.delete(planted)
    val found = violations(scalaFiles(mainRoot), versionedFile, tableRules)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("the materialization rules match Materialize.scala") {
    val missed = unmatched(materializeFile,
      pinRules ++ cacheRules.filter(_._1 != """\.cache\(\)"""))
    assert(missed.isEmpty, s"rules that no longer match Materialize.scala: $missed")
    val exempt = scalaFiles(mainRoot).filter(f => longLivedCaches(f.getFileName.toString))
    assert(exempt.map(_.getFileName.toString).toSet == longLivedCaches)
    val stale = exempt.filter(f => """\.persist\(""".r.findFirstIn(code(f)).isEmpty)
    assert(stale.isEmpty, s"exempt from the cache rule but no longer caching: $stale")
  }

  test("only Materialize pins or scopes a cache") {
    val main = scalaFiles(mainRoot)
    val found = violations(main, materializeFile, pinRules) ++
      violations(main.filterNot(f => longLivedCaches(f.getFileName.toString)),
        materializeFile, cacheRules)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("the concurrency rules match Concurrent.scala and the watchdog") {
    val missed = unmatched(concurrentFile, poolRules.take(1) ++ threadRules)
    assert(missed.isEmpty, s"rules that no longer match Concurrent.scala: $missed")
    assert(unmatched(watchdogFile, threadRules).isEmpty,
      s"$watchdogFile is exempt from the thread rule but no longer starts a thread")
  }

  test("only Concurrent creates a thread pool; Bench's watchdog is the one other thread") {
    val main = scalaFiles(mainRoot)
    val found = violations(main, concurrentFile, poolRules) ++
      violations(main.filterNot(_ == watchdogFile), concurrentFile, threadRules)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
