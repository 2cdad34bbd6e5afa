package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard for the streaming publish path: how a loop starts,
  * how its per-batch output is named, how a published entry is
  * recognised and how long a chain is kept are decided once, in
  * `graft/streaming/BatchSink.scala`. Any other main source that
  * starts a stream, and any other streaming source that spells a
  * `batch_id=` or `snap_` path, probes `_SUCCESS` or defines
  * `KeepSnapshots`, fails here. Comments are ignored.
  */
class StreamingStructureSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val streamingRoot = mainRoot.resolve("graft/streaming")
  private val sinkFile = streamingRoot.resolve("BatchSink.scala")

  private val startRules = Seq(
    """\.writeStream\b""" -> "starts a stream (use BatchSink.start)",
    """\bforeachBatch\b""" -> "runs a foreachBatch loop (use BatchSink.start)")
  private val layoutRules = Seq(
    "batch_id=" -> "spells a partition path (use BatchSink.Partitions)",
    "snap_" -> "spells a snapshot path (use BatchSink.Snapshots)",
    "_SUCCESS" -> "probes a commit marker (a published entry is complete)",
    """\b(val|def|var)\s+KeepSnapshots\b""" -> "defines a retention (use BatchSink.KeepSnapshots)")

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

  private def violations(files: Seq[Path], rules: Seq[(String, String)]): Seq[String] =
    for {
      f <- files if f != sinkFile
      (pattern, what) <- rules
      if pattern.r.findFirstIn(code(f)).nonEmpty
    } yield s"$f $what"

  test("the rules match the policy where it lives") {
    assert(Files.isRegularFile(sinkFile), s"run from the repository root: no $sinkFile")
    val unmatched = (startRules ++ layoutRules).map(_._1)
      .filter(p => p != "_SUCCESS" && p.r.findFirstIn(code(sinkFile)).isEmpty)
    assert(unmatched.isEmpty, s"rules that no longer match BatchSink.scala: $unmatched")
  }

  test("only BatchSink starts a stream or spells the publish layout") {
    val found = violations(scalaFiles(mainRoot), startRules) ++
      violations(scalaFiles(streamingRoot), layoutRules)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
