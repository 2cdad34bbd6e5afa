package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.SparkTestBase
import graft.medallion.{Chunker, Lake, Versioned}
import graft.streaming.LandingStream

/** Local lake I/O starts no OS process: a JFR recording of only
  * `jdk.ProcessStart` events sees none (see `Counted`) while a tiny
  * lake commits, appends, locks and streams into bronze (each batch
  * takes the lock and appends again). Hadoop's own
  * local filesystem starts over a hundred here (`chmod`, `readlink`). */
class NoProcessSpec extends SparkTestBase {

  /** A start is counted when Hadoop's code or the engine's is on its
    * stack. Spark's own housekeeping is not: the executor heartbeat's
    * one `getconf` and the `rm` of a collected session's artifact dir
    * run on their own threads at times no spec controls. */
  private val Counted = Seq("org.apache.hadoop.", "graft.")

  test("commit, append, lock and landing stream start no OS process") {
    val lake = Lake(Files.createTempDirectory("no-process").toString)
    Chunker.deliver(Seq("id,text\n1,a\n", "id,text\n2,b\n"), lake.landing("reviews"), bufferBytes = 12)
    val table = s"${lake.root}/table"
    spark.range(1).count() // the session's own start-up is not under test
    val out = Files.createTempFile("no-process", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.setDestination(out)
    rec.start()
    try {
      Versioned.commit(spark, table, spark.range(3).toDF("id"))
      Versioned.append(spark, table, spark.range(3, 5).toDF("id"))
      FsLock.withLock(spark, table, "no-process") {
        assert(Versioned.read(spark, table).count() == 5)
      }
      LandingStream.start(spark, lake, "reviews").awaitTermination()
    } finally {
      rec.stop()
      rec.close()
    }
    assert(Versioned.read(spark, lake.bronze("reviews")).count() == 2)
    // each counted start as its command and the first graft frame that
    // led to it
    val starts = RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => (e.getString("command"), e.getStackTrace.getFrames.asScala.map(_.getMethod)))
      .filter { case (_, frames) => frames.exists(m => Counted.exists(m.getType.getName.startsWith)) }
      .map { case (command, frames) =>
        val caller = frames.find(_.getType.getName.startsWith("graft."))
          .fold("?")(m => s"${m.getType.getName}.${m.getName}")
        s"${Option(command).fold("")(_.split(' ').head)} from $caller"
      }
    if (starts.nonEmpty) fail(s"${starts.size} process starts: " +
      starts.groupBy(identity).toSeq.sortBy(-_._2.size).map { case (s, n) => s"$s ×${n.size}" }.mkString(", "))
  }
}
