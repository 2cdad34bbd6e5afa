package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one publish path of the `foreachBatch` loops: how a loop starts
  * (every loop: [[LandingStream]], [[SchemaEvolveStream]],
  * [[AnnServeStream]]), and how a micro-batch's output is laid out and
  * becomes visible (the chain of [[SchemaEvolveStream]] and the log of
  * [[AnnServeStream]]; [[LandingStream]] appends each batch to a
  * [[graft.medallion.Versioned]] root instead).
  *
  * ==Replay contract==
  * Structured Streaming replays the latest uncommitted micro-batch after
  * a crash. Every per-batch output is an immutable directory under a
  * table root: a [[Partitions]] entry `batch_id=N` (read back by
  * partition discovery) or a [[Snapshots]] entry `snap_NNNNN` (one full
  * table version). A publish writes the rows into a hidden staging dir
  * under the root (a `.` name, which neither partition discovery nor
  * the entry listing sees) and moves it into place with one checked
  * rename onto the absent entry. So an entry that
  * exists is complete; a crash at any point, inside the write job
  * included, leaves readers exactly the entries published before it;
  * and a replay leaves an already-published entry in place. Each loop
  * guarantees that a replayed batch computes the same rows, so
  * skipping the rewrite loses nothing. A crashed attempt's staging dir
  * has a fixed name, so its replay overwrites it.
  *
  * A chain (version N is computed from the newest version below it)
  * keeps the trailing [[KeepSnapshots]] versions: only the latest
  * uncommitted batch can replay, and it reads the version just below
  * its own.
  */
object BatchSink {

  /** Trailing versions a chain keeps ([[Layout.advance]]). */
  val KeepSnapshots: Int = 4

  /** Run `apply` on every micro-batch of `source`, checkpointed at
    * `checkpointDir`, under `Trigger.AvailableNow`: everything pending
    * at start, then stop — batch-equivalent and replayable. Reader
    * options (schema, `maxFilesPerTrigger`, format) stay with the
    * caller's source.
    */
  def start(source: DataFrame, checkpointDir: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(apply)
      .start()

  /** One naming of published entries under a table root. */
  final class Layout private[BatchSink] (prefix: String, name: Long => String) {
    private val Entry = s"$prefix(\\d+)".r

    private def dir(root: String, n: Long): String = s"$root/${name(n)}"

    /** Entry `n`, if published. */
    private def find(spark: SparkSession, root: String, n: Long): Option[String] = {
      val p = new HPath(dir(root, n))
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        Some(p.toString)
      else None
    }

    /** Published entries as (n, dir), in numeric order: a name sort
      * misorders `snap_` once `%05d` overflows at 100000.
      */
    private def list(spark: SparkSession, root: String): Seq[(Long, String)] = {
      val p = new HPath(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap(s => s.getPath.getName match {
          case Entry(n) => Some(n.toLong -> s.getPath.toString)
          case _ => None
        })
        .sortBy(_._1)
    }

    /** The newest published entry at or below `n`. */
    def latest(spark: SparkSession, root: String,
        atOrBelow: Long = Long.MaxValue): Option[(Long, String)] =
      list(spark, root).takeWhile(_._1 <= atOrBelow).lastOption

    /** Publish `df` as entry `n` (class doc); a no-op if `n` is
      * already published.
      */
    def publish(df: DataFrame, root: String, n: Long): Unit = {
      val spark = df.sparkSession
      if (find(spark, root, n).nonEmpty) return
      val target = new HPath(dir(root, n))
      val staging = new HPath(target.getParent, s".${target.getName}.staging").toString
      df.write.mode("overwrite").parquet(staging)
      if (!target.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .rename(new HPath(staging), target))
        sys.error(s"could not publish $staging as $target")
    }

    /** Publish `df` as version `n` of a chain, then delete all but the
      * trailing [[KeepSnapshots]] versions.
      */
    def advance(df: DataFrame, root: String, n: Long): Unit = {
      publish(df, root, n)
      val p = new HPath(root)
      val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      list(df.sparkSession, root).dropRight(KeepSnapshots)
        .foreach { case (_, d) => fs.delete(new HPath(d), true) }
    }
  }

  /** Per-batch partitions, `batch_id=N`. */
  val Partitions: Layout = new Layout("batch_id=", n => s"batch_id=$n")

  /** Full table versions, `snap_NNNNN`. */
  val Snapshots: Layout = new Layout("snap_", n => f"snap_$n%05d")

  /** The newest published snapshot at or below `atOrBelow`. */
  def readSnapshot(spark: SparkSession, root: String,
      atOrBelow: Long = Long.MaxValue): DataFrame =
    Snapshots.latest(spark, root, atOrBelow) match {
      case Some((_, d)) => spark.read.parquet(d)
      case None => throw new java.io.FileNotFoundException(
        s"no published snapshot at or below $atOrBelow under $root")
    }
}
