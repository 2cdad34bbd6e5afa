package graft.core

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** Filesystem-level single-writer mutex for parquet tables.
  *
  * A table without compare-and-set commits can silently lose one
  * writer's data when two writers change it concurrently (e.g. two
  * [[graft.medallion.Versioned.append]]s to one root, each publishing
  * the segments it read before the other's flip). This lock makes that
  * race a LOUD conflict instead: the lock file `<resource>.__lock` is
  * created atomically (create-no-overwrite), a second writer gets
  * [[FsLock.LockHeld]], and the holder deletes the file when done.
  *
  * Crash recovery: a writer that dies leaves its lock behind, so a lock
  * older than `staleMs` is broken (deleted and re-acquired) — pick
  * `staleMs` longer than any legitimate mutation. Two breakers can race
  * the re-acquire; create-no-overwrite arbitrates and the loser throws.
  *
  * Scope and limits: mutual exclusion is between WRITERS of one
  * resource path — readers never check the lock (reads stay lock-free;
  * [[graft.medallion.Versioned]] is the reader-consistency story).
  * Atomic create-no-overwrite holds on HDFS and local filesystems; on
  * object stores without atomic create (plain S3) this degrades to
  * best-effort, the same caveat as every file-based lock.
  */
object FsLock {

  final case class LockHeld(resource: String, owner: String, ageMs: Long)
    extends RuntimeException(
      s"writer lock on $resource is held by '$owner' (age ${ageMs} ms); " +
        "concurrent table mutation would lose data — retry after the holder finishes")

  /** Default stale-lock horizon: generous enough for any legitimate
    * single-table mutation, short enough that a crashed writer doesn't
    * wedge the table for long.
    */
  val DefaultStaleMs: Long = 30L * 60 * 1000

  private def lockPath(resource: String) = new HPath(resource + ".__lock")

  private def fs(spark: SparkSession, p: HPath): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  /** Acquire the writer lock on `resource`, breaking a stale one.
    * Throws [[LockHeld]] if a live writer holds it.
    */
  def acquire(
      spark: SparkSession, resource: String, owner: String,
      staleMs: Long = DefaultStaleMs): Unit = {
    val p = lockPath(resource)
    val f = fs(spark, p)
    val parent = p.getParent
    if (parent != null && !f.exists(parent)) f.mkdirs(parent)
    def tryCreate(): Boolean =
      try {
        val out = f.create(p, false)
        try out.write(owner.getBytes(StandardCharsets.UTF_8)) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val (holder, ageMs) =
        try {
          val st = f.getFileStatus(p)
          val in = f.open(p)
          val o = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          (o, System.currentTimeMillis() - st.getModificationTime)
        } catch {
          // the holder released between our create and this read — the
          // retry below arbitrates
          case _: java.io.IOException => ("<released>", 0L)
        }
      if (ageMs > staleMs) {
        // break the dead writer's lock EXCLUSIVELY: rename-away wins
        // exactly once, so two concurrent breakers can't each delete a
        // rival's freshly-created lock (a bare delete here would let
        // breaker A remove the lock breaker B just acquired)
        val tomb = new HPath(
          s"$resource.__lock.broken.${System.nanoTime()}.${ProcessHandle.current().pid()}")
        if (f.rename(p, tomb)) f.delete(tomb, false)
      }
      // one retry covers both the stale-break and the released-just-now
      // window; losing the re-acquire race means a LIVE writer got in
      if (!tryCreate()) throw LockHeld(resource, holder, ageMs)
    }
  }

  /** Release the lock. Idempotent — releasing an unheld lock is a
    * no-op. Pass the acquiring `owner` to make the release
    * ownership-checked: if a breaker superseded this writer (its stale
    * horizon elapsed) the successor's lock is left alone instead of
    * being deleted out from under it.
    */
  def release(spark: SparkSession, resource: String, owner: String = null): Unit = {
    val p = lockPath(resource)
    val f = fs(spark, p)
    if (owner != null) {
      val current =
        try {
          val in = f.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        } catch { case _: java.io.IOException => null }
      if (current != null && current != owner) return // superseded: not ours anymore
    }
    f.delete(p, false)
    ()
  }

  /** Run `body` holding the writer lock on `resource`. `staleMs` must
    * exceed the longest legitimate `body` runtime — a slower body gets
    * its lock broken mid-flight by the next writer.
    */
  def withLock[T](
      spark: SparkSession, resource: String, owner: String,
      staleMs: Long = DefaultStaleMs)(body: => T): T = {
    acquire(spark, resource, owner, staleMs)
    try body finally release(spark, resource, owner)
  }
}
