package graft.medallion

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Lake-maintenance operators. The directory swap ([[replaceDir]],
  * [[healStranded]]) moves a staged dir onto a plain-parquet target via
  * FS rename. The swap is NOT atomic on directory filesystems: there is
  * a brief window where the target path is absent (concurrent readers
  * should retry; a table format like Iceberg supplies true atomic
  * commits). Every rename result is checked and the backup is restored
  * on failure — the old table is never lost.
  *
  * Compaction and keyed upsert run on [[Versioned]] roots only: the
  * rewrite lands as a fresh immutable version and the pointer flip makes
  * it visible atomically — concurrent readers resolve old or new, never
  * neither, and in-flight scans of the previous version finish against
  * files GC keeps for one more commit. [[Versioned.commit]] serializes
  * publication through claim markers + the atomic pointer flip, so they
  * take no writer lock.
  */
object Maintenance {

  private def fs(spark: SparkSession, p: HPath): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  /** Replace `target` with the contents of `staging` via the checked
    * rename protocol (backup aside, move in, restore on failure). For
    * callers outside this package that need a directory swap — e.g. a
    * full-rewrite fallback; NOT atomic (see class doc / [[Versioned]]).
    */
  def replaceDir(spark: SparkSession, staging: String, target: String): Unit = {
    val f = fs(spark, new HPath(target))
    swapSteps(f.rename, p => f.exists(p), p => f.delete(p, true), staging, target)
  }

  /** Recover from a swap that died mid-protocol. Two leftovers are
    * possible: target ABSENT with the table at `<target>_old` (died
    * between the two renames) → restore it; target present WITH a stale
    * `<target>_old` (died before the final backup delete) → drop the
    * stale copy. A writer that swaps a table calls this first
    * ([[graft.streaming.LandingStream.finalizeBronze]]), so a rerun
    * after a crash heals instead of failing on a missing table (or,
    * worse, treating it as fresh). Returns true if a restore happened.
    */
  def healStranded(spark: SparkSession, target: String): Boolean = {
    val t = new HPath(target)
    val f = fs(spark, t)
    val backup = new HPath(target + "_old")
    if (!f.exists(t) && f.exists(backup)) {
      if (!f.rename(backup, t))
        sys.error(s"heal aborted: could not restore stranded $backup to $target")
      true
    } else {
      if (f.exists(t) && f.exists(backup)) f.delete(backup, true)
      false
    }
  }

  /** The rename protocol behind [[replaceDir]], with the FS primitives
    * injectable so failure paths (renames returning false — S3A,
    * quota, cross-zone — rather than throwing) are testable. Every
    * rename result is checked, including the restore: on a double
    * failure the error says exactly where the data is instead of
    * claiming a restore that didn't happen.
    */
  private[medallion] def swapSteps(
      rename: (HPath, HPath) => Boolean,
      exists: HPath => Boolean,
      delete: HPath => Unit,
      staging: String, target: String): Unit = {
    val s = new HPath(staging)
    val t = new HPath(target)
    val backup = new HPath(target + "_old")
    if (exists(backup)) delete(backup)
    if (exists(t) && !rename(t, backup))
      sys.error(s"swap aborted: could not move $target aside (table untouched)")
    if (!rename(s, t)) {
      if (!exists(backup))
        sys.error(s"swap failed: could not move staging into $target " +
          s"(no previous table; staging left at $staging)")
      else if (rename(backup, t))
        sys.error(s"swap failed: could not move staging into $target (old table restored)")
      else
        sys.error(s"swap failed TWICE: staging could not move into $target and the " +
          s"backup could not be restored — $target is ABSENT; previous data is " +
          s"preserved at $backup, new data at $staging")
    }
    delete(backup)
  }

  private def mergeByKey(
      existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    // backtick-quoted resolution: a dotted column name otherwise parses
    // as struct-field access (graft.core.Cols)
    import graft.core.Cols.quoted
    val kept = existing.join(
      updates.select(keys.map(k => updates(quoted(k))): _*), keys, "left_anti")
    kept.unionByName(updates.select(existing.columns.toSeq.map(c => updates(quoted(c))): _*))
  }

  /** Rewrite a [[Versioned]] root's active version into
    * ≈`targetFileBytes` files. Streaming appends and micro-batch sinks
    * accrete small files; scan cost is dominated by file count long
    * before data volume. Returns the new file count.
    */
  def compactVersioned(
      spark: SparkSession, root: String, targetFileBytes: Long,
      gcGraceMs: Long = Versioned.DefaultGcGraceMs): Int = {
    val active = Versioned.read(spark, root)
    val bytes = active.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.sizeInBytes
    }.get
    val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val p = new HPath(Versioned.commit(spark, root, active.repartition(parts), gcGraceMs))
    fs(spark, p).listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Keyed upsert on a [[Versioned]] root: rows in `updates` replace
    * same-key rows in the table; new keys append. One left-anti join
    * (existing minus updated keys) + union — the plain-parquet MERGE.
    * Updates must be key-unique.
    */
  def upsertVersionedByKey(
      spark: SparkSession, root: String, updates: DataFrame,
      keys: Seq[String], gcGraceMs: Long = Versioned.DefaultGcGraceMs): Unit = {
    Versioned.commit(spark, root,
      mergeByKey(Versioned.read(spark, root), updates, keys), gcGraceMs)
    ()
  }
}
