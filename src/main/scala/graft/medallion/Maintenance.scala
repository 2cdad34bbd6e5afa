package graft.medallion

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** Lake-maintenance operators: small-file compaction and keyed upsert
  * over plain-parquet tables. Both rewrite through a staging directory
  * and swap via FS rename. The swap is NOT atomic on directory
  * filesystems: there is a brief window where the target path is
  * absent (concurrent readers should retry; a table format like
  * Iceberg supplies true atomic commits and nothing here precludes
  * swapping one in). Every rename result is checked and the backup is
  * restored on failure — the old table is never lost.
  *
  * Writer concurrency: the plain-dir operators here and
  * [[graft.streaming.LandingStream.finalizeBronze]] all take the
  * table's [[graft.core.FsLock]] writer lock — a finalize appending
  * between compact's read and swap would otherwise be silently lost;
  * under the lock the late writer gets a loud `LockHeld` and retries.
  * The `*Versioned` variants below don't need it: [[Versioned.commit]]
  * already serializes publication through claim markers + the atomic
  * pointer flip.
  */
object Maintenance {

  private def fs(spark: SparkSession, p: HPath): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new HPath(dir)
    val f = fs(spark, p)
    // recursive: partitioned layouts keep their data in subdirs
    if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
  }

  private def isPartitioned(spark: SparkSession, dir: String): Boolean = {
    val p = new HPath(dir)
    val f = fs(spark, p)
    f.exists(p) && f.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.contains("="))
  }

  private def swapIn(spark: SparkSession, staging: String, target: String): Unit = {
    val f = fs(spark, new HPath(target))
    swapSteps(f.rename, p => f.exists(p), p => f.delete(p, true), staging, target)
  }

  /** Replace `target` with the contents of `staging` via the checked
    * rename protocol (backup aside, move in, restore on failure). For
    * callers outside this package that need a directory swap — e.g. a
    * full-rewrite fallback; NOT atomic (see class doc / [[Versioned]]).
    */
  def replaceDir(spark: SparkSession, staging: String, target: String): Unit =
    swapIn(spark, staging, target)

  /** Recover from a swap that died mid-protocol. Two leftovers are
    * possible: target ABSENT with the table at `<target>_old` (died
    * between the two renames) → restore it; target present WITH a stale
    * `<target>_old` (died before the final backup delete) → drop the
    * stale copy. Every swap-based operator calls this first, so a
    * rerun after a crash heals instead of failing on a missing table
    * (or, worse, treating it as fresh). Returns true if a restore
    * happened.
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

  /** The rename protocol behind [[swapIn]], with the FS primitives
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

  /** Rewrite `dir` into ≈`targetFileBytes` files. Streaming appends and
    * micro-batch sinks accrete small files; scan cost is dominated by
    * file count long before data volume. Returns the new file count.
    */
  def compact(
      spark: SparkSession, dir: String, targetFileBytes: Long,
      lockStaleMs: Long = graft.core.FsLock.DefaultStaleMs): Int =
    // writer lock: compact's read-then-swap would silently drop rows a
    // concurrent writer (e.g. LandingStream.finalizeBronze) appends
    // between its scan and its swap — mutual exclusion makes that race
    // a loud FsLock.LockHeld instead of lost data. Size lockStaleMs
    // above the slowest legitimate compaction of this table.
    graft.core.FsLock.withLock(spark, dir,
      s"compact-${ProcessHandle.current().pid()}", lockStaleMs) {
      healStranded(spark, dir)
      require(!isPartitioned(spark, dir),
        s"compact would flatten the partition layout of $dir; compact each partition dir instead")
      val parts = math.max(1,
        math.ceil(dirBytes(spark, dir).toDouble / targetFileBytes).toInt)
      val staging = dir + "_compacting"
      spark.read.parquet(dir).repartition(parts)
        .write.mode("overwrite").parquet(staging)
      swapIn(spark, staging, dir)
      val p = new HPath(dir)
      fs(spark, p).listStatus(p)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }

  /** Z-order-aware compaction: rewrite `dir` into `targetFiles` files
    * clustered on (dimA, dimB) via [[graft.sql.Layout.zorderWrite]],
    * under the same writer lock and atomic staging swap as [[compact]]
    * — the nightly OPTIMIZE job that fixes small files AND restores
    * multi-dimensional scan locality in one rewrite (appends both
    * accrete files and interleave the clustering; recompacting heals
    * both at once). Readers never see a partial table: the swap is the
    * same pointer-style rename `compact` uses.
    */
  def compactZordered(
      spark: SparkSession, dir: String, dimA: String, dimB: String,
      targetFiles: Int,
      lockStaleMs: Long = graft.core.FsLock.DefaultStaleMs): Int =
    graft.core.FsLock.withLock(spark, dir,
      s"compact-z-${ProcessHandle.current().pid()}", lockStaleMs) {
      healStranded(spark, dir)
      require(!isPartitioned(spark, dir),
        s"compactZordered would flatten the partition layout of $dir; " +
          "compact each partition dir instead")
      val staging = dir + "_compacting"
      graft.sql.Layout.zorderWrite(
        spark.read.parquet(dir), dimA, dimB, staging, targetFiles)
      swapIn(spark, staging, dir)
      val p = new HPath(dir)
      fs(spark, p).listStatus(p)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }

  /** Keyed upsert: rows in `updates` replace same-key rows in the
    * table; new keys append. One left-anti join (existing minus
    * updated keys) + union — the plain-parquet MERGE. Updates must be
    * key-unique.
    */
  def upsertByKey(
      spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String],
      lockStaleMs: Long = graft.core.FsLock.DefaultStaleMs): Unit =
    // same writer-lock rationale as [[compact]]: read-then-swap
    graft.core.FsLock.withLock(spark, dir,
      s"upsertByKey-${ProcessHandle.current().pid()}", lockStaleMs) {
      healStranded(spark, dir)
      val merged = mergeByKey(spark.read.parquet(dir), updates, keys)
      val staging = dir + "_upserting"
      merged.write.mode("overwrite").parquet(staging)
      swapIn(spark, staging, dir)
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

  // ===== Versioned-table variants: atomic publish, no absent window ======
  // The directory-swap forms above are for plain single-dir tables; on a
  // [[Versioned]] root the rewrite lands as a fresh immutable version and
  // the pointer flip makes it visible atomically — concurrent readers
  // resolve old or new, never neither, and in-flight scans of the
  // previous version finish against files GC keeps for one more commit.

  /** The file relation a [[Versioned.read]] frame scans: the active
    * version's listing, and its partition columns discovered from its
    * dirs. */
  private def relationOf(active: DataFrame): HadoopFsRelation =
    active.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get

  /** [[compact]] for a [[Versioned]] table root. A partitioned version
    * stays partitioned by the same columns, one file per partition dir.
    * Returns the new file count.
    */
  def compactVersioned(
      spark: SparkSession, root: String, targetFileBytes: Long,
      gcGraceMs: Long = Versioned.DefaultGcGraceMs): Int = {
    val active = Versioned.read(spark, root)
    val relation = relationOf(active)
    val partitions = relation.partitionSchema.fieldNames.toSeq
    val parts = math.max(1,
      math.ceil(relation.location.sizeInBytes.toDouble / targetFileBytes).toInt)
    val vDir = Versioned.commit(spark, root,
      active.repartition(parts, partitions.map(col): _*), gcGraceMs, partitions)
    val p = new HPath(vDir)
    val files = fs(spark, p).listFiles(p, true)
    var n = 0
    while (files.hasNext) if (files.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** [[upsertByKey]] for a [[Versioned]] table root; a partitioned
    * version stays partitioned by the same columns. */
  def upsertVersionedByKey(
      spark: SparkSession, root: String, updates: DataFrame,
      keys: Seq[String], gcGraceMs: Long = Versioned.DefaultGcGraceMs): Unit = {
    val active = Versioned.read(spark, root)
    Versioned.commit(spark, root, mergeByKey(active, updates, keys), gcGraceMs,
      relationOf(active).partitionSchema.fieldNames.toSeq)
    ()
  }
}
