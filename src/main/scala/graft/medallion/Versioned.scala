package graft.medallion

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Atomic-publish layout for plain-parquet tables — the manifest-pointer
  * idea table formats (Iceberg snapshot pointer, reference
  * `flows_iceberg/bronze_iceberg.py:40-44`) are built on, reduced to a
  * single pointer file:
  *
  * {{{
  *   <root>/v_000001/part-*.parquet     immutable version dirs
  *   <root>/v_000002/part-*.parquet
  *   <root>/.v_000002.claim             writer's claim marker
  *   <root>/_current                    names the active version
  * }}}
  *
  * `_current`'s first line names the active version's segments: one
  * or more version dirs, separated by spaces. [[commit]] publishes a
  * full version, one segment; [[append]] publishes the active segments
  * plus one new dir that holds only the appended rows, so no row lives
  * in two segments of one version. An append of no rows to a root that
  * already has a version, at its schema, publishes nothing: the rows
  * are counted inside the write's own job (an `Observation`, no extra
  * job), and the empty segment's dir and claim marker are removed, so
  * the pointer stays as it was. The first publish of an absent root
  * publishes even when empty, so the root gets its schema. The next
  * line holds the version's schema, as Spark schema JSON (every field
  * nullable, as a parquet read reports it), so [[read]] hands it to the
  * reader and skips the footer-inference job. A line tagged
  * `input-key ` holds the version's input key, when a [[commit]]ed
  * frame has one, and a line tagged `batch ` the id of the last
  * streaming micro-batch published to the root:
  *
  * {{{
  *   v_000002 v_000005                    segments, oldest first
  *   {"type":"struct","fields":[...]}
  *   input-key 3f9a...                     keyed commits only
  *   batch 7                               streaming sinks only
  * }}}
  *
  * Schema evolution is an append: the pointer's schema is the
  * [[SchemaEvolution.reconcile]] of the schemas its segments were
  * written with. An append whose frame adds a column, or widens int to
  * long or float to double, writes its segment at the frame's own schema
  * and publishes the reconciled one; earlier segments keep their files.
  * A read takes every segment at the pointer's schema, and the parquet
  * reader fills a column a segment lacks with nulls and widens a
  * narrower physical type, so no data file is rewritten (the reference's
  * Iceberg add-column and type promotion, metadata-only). An unsafe
  * change throws before anything is written.
  *
  * The chain stays bounded: an append that leaves more than
  * [[MaxSegments]] segments folds them into one
  * ([[Maintenance.compactVersioned]]), so a read's root list and each
  * publish's GC pass stay short.
  *
  * A pointer without a schema line (written by older code, which left
  * it out for partitioned versions) reads by inference; one without a
  * key line (an append, a non-keyed frame, or older code) never matches
  * a commit.
  *
  * Publish each micro-batch once: a streaming sink passes its batch id
  * to [[commit]] or [[append]]. A publish with batch N, when the active
  * version's batch is ≥ N, writes nothing — no claim marker, no version
  * dir, no GC pass. Structured Streaming replays only the latest batch
  * whose offset commit was lost, so a batch at or below the recorded
  * one is already published; the recorded id is all an idempotent sink
  * needs (Armbrust et al., SIGMOD 2018). A publish without a batch id
  * (a fold by [[Maintenance.compactVersioned]]) carries the active
  * version's batch line forward, so a replay after the fold is still a
  * no-op. A batch-keyed commit computes no input key: the batch id
  * already names its input.
  *
  * Publish only what changed: the input key is a SHA-256 digest of what
  * decides the committed rows — every file the frame's analyzed plan
  * reads (path, length, modification time, from the relation's own
  * file-index listing, so no file-system call per file), with each
  * relation's format, options and schemas; the plan in canonical form
  * and its output schema; the session settings that change its rows
  * (ANSI mode, time zone, the legacy, parquet and ignore-files read
  * switches). When the active version's key
  * equals the key of the frame being committed, [[commit]] writes
  * nothing — no claim marker, no version dir, no GC pass — and returns
  * the active version dir. A frame has no key, and always publishes,
  * when a leaf of its plan (subqueries included) is not a batch file
  * relation — local rows, `range`, a pinned or checkpointed RDD, a
  * streaming micro-batch — or when the plan holds code its text cannot
  * show or rows it cannot fix: a nondeterministic expression (`rand`,
  * `uuid`, ...), a current-time or current-session function, a
  * user-defined function, or a typed (closure) operator. The key rests
  * on files being replaced under new names or with a new length or
  * modification time, as Spark's own writers do.
  *
  * [[commit]] and [[append]] write a fresh version dir, then publish it
  * by renaming a temp pointer over `_current` with
  * `Options.Rename.OVERWRITE` via `FileContext` — atomic on HDFS and
  * local filesystems. A concurrent reader therefore resolves either the
  * previous or the new version, never an absent or half-written table;
  * a writer that dies before the rename leaves the previous version
  * active.
  *
  * Retention: each publish keeps every segment of the newly published
  * version and of the version that was active just before it (in-flight
  * readers of the previous version finish against immutable files).
  * Everything else — superseded versions, orphan dirs, and orphan claim
  * markers left by crashed committers — is garbage-collected, but only
  * `gcGraceMs` after a publish FIRST saw it superseded (a `.v_N.reap`
  * tombstone starts the clock; publishing clears it). Retention is
  * keyed on the pointer history, not directory count, so an orphan can
  * never evict the previously-active version, and the supersession-keyed
  * grace is what keeps a racing committer's just-claimed (still-writing)
  * or just-published version safe from another committer's GC
  * regardless of how long its write runs. `gcGraceMs = 0` reaps
  * immediately — single-writer-only.
  *
  * Concurrent writers: version numbers are allocated by atomically
  * creating a `.v_NNNNNN.claim` marker (create-no-overwrite), so two
  * writers can never write into the same version dir. The pointer flip
  * then serializes publication: last flip wins. Two [[commit]]s lose
  * nothing by it — both versions are fully written, so the loser's data
  * is superseded, never interleaved. An [[append]] racing another
  * publish on the same root CAN lose rows: its pointer lists the
  * segments it read before writing, so a version published in between
  * drops out of the chain (or the append's own segment does, if the
  * other flip lands last). Appends must therefore be serialized by
  * their caller — bronze's are, by the [[graft.core.FsLock]] that
  * [[graft.streaming.LandingStream.appendBatch]] holds for each
  * micro-batch; an evolving table's
  * ([[graft.streaming.SchemaEvolveStream.applyBatch]]) and a serving
  * log's ([[graft.streaming.AnnServeStream.serveBatch]]) are, by their
  * one stream, which runs one micro-batch at a time. Lock-free appends
  * would need a compare-and-set on the base version, which this layout
  * does not have.
  *
  * Different roots share nothing — no pointer, no lock, no version
  * numbers — so a layer publishes its independent tables concurrently
  * ([[graft.core.Concurrent]]). Each table stays atomic on its own;
  * there is no transaction across roots, so a failure leaves the tables
  * that already flipped at their new versions and the others at their
  * previous ones.
  */
object Versioned {

  private val Pointer = "_current"

  /** The tags of the pointer lines that hold the input key and the
    * batch id. */
  private val KeyTag = "input-key "
  private val BatchTag = "batch "

  /** A parsed `_current`: the active version's segment names, and the
    * schema, input key and batch id it was published with, where the
    * pointer records them. */
  private final case class Active(
      root: String, segments: Seq[String], schema: Option[StructType], key: Option[String],
      batch: Option[Long]) {
    def dirs: Seq[String] = segments.map(v => s"$root/$v")
  }

  /** Default GC grace: long enough for any realistic in-flight write or
    * read of a superseded version to finish.
    */
  val DefaultGcGraceMs: Long = 60L * 60 * 1000

  /** The longest segment chain [[append]] leaves: an append that makes
    * the chain longer folds it into one segment. */
  val MaxSegments = 32

  /** The file size a fold aims at: Spark's default read split
    * (`spark.sql.files.maxPartitionBytes`). */
  private val CompactFileBytes = 128L << 20

  private def fs(spark: SparkSession, p: HPath): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  /** Active version dir (absolute path) of a one-segment version.
    * Fails if never committed, and on a version with several segments
    * (an appended root), which only [[read]] reads whole.
    * Retries briefly on ANY transient read failure: a checksummed local
    * FS renames the pointer and its .crc sidecar in two steps (a read
    * between them throws ChecksumException), and the local
    * `FileContext` OVERWRITE rename is delete-then-rename (a read
    * between them throws FileNotFoundException) — on HDFS both are
    * atomic and the retries never fire. Under back-to-back commits a
    * single retry can land inside the NEXT commit's window, so the
    * budget is 10 attempts × 10 ms. A genuinely never-committed root
    * pays the full budget once, then surfaces the original
    * FileNotFoundException; [[commit]] checks that the pointer exists
    * first, so a first commit pays none of it.
    */
  def resolve(spark: SparkSession, root: String): String = current(spark, root).dirs match {
    case Seq(dir) => dir
    case dirs => throw new IllegalStateException(
      s"$root's active version has ${dirs.size} segments; read it with Versioned.read")
  }

  /** Read the active version, every segment: with the schema its
    * pointer records, or by inference from a pointer without a schema
    * line. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val active = current(spark, root)
    active.schema.fold(spark.read)(s => spark.read.schema(s)).parquet(active.dirs: _*)
  }

  /** The active version's segment dirs (absolute paths), oldest first. */
  def segments(spark: SparkSession, root: String): Seq[String] = current(spark, root).dirs

  /** True once `root` has a published version. */
  def exists(spark: SparkSession, root: String): Boolean = {
    val ptr = new HPath(s"$root/$Pointer")
    fs(spark, ptr).exists(ptr)
  }

  /** The parsed pointer; retried as [[resolve]] describes. */
  private def current(spark: SparkSession, root: String): Active = {
    val ptr = new HPath(s"$root/$Pointer")
    val f = fs(spark, ptr)
    def readOnce(): Active = {
      val in = f.open(ptr)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(_.trim).toList
      finally in.close()
      val segments = lines.headOption.toSeq.flatMap(_.split(' ')).filter(_.nonEmpty)
      require(segments.nonEmpty, s"$ptr is empty")
      val rest = lines.drop(1)
      def tagged(tag: String) = rest.find(_.startsWith(tag)).map(_.stripPrefix(tag))
      Active(root, segments,
        rest.find(_.startsWith("{")).map(DataType.fromJson(_).asInstanceOf[StructType]),
        tagged(KeyTag), tagged(BatchTag).map(_.toLong))
    }
    var attempt = 0
    while (true) {
      try return readOnce()
      catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= 10) throw e
          Thread.sleep(10)
      }
    }
    sys.error("unreachable")
  }

  /** `t` with every field, element and value nullable: the schema a
    * parquet read of data written at `t` reports. */
  private[graft] def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** True for an expression whose rows the plan's text does not fix:
    * nondeterministic, reading the clock or the session, or user code. */
  private def unfixed(e: Expression): Boolean = e match {
    case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime | _: LocalTimestamp |
        _: CurrentBatchTimestamp | _: CurrentUser | _: CurrentDatabase | _: CurrentCatalog |
        _: UserDefinedExpression => true
    case _ => !e.deterministic
  }

  /** The input key [[commit]] compares (see the class doc), or None
    * when the frame's rows are not fixed by its files and plan. */
  private def inputKey(df: DataFrame): Option[String] = {
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    val nodes = plan.collectWithSubqueries { case n => n }
    val opaque = nodes.exists {
      case _: ObjectProducer | _: ObjectConsumer | _: TypedFilter | _: AppendColumns => true
      case n => n.expressions.exists(_.exists(unfixed))
    }
    val leaves = nodes.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, false, _) => r.location match {
        case index: PartitioningAwareFileIndex => Some((r, index))
        case _ => None
      }
      case _: LeafNode => None
    }
    if (plan.isStreaming || opaque || leaves.exists(_.isEmpty)) return None
    val relations = leaves.flatten.map { case (r, index) =>
      (Seq(r.fileFormat.getClass.getName, r.dataSchema.json, r.partitionSchema.json,
        r.bucketSpec.toString) ++
        r.options.toSeq.map { case (k, v) => s"${k.toLowerCase(java.util.Locale.ROOT)}=$v" }.sorted ++
        index.allFiles().map(s => s"${s.getPath}\t${s.getLen}\t${s.getModificationTime}").sorted
      ).mkString("\n")
    }
    // expression strings truncate past maxToStringFields; the key must not
    val fullText = new SQLConf
    fullText.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
    val planText = SQLConf.withExistingConf(fullText)(
      plan.canonicalized.treeString(verbose = true, maxFields = Int.MaxValue))
    val settings = Seq(SQLConf.ANSI_ENABLED.key, SQLConf.SESSION_LOCAL_TIMEZONE.key)
      .map(k => k -> spark.conf.get(k)) ++
      spark.conf.getAll.toSeq.filter { case (k, _) =>
        Seq("spark.sql.legacy.", "spark.sql.parquet.", "spark.sql.files.ignore").exists(k.startsWith)
      }.sorted
    val text = (relations ++ Seq(planText, df.schema.json) ++
      settings.map { case (k, v) => s"$k=$v" }).mkString("\u0000")
    Some(MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString)
  }

  private def versionDirs(f: FileSystem, rootP: HPath): Seq[(Int, HPath)] =
    if (!f.exists(rootP)) Seq.empty
    else f.listStatus(rootP).toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.matches("v_\\d+") =>
        (s.getPath.getName.drop(2).toInt, s.getPath)
    }.sortBy(_._1)

  /** Atomically claim the next free version number ≥ the given floor.
    * Bounded: a persistent (non-already-exists) IO failure surfaces
    * after the attempt budget instead of spinning on rising numbers.
    */
  private def claimNext(f: FileSystem, root: String, floor: Int): String = {
    var lastErr: java.io.IOException = null
    var n = floor
    while (n < floor + 1000) {
      val name = f"v_$n%06d"
      try {
        f.create(new HPath(s"$root/.$name.claim"), false).close()
        return name
      } catch {
        case e: java.io.IOException => lastErr = e; n += 1 // claimed (or raced); try next
      }
    }
    throw new java.io.IOException(
      s"could not claim a version under $root after 1000 attempts", lastErr)
  }

  /** Write `df` as the next version and atomically publish it. Returns
    * the new version dir. Readers in flight keep their resolved dir;
    * new resolves see the new version the instant the pointer rename
    * lands. When the active version's input key equals `df`'s, or
    * `batch` is at or below the active version's (see the class doc),
    * nothing is written and the active version's newest segment dir is
    * returned.
    */
  def commit(
      spark: SparkSession, root: String, df: DataFrame,
      gcGraceMs: Long = DefaultGcGraceMs, batch: Option[Long] = None): String = {
    val active = activeOrNone(spark, root)
    lazy val key = if (batch.isDefined) None else inputKey(df)
    if (published(active, batch) || (key.isDefined && active.exists(_.key == key)))
      active.get.dirs.last
    else publish(spark, root, writeVersion(spark, root, df), df.schema, active, Nil, key, batch,
      gcGraceMs)
  }

  /** Append `df`'s rows to the active version: publish a version whose
    * segments are the active ones plus one new dir holding only `df`'s
    * rows, at `df`'s own schema, with no input key. The pointer records
    * the active schema reconciled with `df`'s
    * ([[SchemaEvolution.reconcile]]; an unsafe change throws
    * [[SchemaEvolution.IncompatibleSchemaException]] and writes
    * nothing). Returns the new segment's dir (after a fold, the folded
    * version's), or None when nothing is published: `batch` is at or
    * below the active version's (class doc), or `df` has no rows, the
    * root already has a version and the schema does not change (the
    * rows are counted inside the write's own job, and an empty segment
    * is removed unpublished). An append that leaves more than
    * [[MaxSegments]] segments folds the chain. Callers serialize
    * appends to one root (class doc).
    */
  def append(
      spark: SparkSession, root: String, df: DataFrame,
      batch: Option[Long] = None): Option[String] = {
    val active = activeOrNone(spark, root)
    if (published(active, batch)) return None
    val current = active.flatMap(_.schema)
    val incoming = nullable(df.schema).asInstanceOf[StructType]
    val schema = current.fold(incoming)(SchemaEvolution.reconcile(_, incoming))
    val rows = Observation()
    val vName = writeVersion(spark, root, df.observe(rows, count(lit(1)).as("rows")))
    if (active.isDefined && rows.get("rows") == 0L && current.forall(_ == schema)) {
      val f = fs(spark, new HPath(root))
      f.delete(new HPath(s"$root/$vName"), true)
      f.delete(new HPath(s"$root/.$vName.claim"), false)
      None
    } else {
      val base = active.fold(Seq.empty[String])(_.segments)
      val dir = publish(spark, root, vName, schema, active, base, None, batch, DefaultGcGraceMs)
      if (base.size < MaxSegments) Some(dir)
      else {
        Maintenance.compactVersioned(spark, root, CompactFileBytes)
        Some(resolve(spark, root))
      }
    }
  }

  /** True when the active version already holds micro-batch `batch`. */
  private def published(active: Option[Active], batch: Option[Long]): Boolean =
    batch.exists(n => active.exists(_.batch.exists(_ >= n)))

  /** The parsed pointer, or None before the first publish. A pointer
    * caught mid-rename reads as absent: a commit then publishes, which
    * is always safe (an append racing that rename is unsafe anyway,
    * class doc). */
  private def activeOrNone(spark: SparkSession, root: String): Option[Active] =
    try if (exists(spark, root)) Some(current(spark, root)) else None
    catch { case _: java.io.FileNotFoundException => None }

  /** Claim the next version of `root` and write `df` into its dir;
    * returns the version's name. */
  private def writeVersion(spark: SparkSession, root: String, df: DataFrame): String = {
    val rootP = new HPath(root)
    val f = fs(spark, rootP)
    if (!f.exists(rootP)) f.mkdirs(rootP)
    val floor = versionDirs(f, rootP).lastOption.fold(1)(_._1 + 1)
    val vName = claimNext(f, root, floor)
    df.write.mode("overwrite").parquet(s"$root/$vName")
    vName
  }

  /** Publish the written version `vName`, whose rows have `schema`, as a
    * new segment after `base` (Nil for a full version), then GC;
    * `active` is the pointer read before the write, whose batch id
    * carries forward when `batch` is None. Returns its dir.
    */
  private def publish(
      spark: SparkSession, root: String, vName: String, schema: StructType,
      active: Option[Active], base: Seq[String], key: Option[String], batch: Option[Long],
      gcGraceMs: Long): String = {
    val rootP = new HPath(root)
    val f = fs(spark, rootP)
    val ptr = new HPath(s"$root/$Pointer")

    // the version active until this instant stays retained for its
    // in-flight readers. ONLY a missing pointer means "first commit";
    // any other resolve failure aborts (a transient error must not be
    // mistaken for an empty history — GC would then delete the version
    // readers are on). A root with no pointer before the write pays no
    // retry budget for one that is still absent after it
    val prevActive: Seq[String] =
      if (active.isEmpty && !f.exists(ptr)) Nil
      else try current(spark, root).segments
      catch { case _: java.io.FileNotFoundException => Nil }

    // publish: write the pointer (the segments, the schema, the input
    // key and the batch id) beside _current, then atomic-overwrite
    // rename it into place (FileContext supports OVERWRITE; the plain
    // FileSystem.rename does not)
    val segments = base :+ vName
    val pointer = (Seq(segments.mkString(" "), nullable(schema).json) ++
      key.map(KeyTag + _) ++ batch.orElse(active.flatMap(_.batch)).map(BatchTag + _)).mkString("\n")
    val tmp = new HPath(s"$root/._current.tmp")
    val out = f.create(tmp, true)
    try out.write(pointer.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(rootP.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, ptr, Options.Rename.OVERWRITE)

    // GC everything outside {new, previously-active} segments, graced by
    // a REAP TOMBSTONE: the first publish that sees a version superseded
    // drops `.v_N.reap` beside it; only a publish running gcGraceMs
    // after that sighting deletes. Keying the clock on supersession time
    // (tombstone creation) rather than dir mtime matters — a dir's mtime
    // does not advance during a long in-flight parquet write (and is
    // synthetic on object stores), so an mtime-keyed grace would reap a
    // slow racing committer mid-write. A version that later publishes
    // clears its tombstone below.
    val keep = segments.toSet ++ prevActive
    val cutoff = System.currentTimeMillis() - gcGraceMs
    def reapTomb(v: String) = new HPath(s"$root/.$v.reap")
    keep.foreach(v => f.delete(reapTomb(v), false)) // published → not reapable
    val statuses = f.listStatus(rootP).toSeq
    statuses
      .filter(s => s.isDirectory && s.getPath.getName.matches("v_\\d+"))
      .filterNot(s => keep(s.getPath.getName))
      .foreach { s =>
        val v = s.getPath.getName
        val tomb = reapTomb(v)
        def reap(): Unit = {
          f.delete(s.getPath, true)
          f.delete(new HPath(s"$root/.$v.claim"), false)
          f.delete(tomb, false)
        }
        if (gcGraceMs <= 0) reap() // single-writer mode: no tombstone round-trip
        else if (!f.exists(tomb)) f.create(tomb, true).close() // start the clock
        else if (f.getFileStatus(tomb).getModificationTime <= cutoff) reap()
      }
    // orphan claims with no dir: claim mtime IS the right clock there
    // (the dir appears immediately after a live claim)
    statuses
      .filter(s => s.isFile && s.getPath.getName.matches("\\.v_\\d+\\.claim"))
      .filter(_.getModificationTime <= cutoff)
      .map(_.getPath.getName.stripPrefix(".").stripSuffix(".claim"))
      .filterNot(keep)
      .filterNot(v => f.exists(new HPath(s"$root/$v")))
      .foreach(v => f.delete(new HPath(s"$root/.$v.claim"), false))
    s"$root/$vName"
  }

  /** Publish `df` at `path`: a [[commit]] when `versioned`, else a plain
    * overwrite of the dir. Returns the dir that holds the rows. */
  private[medallion] def write(df: DataFrame, path: String, versioned: Boolean): String =
    if (versioned) commit(df.sparkSession, path, df)
    else {
      df.write.mode("overwrite").parquet(path)
      path
    }
}
