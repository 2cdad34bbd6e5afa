package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's canonical config.
  *
  * Mirrors the reference engine's semantics (see SURVEY.md §7.1 D5):
  * the reference (Polars non-strict casts, `flows/silver.py:86,93`) nulls
  * out bad casts instead of raising, so ANSI mode is off. Session TZ is
  * UTC for oracle parity. Shuffle partitions default to the local core
  * count (local[32] here) instead of Spark's 200 — on a real cluster this
  * is expected to be overridden to ~2-3× total cores; AQE coalescing
  * then right-sizes post-shuffle partitions at runtime.
  *
  * Local I/O forks no processes. Without `libhadoop`, Hadoop's local
  * filesystem starts a `chmod` process for every file it creates and
  * every directory it makes, and four `readlink` processes for every
  * `FileContext` rename: about 170 process starts per medallion
  * increment (task output files and their checksums, commit-protocol
  * dirs, claim markers, pointer flips, locks, streaming checkpoints).
  * With a 1.2 GB live heap on 4 vCPUs a create then costs 7-8 ms
  * instead of 0.2 ms, and a pointer flip about 30 ms. [[builder]]
  * therefore registers the `file:` scheme to
  * [[ForkFreeLocalFileSystem]] for the `FileSystem` API
  * (`fs.file.impl`) and to [[ForkFreeLocalFs]] for the `FileContext`
  * API (`fs.AbstractFileSystem.file.impl`, used by the pointer flip and
  * the streaming checkpoint manager): Hadoop's checksummed local
  * filesystems over a raw one that sets permissions and tells symlinks
  * apart in-process ([[ForkFreeRawLocalFileSystem]]). Other schemes are
  * untouched.
  *
  * Hazard: Hadoop's `FileSystem` cache is keyed on scheme, authority and
  * user, not on the configuration. A `file:` filesystem fetched from a
  * bare `Configuration` before the session is built is cached as
  * Hadoop's default class, and the session's lookups then return that
  * instance; build the session before touching the local filesystem
  * through Hadoop.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Per-process catalog warehouse, deleted at JVM exit: the in-memory
    * catalog dies with the process, so its storage must too (a
    * surviving dir would strand a managed table's files where the next
    * process's create of that table resurrects them as rows). Every
    * table the engine registers is external, so only namespace dirs
    * live here. NOT the [[Warehouse]] index store, which is
    * cross-process by design.
    */
  lazy val managedWarehouse: String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft-warehouse-p${ProcessHandle.current().pid()}"
    sys.addShutdownHook {
      LocalFs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
    dir
  }

  def builder(appName: String): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Join strategy (guide §3.1): let the planner pick shuffled-hash
      // over sort-merge when a side's per-partition build fits — the
      // engine's equi-joins key on md5-uniform hashes/ids where SMJ's
      // sort is pure overhead, and AQE additionally rewrites SMJ→SHJ at
      // runtime below the local-map threshold. Both knobs are
      // env-overridable for clusters where per-task execution memory is
      // tighter than local[32]'s (the SHJ build side must fit a task).
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_MAX",
          (64L * 1024 * 1024).toString))
      // TypedImperativeAggregates (topk_by, freq_tokens) run in
      // ObjectHashAggregate, which falls back to sort-based aggregation
      // past this many distinct keys per task — the default 128 would
      // force a per-partition sort for modest ANN query fan-outs. The
      // buffers are small by construction (O(k)/O(capacity) state), so
      // a few thousand in-memory keys is cheap.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Parquet TIMESTAMP(NANOS) (events.ts) is unreadable by default;
      // read as epoch-nanos LongType and convert explicitly in queries.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Catalog namespaces (bronze/silver/gold) live under a temp
      // warehouse; durable tables are external LOCATION-based, so
      // nothing of value is stored here. The dir is PER-PROCESS: the
      // in-memory catalog forgets managed tables at JVM exit, so a
      // shared warehouse path would strand their files where the next
      // process's create resurrects them as rows (the r18 advice
      // finding) — catalog and storage must share a lifetime, which is
      // also why a shutdown hook deletes the dir (see managedWarehouse).
      .config("spark.sql.warehouse.dir", managedWarehouse)
      .config("spark.ui.enabled", "false")
      // Long-running-driver hygiene (the r19 driver bench degraded
      // monotonically across 442 query executions at LOW host load —
      // a GC-bound JVM, not a host window). Even with the UI off, the
      // app/SQL status stores retain per-execution state IN HEAP —
      // including full physical-plan description strings, which for
      // the composed curation pipelines run to hundreds of KB each —
      // and the defaults keep 1000 executions / 1000 jobs / 100k
      // tasks. A bench or orchestration driver issuing hundreds of
      // actions accumulates GB of dead-weight heap. Nothing in the
      // engine reads the stores back, so retain the minimum.
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "5")
      // ContextCleaner frees shuffle files, broadcasts, and map-output
      // state only when the owning objects are GC'd; a large mostly-idle
      // heap can defer that for the whole process lifetime. The default
      // periodic nudge is 30 min — longer than a full bench. 2 min keeps
      // driver-side shuffle bookkeeping (MapOutputTracker entries) and
      // executor-side shuffle files bounded during query storms.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the engine's native expressions ride on every canonical session
    graft.functions.SimHash64.register(s)
    graft.functions.VectorOps.register(s)
    s
  }
}
