package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.medallion.{BronzeFlow, Chunker, Lake, Versioned}

/** End-to-end medallion ingestion as a driver-verifiable query: the
  * `nation` dim is round-tripped through messy CSV → chunked landing
  * (headers re-carried per chunk, `flows/landing.py:27-53`) → bronze
  * (infer + header normalize + full-row dedup, `flows/bronze.py:74-98`)
  * → silver-style header-row filter + typed casts
  * (`flows/silver.py:106-112`). The DuckDB oracle is the untouched
  * table, proving the whole chain is lossless.
  *
  * The CSV producer collects `nation` — safe at any scale: nation is a
  * fixed 25-row dim, and the producer models the reference's external
  * `csv/` folder (driver-side there too). Chunk/buffer sizes are set
  * small so multiple chunks land per object and embedded header lines
  * genuinely exercise dedup + the header-row filter.
  */
object MedallionRoundtrip {

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A per-process scratch root, `graft-<tag>-<pid>` under the temp dir:
    * emptied on each call and deleted at JVM exit (one hook per root),
    * so it stays one dir per live JVM and concurrent JVMs never wipe
    * each other's. Returns its path.
    */
  private[queries] def scratchRoot(tag: String): String = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-$tag-${ProcessHandle.current().pid()}")
    if (cleanupRegistered.add(root.toString))
      sys.addShutdownHook(graft.core.LocalFs.deleteRecursively(root))
    graft.core.LocalFs.deleteRecursively(root)
    root.toString
  }

  def q15MedallionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(s, dir, "nation")
    val rows = nation.select(
        col("n_nationkey").cast("string"),
        col("n_name"),
        col("n_regionkey").cast("string"))
      .collect() // 25-row fixed dim: the external CSV producer edge
      .map(r => s"${r.getString(0)},${r.getString(1)},${r.getString(2)}")

    // Messy header (exercises trim/lower/space→underscore) + a
    // duplicated data row (exercises bronze full-row dedup).
    val csv = ("  N NationKey ,N NAME,N RegionKey" +: (rows :+ rows.head))
      .mkString("", "\n", "\n")

    val lake = Lake(scratchRoot("q15-roundtrip"))
    // ~120-byte chunks, ~400-byte delivery buffer → several chunks per
    // landing object → embedded header lines in bronze input.
    Chunker.deliver(Chunker.split(csv, maxBytes = 120),
      lake.landing("nation"), bufferBytes = 400)
    val bronzePath = BronzeFlow.ingest(s, lake.landing("nation"), lake.bronze("nation"))

    s.read.parquet(bronzePath)
      .filter(!col("n_nationkey").cast("string").contains("NationKey"))
      .select(
        col("n_nationkey").cast("int"),
        col("n_name"),
        col("n_regionkey").cast("int"))
      .orderBy(col("n_nationkey"))
  }

  val q15Sql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1"

  // ===== q106 — JSONL format roundtrip ====================================

  /** JSON-lines as a lake format surface (q15's losslessness argument
    * at JSON grain): documents are written once as Spark JSONL
    * ([[graft.core.Warehouse]]-placed, build-once) and read back with
    * a DECLARED schema — no inference scan, the q61/S5 rule — and the
    * DuckDB oracle is the UNTOUCHED parquet table, so any escaping or
    * type loss anywhere in the write→read chain (newlines, quotes,
    * non-ASCII, 64-bit ids) fails the gate. JSONL is the interchange
    * format training-data pipelines actually emit; this pins the
    * engine's reader+writer as a faithful carrier for it.
    *
    * Scale shape: the write is one pass (amortized to zero by the
    * Warehouse marker); the read is a schema-declared scan — no
    * inference pass, splittable per file.
    */
  def q106JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "documents_jsonl", s"$dir/documents.parquet",
        params = "fmt=jsonl,v=1")) { d =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").json(d)
    }
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(s"$out/*.json")
      .select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val q106Sql: String =
    """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ===== q187 — ORC write/read roundtrip ==================================

  /** The ORC lake-format surface, mirroring q106's JSONL proof: the
    * documents table written once as ORC (Warehouse-cached,
    * fingerprint-keyed) and read back with a declared schema; the
    * oracle recomputes the same projection from the parquet source, so
    * a hash match proves the ORC write+read is LOSSLESS for every
    * column including the full text (compared via md5). ORC is the
    * one columnar format besides parquet that ships in the Spark
    * distribution — a real lake migration path.
    *
    * Scale shape: one write + one scan; the roundtrip inherits ORC's
    * predicate pushdown and column pruning like any other columnar
    * source.
    */
  def q187OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Warehouse.ensureBuilt(s,
      graft.core.Warehouse.derivedDir(s, "documents_orc", s"$dir/documents.parquet",
        params = "fmt=orc,v=1")) { d =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").orc(d)
    }
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .orc(out)
      .select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val q187Sql: String =
    """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ===== q203 — schema-evolving re-ingest over a versioned table ==========

  /** Schema evolution end-to-end as a driver-verifiable query (the
    * narrowable slice of the reference's Iceberg gap,
    * `flows_iceberg/bronze_iceberg.py:40-41`): the `region` dim is
    * ingested from CSV at schema v1 (key, name), then RE-ingested at
    * schema v2 with an added `r_note` column, each appended to one
    * [[graft.medallion.Versioned]] root by [[Versioned.append]], which
    * evolves the pointer's schema. The emitted table is the evolved
    * snapshot: v1 rows surface with NULL under the added column, v2
    * rows carry it — which the oracle states independently from the
    * untouched parquet dim. Old-snapshot readability and the
    * no-rewrite add-column property are spec-pinned
    * (SchemaEvolutionSpec, VersionedAppendSpec).
    *
    * region is a fixed 5-row dim, so the driver-side CSV producer is
    * safe at any scale (the q15 argument); each evolving append writes
    * its batch alone — nothing corpus-sized moves.
    */
  def q203SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(s, dir, "region")
    val rows = region.select(col("r_regionkey").cast("string"), col("r_name"))
      .collect() // fixed 5-row dim: the external CSV producer edge
      .map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1)
    val v1Csv = ("r_regionkey,r_name" +:
      rows.map { case (k, n) => s"$k,$n" }).mkString("", "\n", "\n")
    val v2Csv = ("r_regionkey,r_name,r_note" +:
      rows.map { case (k, n) => s"$k,$n,note-$k" }).mkString("", "\n", "\n")

    val tmp = scratchRoot("q203-evolution")
    def ingest(csv: String, tag: String): String = {
      Chunker.deliver(Chunker.split(csv), s"$tmp/$tag/landing", bufferBytes = 1 << 20)
      BronzeFlow.ingest(s, s"$tmp/$tag/landing", s"$tmp/$tag/bronze")
    }
    val root = s"$tmp/versioned/region"
    Versioned.append(s, root, s.read.parquet(ingest(v1Csv, "v1")))
    Versioned.append(s, root, s.read.parquet(ingest(v2Csv, "v2")))
    Versioned.read(s, root)
      .select(col("r_regionkey").cast("long").as("r_regionkey"),
        col("r_name"), col("r_note").cast("string").as("r_note"))
      .orderBy(col("r_regionkey").asc, col("r_note").asc_nulls_first)
  }

  val q203Sql: String =
    """WITH v AS (
      |  SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
      |    CAST(NULL AS VARCHAR) AS r_note
      |  FROM region
      |  UNION ALL
      |  SELECT CAST(r_regionkey AS BIGINT), r_name,
      |    'note-' || CAST(r_regionkey AS VARCHAR)
      |  FROM region)
      |SELECT r_regionkey, r_name, r_note FROM v
      |ORDER BY r_regionkey, r_note NULLS FIRST""".stripMargin

  // ===== q206 — schema evolution through the catalog ====================

  /** q203's evolving re-ingest read through the catalog: the v1 batch
    * and the v2 batch (which adds `r_note`) are [[Versioned.append]]ed
    * to a per-process scratch root, which
    * [[graft.sql.CatalogSurface.register]] registers as the external
    * table `evo_gate.region`; `spark.table` reads it back. v1 rows read
    * NULL from parquet files that never carried the column, which is
    * exactly what the oracle states. The no-rewrite property itself is
    * pinned in SchemaEvolutionSpec (the v1 files stay live); this query
    * pins the catalog's view of the evolved root to the external gate.
    */
  def q206SchemaEvolutionCatalog(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(s, dir, "region")
    val v1 = region.select(col("r_regionkey").cast("long").as("r_regionkey"),
      col("r_name"))
    val v2 = region.select(col("r_regionkey").cast("long").as("r_regionkey"),
      col("r_name"),
      concat(lit("note-"), col("r_regionkey").cast("string")).as("r_note"))
    val root = s"${scratchRoot("q206-catalog")}/region"
    Versioned.append(s, root, v1)
    Versioned.append(s, root, v2)
    graft.sql.CatalogSurface.register(s, "evo_gate.region", root)
    s.table("evo_gate.region")
      .select(col("r_regionkey"), col("r_name"), col("r_note").cast("string"))
      .orderBy(col("r_regionkey").asc, col("r_note").asc_nulls_first)
  }

  // ===== q215 — type-widening evolution ===================================

  /** The widen face of schema evolution through the driver gate: the
    * v1 batch has an INT measure, the v2 batch the same column as LONG
    * (plus values past int range, so a silent narrow would corrupt).
    * Both are [[Versioned.append]]ed to a per-process scratch root: the
    * pointer's schema widens to LONG, the v1 segment keeps its INT
    * files, and the parquet reader widens them on read. The root is
    * registered as `evo_gate.widen_t`
    * ([[graft.sql.CatalogSurface.register]]) and read back with
    * `spark.table`. The oracle states the promoted union; the
    * no-silent-corruption property is the row `5000000000` surviving
    * intact.
    */
  def q215SchemaEvolutionWiden(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(s, dir, "region")
    val v1 = region.select(col("r_regionkey").cast("int").as("r_regionkey"),
      col("r_name"), (col("r_regionkey") * 10L).cast("int").as("pop"))
    val v2 = region.select((col("r_regionkey") + 100L).cast("long").as("r_regionkey"),
      col("r_name"), (col("r_regionkey") + lit(5000000000L)).as("pop"))
    val root = s"${scratchRoot("q215-widen")}/widen_t"
    Versioned.append(s, root, v1)
    Versioned.append(s, root, v2)
    graft.sql.CatalogSurface.register(s, "evo_gate.widen_t", root)
    s.table("evo_gate.widen_t")
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"),
        col("pop").cast("long").as("pop"))
      .orderBy(col("r_regionkey"))
  }

  val q215Sql: String =
    """WITH u AS (
      |  SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
      |    CAST(r_regionkey * 10 AS BIGINT) AS pop
      |  FROM region
      |  UNION ALL
      |  SELECT CAST(r_regionkey + 100 AS BIGINT), r_name,
      |    CAST(r_regionkey + 5000000000 AS BIGINT)
      |  FROM region)
      |SELECT r_regionkey, r_name, pop FROM u ORDER BY r_regionkey""".stripMargin

  // ===== q220 — STREAMING schema evolution (mid-stream producer change) ===

  /** The q203/q215 evolution story at STREAM grain
    * ([[graft.streaming.SchemaEvolveStream]]): a producer lands three
    * parquet batches — v1 (INT key), v1+column (r_note), then the key
    * WIDENED to BIGINT at +100 offset — and the file-grain stream
    * evolves its [[graft.medallion.Versioned]] bronze table with one
    * batch-keyed append per micro-batch, where a
    * declared-schema stream would have dropped the new column and a
    * static target would have refused the widen. Stream runs are
    * sequential AvailableNow passes over one checkpoint (arrival
    * order is the contract). The oracle states the evolved end state:
    * the union at the promoted type with v1 rows NULL under r_note.
    */
  def q220StreamingSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(s, dir, "region")
    val v1 = region.select(col("r_regionkey").cast("int").as("r_regionkey"),
      col("r_name"))
    val v2 = region.select(col("r_regionkey").cast("int").as("r_regionkey"),
      col("r_name"),
      concat(lit("note-"), col("r_regionkey").cast("string")).as("r_note"))
    val v3 = region.select((col("r_regionkey") + 100L).as("r_regionkey"),
      col("r_name"),
      concat(lit("wide-"), col("r_regionkey").cast("string")).as("r_note"))
    val tmp = scratchRoot("q220-evolve")
    val (in, table, cp) = (s"$tmp/in", s"$tmp/table", s"$tmp/cp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def land(df: DataFrame, tag: String): Unit = {
      df.coalesce(1).write.parquet(s"$in/$tag")
      graft.streaming.SchemaEvolveStream.start(s, s"$in/*", table, cp)
        .awaitTermination()
    }
    land(v1, "f1"); land(v2, "f2"); land(v3, "f3")
    graft.streaming.SchemaEvolveStream.read(s, table)
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"),
        col("r_note").cast("string"))
      .orderBy(col("r_regionkey").asc, col("r_note").asc_nulls_first)
  }

  val q220Sql: String =
    """WITH u AS (
      |  SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
      |    CAST(NULL AS VARCHAR) AS r_note
      |  FROM region
      |  UNION ALL
      |  SELECT CAST(r_regionkey AS BIGINT), r_name,
      |    'note-' || CAST(r_regionkey AS VARCHAR)
      |  FROM region
      |  UNION ALL
      |  SELECT CAST(r_regionkey + 100 AS BIGINT), r_name,
      |    'wide-' || CAST(r_regionkey AS VARCHAR)
      |  FROM region)
      |SELECT r_regionkey, r_name, r_note FROM u
      |ORDER BY r_regionkey, r_note NULLS FIRST""".stripMargin

  // ===== q216 — mergeSchema read over a heterogeneous landing dir =========

  /** The [[graft.medallion.SchemaEvolution.readMerged]] path through
    * the gate: an evolving producer wrote two parquet batches with
    * different schemas into ONE landing dir (v2 adds `r_note`); the
    * footer-merging read reconciles them — v1 rows NULL under the
    * added column — without any table or rewrite. The documented cost
    * (every footer read) is why this stays a landing/staging tool and
    * tables evolve via q203/q206/q215 instead.
    */
  def q216MergeSchemaRead(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(s, dir, "region")
    val out = scratchRoot("q216-merge")
    region.select(col("r_regionkey"), col("r_name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=0")
    region.select(col("r_regionkey"), col("r_name"),
        concat(lit("note-"), col("r_regionkey").cast("string")).as("r_note"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=1")
    graft.medallion.SchemaEvolution.readMerged(s, out)
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"),
        col("r_note").cast("string"))
      .orderBy(col("r_regionkey").asc, col("r_note").asc_nulls_first)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q15_medallion_roundtrip" -> (q15MedallionRoundtrip _),
    "q106_jsonl_roundtrip" -> (q106JsonlRoundtrip _),
    "q187_orc_roundtrip" -> (q187OrcRoundtrip _),
    "q203_schema_evolution" -> (q203SchemaEvolution _),
    "q206_schema_evolution_managed" -> (q206SchemaEvolutionCatalog _),
    "q215_schema_evolution_widen" -> (q215SchemaEvolutionWiden _),
    "q216_mergeschema_read" -> (q216MergeSchemaRead _),
    "q220_streaming_schema_evolution" -> (q220StreamingSchemaEvolution _))

  val oracleSql: Map[String, String] = Map(
    "q15_medallion_roundtrip" -> q15Sql,
    "q106_jsonl_roundtrip" -> q106Sql,
    "q187_orc_roundtrip" -> q187Sql,
    "q203_schema_evolution" -> q203Sql,
    // the same end state read through the catalog — one oracle serves both
    "q206_schema_evolution_managed" -> q203Sql,
    "q215_schema_evolution_widen" -> q215Sql,
    // q216's merged read reproduces q203's evolved end state (v1 rows
    // NULL under the added column) — the same oracle pins it
    "q216_mergeschema_read" -> q203Sql,
    "q220_streaming_schema_evolution" -> q220Sql)
}
