package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Schema evolution for catalog tables and [[Versioned]] snapshot
  * roots — the in-sandbox slice of the reference's Iceberg behavior
  * (`flows_iceberg/bronze_iceberg.py:40-41` creates tables from each
  * batch's evolving Arrow schema; Iceberg then add-columns / promotes
  * types on write and keeps prior snapshots readable).
  *
  * Semantics, mapped to what plain-parquet Spark can honor:
  *
  *  - '''Add column''': metadata-only. Managed tables get
  *    `ALTER TABLE … ADD COLUMNS`; rows in pre-existing parquet files
  *    read as NULL for the new column — exactly Iceberg's add-column
  *    read behavior, no rewrite.
  *  - '''Type widening''' (int→long, float→double — Iceberg's safe
  *    promotions): a [[Versioned]] root widens metadata-only per
  *    commit (each version is a full snapshot written at the
  *    reconciled schema); a managed catalog table CANNOT change a
  *    datasource column type in place, so the widen path REWRITES the
  *    table at the target schema — the honest plain-parquet cost,
  *    done loudly here rather than silently failing on append.
  *  - '''Anything else''' (narrowing, string↔numeric, nested) throws
  *    — silent coercion is how lakes corrupt; the caller decides.
  *  - '''Old snapshots stay readable''': [[Versioned]] version dirs are
  *    immutable; a pre-evolution version keeps its original schema and
  *    its in-flight readers (spec-pinned).
  *
  * Read path: [[readMerged]] is `mergeSchema` parquet — for layer dirs
  * where heterogeneous-schema part files coexist (e.g. a landing/
  * staging area fed by an evolving producer). Note the cost: schema
  * merge reads every file's footer; keep it off hot paths and evolve
  * the table instead.
  */
object SchemaEvolution {

  final class IncompatibleSchemaException(msg: String)
    extends IllegalArgumentException(msg)

  /** The tolerated promotions (Iceberg's safe set, spark-typed). */
  private def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case (ByteType | ShortType | IntegerType, LongType) => Some(LongType)
    case (LongType, ByteType | ShortType | IntegerType) => Some(LongType)
    case (ByteType, ShortType | IntegerType) => Some(b)
    case (ShortType | IntegerType, ByteType) => Some(a)
    case (ShortType, IntegerType) => Some(IntegerType)
    case (IntegerType, ShortType) => Some(IntegerType)
    case (FloatType, DoubleType) => Some(DoubleType)
    case (DoubleType, FloatType) => Some(DoubleType)
    case _ => None
  }

  /** Target schema for (current table, incoming batch): current columns
    * first (widened where the batch widens them), then the batch's new
    * columns in batch order. Column identity is case-insensitive name
    * match (Spark's resolution default); every evolved field is
    * nullable — old rows read NULL under an added column.
    */
  def reconcile(current: StructType, incoming: StructType): StructType = {
    val byName = incoming.fields.map(f => f.name.toLowerCase -> f).toMap
    val kept = current.fields.map { f =>
      byName.get(f.name.toLowerCase) match {
        case None => f.copy(nullable = true)
        case Some(in) =>
          widen(f.dataType, in.dataType) match {
            case Some(t) => StructField(f.name, t, nullable = true)
            case None => throw new IncompatibleSchemaException(
              s"column ${f.name}: cannot evolve ${f.dataType.simpleString} " +
                s"to ${in.dataType.simpleString} (only int→long / float→double " +
                "widening and added columns are schema evolution; anything " +
                "else needs an explicit migration)")
          }
      }
    }
    val currentNames = current.fields.map(_.name.toLowerCase).toSet
    val added = incoming.fields.filterNot(f => currentNames(f.name.toLowerCase))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    StructType(kept ++ added)
  }

  /** Project `df` onto `target`: missing columns become typed NULLs,
    * common columns cast to the target type, output in target order.
    * Pure column ops — map-side, no shuffle.
    */
  def align(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name.toLowerCase -> f.name).toMap
    df.select(target.fields.toSeq.map { f =>
      have.get(f.name.toLowerCase) match {
        case Some(actual) => col(actual).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** Evolving append to a managed catalog table (`ns.name`): creates
    * from the batch schema when absent (the Arrow-schema-on-write
    * behavior, S9); otherwise reconciles, ADD-COLUMNs new fields
    * (metadata-only), rewrites only if a type widened (see object doc),
    * then appends the aligned batch by name.
    */
  def appendEvolved(spark: SparkSession, table: String, df: DataFrame): Unit = {
    require(table.count(_ == '.') == 1 && !table.startsWith(".") && !table.endsWith("."),
      s"appendEvolved needs a qualified `namespace.table` name, got: $table")
    val ns = table.split('.').head
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $ns")
    if (!spark.catalog.tableExists(table)) {
      // the catalog owns managed-table lifecycle: if the catalog has no
      // such table but files survive at its default location (an
      // in-memory catalog from a previous session, a crashed DROP),
      // the create would land on a non-empty dir and resurrect stale
      // rows. Spark derives managed locations from the LOWERCASED
      // table name, so lowercase the segment (a mixed-case name must
      // not probe — let alone delete — a sibling path). And never
      // silently recursive-delete: the path may hold data the catalog
      // does not own (an external table registered elsewhere, another
      // session's catalog, user files under the db dir) — fail loudly
      // and let the owner clear it. An EMPTY leftover dir (a crashed
      // DROP that removed the files but not the dir) is harmless to
      // remove.
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(ns).locationUri),
        table.split('.')(1).toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        if (fs.listStatus(loc).nonEmpty)
          throw new IllegalStateException(
            s"appendEvolved($table): catalog has no such table but its default " +
              s"managed location $loc is non-empty — refusing to create over " +
              "existing data (stale files from a crashed DROP resurrect as rows; " +
              "data owned by someone else must not be destroyed). Inspect and " +
              "clear the directory, or DROP/repair the table that owns it.")
        fs.delete(loc, false)
      }
      df.write.saveAsTable(table)
      return
    }
    val current = spark.table(table).schema
    val target = reconcile(current, df.schema)
    val widened = current.fields.exists { f =>
      target.fields.find(_.name.equalsIgnoreCase(f.name))
        .exists(_.dataType != f.dataType)
    }
    if (widened) {
      // write-new-then-swap (the Versioned discipline), NOT
      // overwrite-saveAsTable: overwrite drops the original before its
      // replacement exists, so a crash mid-rewrite would lose the
      // table with the only other copy being a session-local
      // localCheckpoint that dies with the driver. Here BOTH full
      // copies exist on disk until the final DROP — a crash anywhere
      // leaves either the original intact (before the renames) or the
      // staging copy holding every row (between them; recover by
      // renaming). The rewrite is still O(table), the honest
      // plain-parquet price of a promote.
      val (staging, retired) = (s"${table}__widen_stage", s"${table}__widen_old")
      spark.sql(s"DROP TABLE IF EXISTS $staging")
      spark.sql(s"DROP TABLE IF EXISTS $retired")
      align(spark.table(table), target).write.saveAsTable(staging)
      spark.sql(s"ALTER TABLE $table RENAME TO $retired")
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      spark.sql(s"DROP TABLE $retired")
    } else {
      val currentNames = current.fields.map(_.name.toLowerCase).toSet
      val added = target.fields.filterNot(f => currentNames(f.name.toLowerCase))
      if (added.nonEmpty) {
        val cols = added
          .map(f => s"`${f.name}` ${f.dataType.simpleString}").mkString(", ")
        spark.sql(s"ALTER TABLE $table ADD COLUMNS ($cols)")
      }
    }
    align(df, target).write.mode("append").saveAsTable(table)
  }

  /** Evolving commit to a [[Versioned]] root: the new version is the
    * previous ACTIVE version's rows aligned to the reconciled schema
    * plus the aligned batch, or the batch alone on a root with no
    * version yet. The previous version dir is untouched — old readers
    * keep their schema and their files; widening is metadata-only here
    * because every version is a full snapshot. `batch` is a streaming
    * micro-batch id: at or below the active version's, the commit
    * publishes nothing ([[Versioned]]). Returns the new version dir.
    */
  def commitEvolved(
      spark: SparkSession, root: String, df: DataFrame,
      batch: Option[Long] = None): String = {
    val content =
      if (!Versioned.exists(spark, root)) df
      else {
        val old = Versioned.read(spark, root)
        val target = reconcile(old.schema, df.schema)
        align(old, target).unionByName(align(df, target))
      }
    Versioned.commit(spark, root, content, batch = batch)
  }

  /** Footer-merging parquet read for heterogeneous-schema dirs. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
