package graft.medallion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The schema-evolution rule of every evolving [[Versioned]] root — the
  * plain-parquet slice of the reference's Iceberg behavior
  * (`flows_iceberg/bronze_iceberg.py:40-41` creates tables from each
  * batch's evolving Arrow schema; Iceberg then add-columns / promotes
  * types on write and keeps prior snapshots readable).
  *
  * An evolving write is a plain [[Versioned.append]]: it checks the
  * batch's schema against the pointer's with [[reconcile]], writes the
  * batch as a new segment at the batch's own schema, and publishes the
  * reconciled schema. Semantics:
  *
  *  - '''Add column''': metadata-only. Rows in earlier segments read
  *    NULL for the new column — Iceberg's add-column read behavior, no
  *    rewrite.
  *  - '''Type widening''' (int→long, float→double — Iceberg's safe
  *    promotions): metadata-only too. Earlier segments keep their
  *    narrower files; the parquet reader widens them under the
  *    pointer's schema.
  *  - '''Anything else''' (narrowing, string↔numeric, nested) throws
  *    before anything is written — silent coercion is how lakes
  *    corrupt; the caller decides.
  *  - '''Old snapshots stay readable''': [[Versioned]] version dirs are
  *    immutable; a pre-evolution segment keeps its original schema.
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

  /** Footer-merging parquet read for heterogeneous-schema dirs. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
