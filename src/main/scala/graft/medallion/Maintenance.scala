package graft.medallion

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Lake maintenance on [[Versioned]] roots: the rewrite lands as a
  * fresh immutable version and the pointer flip makes it visible
  * atomically — concurrent readers resolve old or new, never neither,
  * and in-flight scans of the previous version finish against files GC
  * keeps for one more commit.
  */
object Maintenance {

  private def fs(spark: SparkSession, p: HPath): FileSystem =
    FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)

  /** Rewrite a [[Versioned]] root's active version, every segment, into
    * one segment of ≈`targetFileBytes` files. Streaming appends and
    * micro-batch sinks accrete segments and small files; scan cost is
    * dominated by file count long before data volume. Returns the new
    * file count.
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
}
