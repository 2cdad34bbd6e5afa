package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ZOrderKey

/** Multi-dimensional data layout: write a table Z-ordered on two
  * columns so scans filtering on EITHER column skip most files and
  * row groups via parquet min/max stats. Complements bucketing
  * (which co-locates joins) and partitioned writes (which prune on
  * the partition column only): Z-ordering prunes on BOTH clustered
  * columns without directory explosion — the right layout for a
  * 100 TB events table queried by user AND by time.
  */
object Layout {

  /** Write `df` Z-ordered on (dimA, dimB) into `numFiles` files.
    *
    * Each dimension is normalized to a bounded integer range,
    * interleaved by the codegen'd [[ZOrderKey]] expression, then
    * range-partitioned and sorted by the key — range partitioning
    * makes files contiguous Z-ranges (2-D blocks), so every file's
    * min/max footprint is narrow in BOTH dimensions.
    *
    * Normalization (`quantile` flag):
    *  - `false` (default): linear min/max scale to 32 bits — one
    *    cheap min/max aggregate. A heavily skewed dimension wastes
    *    key resolution (most mass lands on few key values), which
    *    degrades block balance, not correctness.
    *  - `true`: rank-like scaling via `approx_percentile` cut points
    *    (1024 buckets/dim, the q68 bucketing technique) — each bucket
    *    holds ~equal row mass regardless of the value distribution,
    *    so Z-blocks stay balanced under skew. Costs one sketch
    *    aggregate instead of min/max; bucket lookup is a codegen'd
    *    higher-order filter over the broadcast cut array.
    *
    * The helper columns never reach the written schema.
    */
  def zorderWrite(df: DataFrame, dimA: String, dimB: String,
      outDir: String, numFiles: Int, quantile: Boolean = false): Unit = {
    require(numFiles >= 1, s"numFiles=$numFiles must be >= 1")
    val internal = Seq("__z", "__lo_a", "__hi_a", "__lo_b", "__hi_b",
      "__qa", "__qb", "__x")
    val clash = df.columns.toSet.intersect(internal.toSet)
    require(clash.isEmpty, s"input columns collide with internal names: $clash")
    ZOrderKey.register(df.sparkSession)
    val keyed =
      if (quantile) {
        val probs = (1 until 1024).map(i => i / 1024.0)
          .mkString("array(", "D,", "D)")
        // dims are backtick-quoted — a raw splice would reject names
        // needing quoting (and, pre-fix, let a dim named like the old
        // SQL lambda variable shadow itself)
        def q(name: String) = "`" + name.replace("`", "``") + "`"
        // Cut arrays are collected (2 × ≤1023 numerics — a sketch
        // result, driver-sized by construction) and embedded as TYPED
        // LITERALS: they constant-fold into the codegen'd bucket
        // filter, where the former broadcast-crossJoin form carried
        // the arrays as join output attributes evaluated against
        // every row.
        val cutRow = df.agg(
          expr(s"approx_percentile(${q(dimA)}, $probs, 10000)").as("__qa"),
          expr(s"approx_percentile(${q(dimB)}, $probs, 10000)").as("__qb")).head()
        require(!cutRow.isNullAt(0) && !cutRow.isNullAt(1),
          s"quantile cuts are null — empty input or all-null $dimA/$dimB")
        def bucket(dim: String, i: Int) = {
          val cuts = array(cutRow.getSeq[Any](i).map(lit): _*)
          size(filter(cuts, x => expr(q(dim)) > x)).cast("long")
        }
        df.withColumn("__z",
          ZOrderKey.zorderKey(bucket(dimA, 0), bucket(dimB, 1)))
      } else {
        val bounds = df.agg(
          min(col(dimA)).as("__lo_a"), max(col(dimA)).as("__hi_a"),
          min(col(dimB)).as("__lo_b"), max(col(dimB)).as("__hi_b"))
        def scaled(c: String, lo: String, hi: String) = {
          val span = greatest(col(hi) - col(lo), lit(1L)).cast("double")
          (((col(c) - col(lo)).cast("double") / span) * 4294967295.0).cast("long")
        }
        df.crossJoin(broadcast(bounds))
          .withColumn("__z", ZOrderKey.zorderKey(
            scaled(dimA, "__lo_a", "__hi_a"), scaled(dimB, "__lo_b", "__hi_b")))
      }
    keyed
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop(internal: _*)
      .write.mode("overwrite").parquet(outDir)
  }
}
