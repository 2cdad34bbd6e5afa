package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) history maintenance without a
  * table format: versioned (key, attr, valid_from, valid_to) rows where
  * `valid_to IS NULL` marks the open version — the MERGE decomposition
  * every lakehouse format runs under the hood, exposed as a pure
  * DataFrame → DataFrame operator (oracled through q101,
  * [[graft.queries.AnalyticsOpsQueries.q101ScdMerge]]).
  *
  * Change semantics per key in a batch: an equal attribute value is a
  * recognized no-op (the open row keeps its original valid_from); a
  * differing value closes the open row at `version` and opens a new one;
  * an unseen key inserts an open row at `version`; keys absent from the
  * batch are untouched. Deletes are representable as a tombstone
  * attribute value chosen by the caller.
  *
  * Scale shape: history is dimension-sized (small against the facts —
  * the SCD premise), and a merge is ONE full-outer equi-join between
  * the OPEN slice and the batch plus a linear 3-branch union; closed
  * history never joins anything. No windows, no skew surface beyond
  * the key join.
  */
object Scd2 {

  private def openTo = lit(null).cast("int").as("valid_to")

  /** Bootstrap a history from a snapshot: every key's current value
    * opens at `version` (conventionally 1).
    */
  def init(snapshot: DataFrame, key: String, attr: String,
      version: Int = 1): DataFrame =
    snapshot.select(col(key), col(attr),
      lit(version).as("valid_from"), openTo)

  /** One MERGE of a change batch into the history, versioned at
    * `version` (strictly greater than every version already present).
    */
  def merge(history: DataFrame, changes: DataFrame, key: String, attr: String,
      version: Int): DataFrame = {
    val closedHistory = history.filter(col("valid_to").isNotNull)
      .select(col(key), col(attr), col("valid_from"), col("valid_to"))
    val open = history.filter(col("valid_to").isNull)
      .select(col(key), col(attr).as("old_attr"),
        col("valid_from").as("old_from"))
    val j = open.join(changes.select(col(key), col(attr).as("new_attr")),
      Seq(key), "full_outer")
    val unchanged = j
      .filter(col("old_attr").isNotNull &&
        (col("new_attr").isNull || col("new_attr") === col("old_attr")))
      .select(col(key), col("old_attr").as(attr),
        col("old_from").as("valid_from"), openTo)
    val closed = j
      .filter(col("old_attr").isNotNull && col("new_attr").isNotNull &&
        col("new_attr") =!= col("old_attr"))
      .select(col(key), col("old_attr").as(attr),
        col("old_from").as("valid_from"),
        lit(version).cast("int").as("valid_to"))
    val opened = j
      .filter(col("new_attr").isNotNull &&
        (col("old_attr").isNull || col("new_attr") =!= col("old_attr")))
      .select(col(key), col("new_attr").as(attr),
        lit(version).as("valid_from"), openTo)
    closedHistory.union(unchanged).union(closed).union(opened)
  }
}
