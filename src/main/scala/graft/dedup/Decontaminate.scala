package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Span-grain decontamination — the surgical stage of the family (q39
  * flags docs, q65 bloom-prunes the flagging, THIS removes the
  * contaminated text itself): every training word covered by a w-word
  * window whose text occurs in the held-out set is cut, with NO
  * canonical exemption (eval text must not survive anywhere in
  * training). Shared verbatim by the batch gate (q89) and the
  * curation pipelines (q94, q150), so every stage that cuts spans
  * cuts them the same way.
  *
  * Scale shape: window generation is linear and shuffle-free; the flag
  * is ONE equi-join on the md5 window hash (held-out side aggregated
  * distinct first — no broadcast assumption, AQE broadcasts when it
  * fits); the rebuild is DOC-GRAIN — cut positions aggregate to one
  * set per contaminated doc and the kept text is a linear in-row pass
  * over the word array (array_except + element_at), so the corpus's
  * words never explode or shuffle. At 100 TB, pre-prune the training
  * window stream with the q65 bloom before the join — results
  * identical, the join then touches only survivors.
  */
object Decontaminate {

  val DefaultWindow = 8

  /** (dc_id, i, h): md5 of every w-word window, i = 0-based start. Docs
    * shorter than w yield no windows (nothing to match). h is the RAW
    * 16-byte digest (`unhex(md5(..))`), not the 32-char hex string —
    * the hash is internal (grouping/join key only, never output), and
    * the binary form shuffles and stores ~40% fewer bytes per window
    * row (guide §2.3 narrower types).
    */
  private[graft] def windowHashes(
      docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    docs.select(col(idCol).as("dc_id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("dc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - w)).as("i"))
      .select(col("dc_id"), col("i"),
        unhex(md5(array_join(slice(col("ws"), col("i") + 1, lit(w)), " "))).as("h"))

  /** The held-out side's distinct window hashes — the (persistable)
    * eval-gram set every training batch is cut against.
    */
  def evalGrams(
      heldOut: DataFrame, idCol: String, textCol: String,
      w: Int = DefaultWindow): DataFrame =
    windowHashes(heldOut, idCol, textCol, w).select(col("h")).distinct()

  /** Cut every word of `train` covered by a window in `grams` (an
    * [[evalGrams]] relation, fresh or read back from parquet). Output:
    * (idCol, words_total, words_cut, kept_text) — one row per input
    * doc, kept_text empty when everything was cut. Per-doc independent,
    * so any partitioning of `train` into batches cuts identically.
    */
  def cut(
      train: DataFrame, idCol: String, textCol: String, grams: DataFrame,
      w: Int = DefaultWindow): DataFrame = {
    val words = train.select(col(idCol).as("dc_id"), split(col(textCol), " ").as("ws"))
    // per-doc cut-position SET (collect_set owns the dedup the old
    // word-grain anti-join spelled as distinct): one hash aggregate
    // over covered positions of matching windows only — eval-hit
    // volume, not corpus volume
    val cutArr = windowHashes(train, idCol, textCol, w)
      .join(grams, Seq("h"))
      .select(col("dc_id"), explode(sequence(col("i"), col("i") + lit(w - 1))).as("p"))
      .groupBy(col("dc_id")).agg(collect_set(col("p")).as("ps"))
    // doc-grain rebuild (guide §8: decide on small rows, move big rows
    // once): the former rebuild posexploded EVERY word, anti-joined on
    // (doc, pos) — a corpus-wide shuffle — then re-collected and
    // re-sorted each doc. Here the word arrays never leave their rows:
    // kept positions = sequence(0, n-1) minus the cut set
    // (array_except preserves left order and builds an O(|ps|) hash
    // set per row), and element_at is O(1) per word — one linear pass
    // per doc, one doc-keyed join (broadcast-size when contamination
    // is sparse), no explode, no sort.
    words.join(cutArr, Seq("dc_id"), "left")
      .select(col("dc_id"), size(col("ws")).cast("long").as("words_total"),
        expr("transform(array_except(sequence(0, size(ws) - 1)," +
          " coalesce(ps, cast(array() as array<int>)))," +
          " p -> element_at(ws, p + 1))").as("kw"))
      .select(col("dc_id").as(idCol), col("words_total"),
        (col("words_total") - size(col("kw")).cast("long")).as("words_cut"),
        array_join(col("kw"), " ").as("kept_text"))
  }
}
