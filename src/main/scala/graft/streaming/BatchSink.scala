package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** How every `foreachBatch` loop starts ([[LandingStream]],
  * [[SchemaEvolveStream]], [[AnnServeStream]]). Each loop publishes its
  * micro-batches through [[graft.medallion.Versioned]], the one publish
  * protocol: the evolving table commits each batch and the serving log
  * appends it, both keyed by batch id, so a replayed batch publishes
  * nothing; bronze appends unkeyed, its anti-join making a replay empty.
  */
object BatchSink {

  /** Run `apply` on every micro-batch of `source`, checkpointed at
    * `checkpointDir`, under `Trigger.AvailableNow`: everything pending
    * at start, then stop — batch-equivalent and replayable. Reader
    * options (schema, `maxFilesPerTrigger`, format) stay with the
    * caller's source.
    */
  def start(source: DataFrame, checkpointDir: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(apply)
      .start()
}
