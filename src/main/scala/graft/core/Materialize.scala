package graft.core

import org.apache.spark.sql.DataFrame

/** The engine's one materialization policy. A shared intermediate is
  * either cut from its lineage ([[pin]]) or cached for the length of a
  * block ([[cached]]); every such site goes through here, so changing
  * how the engine materializes is a change to this file.
  *
  * [[pin]] is EAGER: it runs its input's job before returning, and
  * every later consumer reads the stored result instead of
  * re-evaluating the plan. Where the result lives is the deployment's
  * choice, made by the one Spark setting that expresses it:
  *
  *  - with a `SparkContext` checkpoint dir (`sc.setCheckpointDir`),
  *    a reliable checkpoint — files under that dir, which survive the
  *    loss of the executor that computed them (they are deleted under
  *    `spark.cleaner.referenceTracking.cleanCheckpoints`, or by
  *    clearing the dir). A dir is how a deployment asks for
  *    durability, so no site opts out: no result depends on
  *    executor-local blocks surviving;
  *  - without one, a local checkpoint — executor-local blocks, freed
  *    with the RDD by the ContextCleaner. An executor loss fails the
  *    query and the caller re-runs it; fine in local mode.
  *
  * [[cached]] is LAZY: a `persist()` at Spark's default level
  * (MEMORY_AND_DISK) that fills on the block's first evaluation — no
  * extra job — and is released in `finally`, so repeated calls in a
  * long-lived session never accumulate cache storage. Use it where
  * several consumers inside one block share a relation that is not
  * worth a job of its own; a cache that must outlive the block is not
  * a scoped cache and stays at its own site.
  */
object Materialize {

  /** Eagerly cut `df`'s lineage: evaluated once, here, and read back by
    * every consumer. Reliable under a checkpoint dir, local otherwise. */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Run `body` over a lazily persisted `df`, released when it returns
    * or throws. */
  def cached[T](df: DataFrame)(body: DataFrame => T): T =
    try body(df.persist()) finally df.unpersist()
}
