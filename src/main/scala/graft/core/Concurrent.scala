package graft.core

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext

/** The engine's one concurrency policy: run independent driver-side
  * tasks — each one or more Spark actions — at the same time. Spark
  * runs several jobs at once inside one application; actions are
  * sequential only because a driver thread calls them one after
  * another, so a layer of independent tables (or modalities) otherwise
  * leaves the cores idle while each small job's tail drains.
  *
  * Worker threads are created by the calling thread at call time, so
  * Spark's inheritable local properties (the job group a caller cancels
  * by, a tracing span, the job description) reach every task's jobs.
  * Each task adds one job tag, unique to the call, in its own thread:
  * the caller's job group and tags stay as they were. The first failure
  * cancels the other tasks' Spark jobs by that tag (interrupting their
  * running Spark tasks), waits until every task has stopped, so no
  * sibling job or write outlives the call, and rethrows.
  *
  * There is no transaction across the tasks: each one's effects are
  * its own, and a failure leaves what its siblings already finished.
  */
object Concurrent {

  /** Run every task at once; results in input order, with their keys.
    * One task (or none) runs on the calling thread. */
  def run[T](sc: SparkContext, tasks: Seq[(String, () => T)]): Seq[(String, T)] =
    if (tasks.size <= 1) tasks.map { case (k, task) => k -> task() }
    else {
      val tag = s"graft-concurrent-${java.util.UUID.randomUUID()}"
      // named daemon threads: identifiable in dumps, never block JVM exit
      val tf = new ThreadFactory {
        private val n = new AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-concurrent-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      }
      val pool = Executors.newFixedThreadPool(tasks.size, tf)
      try {
        val done = new ExecutorCompletionService[T](pool)
        val futs = tasks.map { case (_, task) =>
          done.submit(new Callable[T] {
            override def call(): T = {
              sc.addJobTag(tag)
              sc.setInterruptOnCancel(true)
              task()
            }
          })
        }
        // wait in completion order, so a failure is seen when it
        // happens, not after the tasks listed before it have finished
        try tasks.foreach(_ => done.take().get())
        catch {
          case e: Throwable =>
            // no thread interrupt: a driver thread interrupted while it
            // waits on a job leaves that job running. Each sibling waits
            // for its cancelled job to end and fails with it; one that
            // starts a job after a cancel meets the next one
            pool.shutdown()
            do sc.cancelJobsWithTag(tag)
            while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
            throw (e match { case ee: ExecutionException => ee.getCause; case _ => e })
        }
        tasks.map(_._1).zip(futs.map(_.get()))
      } finally pool.shutdownNow()
    }
}
