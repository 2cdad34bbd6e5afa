package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Layer attribution for traced runs.
  *
  * A span is one timed call of a program layer (`bronze`, `gold`, a
  * query group, …). Entering a span sets the Spark local property
  * [[SpanProp]] on the calling thread; threads started inside it (the
  * streaming execution threads) inherit it. The [[Jobs]] listener maps
  * each job's stages to the span named in its properties and sums task
  * metrics per span name; the [[Batches]] listener does the same for
  * streaming progress. Spans are kept in memory and written out once at
  * the end of the run.
  *
  * With tracing off, [[span]] only runs its body: no property, no
  * listener, no record.
  */
final class Probe(spark: SparkSession, val enabled: Boolean) {
  import Probe._

  final case class Span(id: Long, name: String, parent: Long, runId: String,
                        startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val stats = new ConcurrentHashMap[String, Stats]()
  private def statsOf(name: String) = stats.computeIfAbsent(name, _ => new Stats)
  private val listenerNs = new LongAdder

  private val jobs = new Jobs
  private val batches = new Batches
  if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(batches)
  }

  def span[T](name: String, runId: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      sc.setLocalProperty(SpanProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, prev)
        stack.set(parents)
        spans.synchronized(spans += Span(id, name, parents.headOption.getOrElse(0L), runId, t0, t1))
      }
    }

  /** Forget everything recorded so far (set-up work is not measured). */
  def reset(): Unit = {
    drain()
    spans.synchronized(spans.clear())
    stats.clear()
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def recorded: Seq[Span] = spans.synchronized(spans.toList)
  def statsFor(name: String): Stats = stats.getOrDefault(name, new Stats)
  def listenerSeconds: Double = listenerNs.sum() / 1e9

  /** Wall seconds per span name, summed over all its spans. */
  def wallByName: Map[String, Double] =
    recorded.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum }

  /** Self time per span name: wall minus the wall of direct children. */
  def selfByName: Map[String, Double] = {
    val all = recorded
    val childWall = all.groupBy(_.parent).map { case (p, ss) => p -> ss.map(s => s.endNs - s.startNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childWall.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  private class Jobs extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, String]()
    private def timed(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f; listenerNs.add(System.nanoTime() - t0)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val name = Option(e.properties).map(_.getProperty(SpanProp)).orNull
      if (name != null) {
        statsOf(name).jobs.increment()
        e.stageIds.foreach(stageSpan.put(_, name))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val name = Option(e.properties).map(_.getProperty(SpanProp)).orNull
      if (name != null) stageSpan.put(e.stageInfo.stageId, name)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val name = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (name != null && m != null) {
        val s = statsOf(name)
        s.tasks.increment()
        s.runMs.add(m.executorRunTime)
        s.cpuNs.add(m.executorCpuTime)
        s.gcMs.add(m.jvmGCTime)
        s.inputBytes.add(m.inputMetrics.bytesRead)
        s.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private class Batches extends StreamingQueryListener {
    private val querySpan = new ConcurrentHashMap[java.util.UUID, String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val name = spark.sparkContext.getLocalProperty(SpanProp)
      if (name != null) querySpan.put(e.runId, name)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t0 = System.nanoTime()
      val name = querySpan.get(e.progress.runId)
      // AvailableNow reports one trailing no-data progress; count batches that ran
      if (name != null && e.progress.batchId >= 0 && e.progress.numInputRows > 0) {
        val s = statsOf(name)
        s.batches.increment()
        s.rows.add(e.progress.numInputRows)
      }
      listenerNs.add(System.nanoTime() - t0)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Probe {
  val SpanProp = "perfbench.span"

  final class Stats {
    val jobs, tasks, runMs, cpuNs, gcMs, inputBytes, shuffleBytes, spillBytes,
        batches, rows = new LongAdder
  }
}
