package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its probe, a private work dir,
  * the seed and the measuring budget.
  */
final case class Ctx(spark: SparkSession, probe: Probe, work: Path, data: Path,
                     seed: Long, seconds: Double, cores: Int)

/** Operation accounting shared by the workloads: one `attempted` per
  * operation, one `failed` (with its message) per exception, output-check
  * mismatch or reader miss.
  */
final class Tally {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def failed: Long = failures.size.toLong

  /** Record one operation; an exception counts as its failure. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }
  def fail(msg: String): Unit = failures.synchronized {
    failures += msg.take(300)
  }
  def check(what: String, got: Long, want: Long): Unit =
    if (got != want) fail(s"$what: $got rows, expected $want")
}

/** Result of one measured run; metric names match BENCHMARK.json. */
final case class Outcome(
    tally: Tally,
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    detail: Seq[(String, String)])

trait Workload {
  /** Inputs and one untimed warm pass; counted in `setup_s`. */
  def setup(): Unit
  /** Measure for the budget; the probe is reset just before. */
  def measure(): Outcome
}

object Workload {
  /** The per-span metrics every layer reports, averaged per operation.
    * Task metrics come from the spans named in `statsFrom` (default: the
    * span itself), for a span whose work runs in child spans.
    */
  def spanMetrics(ctx: Ctx, span: String, ops: Int, statsFrom: Seq[String] = Nil): Map[String, Double] = {
    val stats = (if (statsFrom.isEmpty) Seq(span) else statsFrom).map(ctx.probe.statsFor)
    def sum(f: Probe.Stats => java.util.concurrent.atomic.LongAdder) = stats.map(f(_).sum).sum.toDouble
    val wall = ctx.probe.wallByName.getOrElse(span, 0.0)
    val n = math.max(ops, 1).toDouble
    Map(
      s"$span.s" -> wall / n,
      s"$span.jobs" -> sum(_.jobs) / n,
      s"$span.tasks" -> sum(_.tasks) / n,
      s"$span.cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      s"$span.core_util" -> (if (wall > 0) sum(_.runMs) / 1e3 / (wall * ctx.cores) else 0.0),
      s"$span.shuffle_bytes" -> sum(_.shuffleBytes) / n,
      s"$span.spill_bytes" -> sum(_.spillBytes) / n,
      s"$span.gc_s" -> sum(_.gcMs) / 1e3 / n)
  }
}
