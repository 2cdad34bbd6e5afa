package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, round, sum, to_json, xxhash64}
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

import graft.SparkEntry
import Util._

/** `query_mix`: one closed-loop client running passes over a fixed set of
  * registered queries, grouped by the module doing their heavy work. The
  * seed rotates the order of every pass. Each query is timed in two
  * phases: build (`fn(spark, dir)` returns, eager materializations
  * included) and action (the `noop` write).
  */
final class QueryMix(ctx: Ctx, fingerprints: Path) extends Workload {
  import QueryMix._

  private val spark = ctx.spark
  private val probe = ctx.probe
  private val tally = new Tally
  private val dir = ctx.data.toString
  private val expected: Map[String, Fingerprint] = Fingerprint.load(fingerprints)
  private val order: IndexedSeq[(String, String)] =
    Groups.flatMap { case (g, qs) => qs.map(g -> _) }.toIndexedSeq

  /** One execution; returns (build_s, action_s) or None on failure. The
    * result is checked against its recorded fingerprint when `check`.
    */
  private def execute(group: String, name: String, runId: String, check: Boolean)
      : Option[(Double, Double)] =
    tally.op(name) {
      val fn = SparkEntry.queries(name)
      val (df, build, action) = probe.span(group, runId) {
        val t0 = nowS
        val df = probe.span(s"$group.build", runId)(fn(spark, dir))
        val t1 = nowS
        probe.span(s"$group.action", runId)(df.write.format("noop").mode("overwrite").save())
        (df, t1 - t0, nowS - t1)
      }
      if (check) probe.span("check", runId) {
        val got = Fingerprint.of(df)
        expected.get(name) match {
          case None => tally.fail(s"$name: no recorded fingerprint")
          case Some(want) if !want.matches(got) => tally.fail(s"$name: fingerprint $got, expected $want")
          case _ => ()
        }
      }
      // a query that persists and leaks its relation must not donate warm
      // blocks to the next one
      spark.catalog.clearCache()
      (build, action)
    }

  def setup(): Unit = {
    order.foreach { case (g, q) => execute(g, q, "warm", check = false) }
    require(tally.failed == 0, s"warm pass failed: ${tally.failures.mkString("; ")}")
    tally.attempted = 0
    graft.core.Warehouse.drainBuildEvents()
  }

  /** Passes until the budget is spent. Each query's latency is the
    * median of its passes; `op_s` is the geometric mean of those medians,
    * `cycle_s` their sum (a typical pass).
    */
  def measure(): Outcome = {
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val build, action = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val t0 = nowS
    var p = 0
    while (p == 0 || nowS - t0 < ctx.seconds) {
      val shift = ((ctx.seed + p * 7L) % order.size).toInt.abs
      var pass = 0.0
      (order.drop(shift) ++ order.take(shift)).foreach { case (g, q) =>
        execute(g, q, s"pass-$p/$q", check = true).foreach { case (b, a) =>
          lat.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += b + a
          pass += b + a
          build(g) += b; action(g) += a
        }
      }
      passes += pass
      p += 1
    }
    val builds = graft.core.Warehouse.drainBuildEvents().count(_._2)
    probe.drain()
    val perQuery = lat.map { case (q, xs) => q -> median(xs.toSeq) }
    val opS = if (perQuery.isEmpty) 0.0 else geomean(perQuery.values.toSeq)
    val layers = Groups.map(_._1).flatMap { g =>
      Workload.spanMetrics(ctx, g, p, Seq(s"$g.build", s"$g.action")) ++ Map(
        s"$g.build_s" -> build(g) / p,
        s"$g.action_s" -> action(g) / p,
        s"$g.build_jobs" -> probe.statsFor(s"$g.build").jobs.sum.toDouble / p)
    }.toMap ++ Map(
      "warehouse.builds_timed" -> builds.toDouble,
      "trace.op_s" -> opS)
    Outcome(tally,
      Map("op_s" -> opS, "cycle_s" -> perQuery.values.sum),
      layers,
      Seq("passes" -> p.toString, "pass_s" -> passes.map(jnum).mkString("[", ", ", "]"),
        "query_s" -> jobj(lat.toSeq.map { case (q, xs) => q -> xs.map(jnum).mkString("[", ", ", "]") })))
  }
}

object QueryMix {
  /** Query groups, named after the module doing the heavy work. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q150_full_curation"),
    "similarity" -> Seq("q88_hamming_ann_indexed"),
    "streaming" -> Seq("q220_streaming_schema_evolution"),
    "parity" -> Seq("q01_pricing_summary", "q13_header_normalize"),
    "relational" -> Seq("q45_asof_join"),
    "text" -> Seq("q16_text_stats"))
}

/** Row count plus an order-insensitive hash (wrapping sum of per-row
  * xxhash64, doubles rounded to 6 places). `hash = None` checks the count
  * only: the query was seen to vary between runs.
  */
final case class Fingerprint(rows: Long, hash: Option[Long]) {
  def matches(got: Fingerprint): Boolean = rows == got.rows && hash.forall(got.hash.contains)
  override def toString: String = s"rows=$rows hash=${hash.getOrElse("-")}"
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df(graft.core.Cols.quoted(f.name))
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    Fingerprint(r.getLong(0), Some(r.getLong(1)))
  }

  def load(p: Path): Map[String, Fingerprint] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    root.get("queries").fields().asScala.map { e =>
      val h = e.getValue.get("hash")
      e.getKey -> Fingerprint(e.getValue.get("rows").asLong(),
        if (h == null || h.isNull) None else Some(java.lang.Long.parseLong(h.asText())))
    }.toMap
  }

  /** Run every mix query `repeats` times and return its JSON entry;
    * the hash is dropped for a query whose hashes differ between runs.
    */
  def record(ctx: Ctx, repeats: Int): String = {
    val entries = QueryMix.Groups.flatMap(_._2).map { q =>
      val fps = (1 to repeats).map { _ =>
        val fp = of(SparkEntry.queries(q)(ctx.spark, ctx.data.toString))
        ctx.spark.catalog.clearCache()
        fp
      }
      val stable = fps.distinct.size == 1
      require(fps.map(_.rows).distinct.size == 1, s"$q: row count varies between runs: $fps")
      q -> jobj(Seq("rows" -> fps.head.rows.toString,
        "hash" -> (if (stable) jstr(fps.head.hash.get.toString) else "null")))
    }
    jobj(Seq("queries" -> jobj(entries)))
  }
}
