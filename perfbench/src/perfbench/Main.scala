package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.core.Sessions
import Util._

/** One benchmark run in this JVM. `run.py` builds and launches it:
  *
  * {{{
  *   --workload medallion|query_mix
  *   --seed N --seconds S --trace 0|1
  *   --work DIR   scratch dir for this run (lakes, inputs, temp)
  *   --data DIR   parquet tables the query mix reads
  *   --fingerprints FILE   recorded query fingerprints
  *   --out FILE   where the full JSON record is written
  *   --record-fingerprints   write FILE from this build instead
  * }}}
  *
  * The record holds every end-to-end metric (`metrics`), every layer
  * metric (`layers`, meaningful in traced runs), the spans of a traced
  * run, the failures and the 1-minute loadavg before and after.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    def parse(a: List[String]): Map[String, String] = a match {
      case "--record-fingerprints" :: rest => parse(rest) + ("record-fingerprints" -> "1")
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k.drop(2) -> v)
      case Nil => Map.empty
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val args = parse(argv.toList)
    val record = args.contains("record-fingerprints")
    val workload = args.getOrElse("workload", "query_mix")
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Paths.get(args("out"))
    val fingerprints = Paths.get(args("fingerprints"))
    val loadBefore = loadAvg1m()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

    Files.createDirectories(work)
    val spark = Sessions.local("perfbench")
    // a per-run index store: every run pays its own index builds in set-up
    spark.conf.set(graft.core.Warehouse.ConfKey, work.resolve("warehouse").toString)
    val cores = spark.sparkContext.defaultParallelism
    val probe = new Probe(spark, trace)
    val ctx = Ctx(spark, probe, work, Paths.get(args("data")).toAbsolutePath, seed, seconds, cores)
    try {
      if (record) {
        Files.write(fingerprints, (Fingerprint.record(ctx, repeats = 2) + "\n").getBytes(UTF_8))
        return
      }
      val w: Workload = workload match {
        case "medallion" => new Medallion(ctx)
        case "query_mix" => new QueryMix(ctx, fingerprints)
        case other => sys.error(s"unknown workload $other")
      }
      w.setup()
      val setupS = System.currentTimeMillis() / 1e3 - jvmStart
      probe.reset()
      val o = w.measure()
      val metrics = o.endToEnd ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb())
      val spans = probe.recorded.map { s =>
        jobj(Seq("id" -> s.id.toString, "name" -> jstr(s.name), "parent" -> s.parent.toString,
          "run" -> jstr(s.runId), "start_s" -> jnum(s.startNs / 1e9), "end_s" -> jnum(s.endNs / 1e9)))
      }
      val rec = jobj(Seq(
        "workload" -> jstr(workload), "seed" -> seed.toString, "seconds" -> jnum(seconds),
        "trace" -> (if (trace) "1" else "0"), "cores" -> cores.toString,
        "correct" -> (o.tally.failed == 0).toString,
        "attempted" -> o.tally.attempted.toString, "failed" -> o.tally.failed.toString,
        "metrics" -> jobj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> jnum(v) }),
        "layers" -> jobj((o.layers ++ (if (trace) Map("trace.listener_s" -> probe.listenerSeconds) else Map.empty))
          .toSeq.sortBy(_._1).map { case (k, v) => k -> jnum(v) }),
        "loadavg_1m" -> jobj(Seq("before" -> jnum(loadBefore), "after" -> jnum(loadAvg1m()))),
        "failures" -> o.tally.failures.map(jstr).mkString("[", ", ", "]"),
        "detail" -> jobj(o.detail),
        "spans" -> spans.mkString("[", ",\n", "]")))
      Files.write(out, (rec + "\n").getBytes(UTF_8))
    } finally spark.stop()
  }
}
