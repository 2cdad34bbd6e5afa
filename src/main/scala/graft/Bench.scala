package graft

import graft.core.Sessions

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A failed query reports an "errors" entry instead
  * of silently recording its wall time as a measurement.
  *
  * Each query is timed TWICE and the minimum is reported: a single-shot
  * measurement lets one background-load spike write a phantom 2-3×
  * regression into the round record (it did, in round 5 — q24–q28).
  * Min-of-2 is the standard noise floor estimator for wall-clock
  * benchmarks; the small second-run cache advantage (OS page cache on
  * the parquet) applies equally to every query, so relative ordering
  * is preserved.
  *
  * The two samples come from two SEPARATE full passes over the query
  * list (pass 1 runs every query once, then pass 2 repeats), NOT
  * back-to-back runs of the same query: with back-to-back sampling a
  * single sustained host-load window poisons BOTH samples of every
  * query it covers, and min-of-2 can't reject it — exactly the
  * contiguous both-runs inflation bands the round-16 (q56/q80) and
  * round-17 (q55/q58) driver benches recorded on line-identical code
  * that sat at profile in same-commit clean-window re-runs. With the
  * passes minutes apart, a host window has to span the entire bench
  * to inflate both samples of one query.
  *
  * Pass 2 walks the list in REVERSE name order. Round 18 exposed the
  * residual blind spot of time-separated passes that share an order:
  * a PERIODIC host window (same phase relative to each pass's start)
  * aliases onto the same lexicographic band twice, because the band
  * occupies the same *position in the pass* both times (q18/q184–q191
  * inflated 4–9× in both passes on plan-locked shapes). Reversing
  * pass 2 means query at position i runs at position n−1−i the second
  * time, so no contiguous band can sit under the same periodic window
  * in both passes. Each run also records the host's 1-minute loadavg
  * (read from /proc/loadavg immediately before the timed region) into
  * the "loadavg" artifact field, so future inflation adjudications are
  * data-backed instead of inferred.
  *
  * Round 19 exposed the OTHER inflation class: the driver bench's pass 2
  * ran 4× slower than pass 1 (q150: 4.8s → 233s) at LOW host loadavg —
  * a GC-bound driver JVM, not a host window. The bench now (a) clears
  * the relation cache after every run and forces a full collection at
  * the pass boundary, so pass 2 measures queries instead of pass-1
  * sediment; (b) records per-run stop-the-world GC seconds ("gc_sec")
  * and post-run heap-used ("heap_gb") next to loadavg, so the three
  * inflation classes — heap thrash (gc≈sec), host window (loadavg high,
  * gc≈0), plan regression (both quiet) — are distinguishable from the
  * artifact alone. The session itself trims status-store retention and
  * enables periodic cleaner GC (see [[graft.core.Sessions.builder]]).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Robustness against host degradation windows (round 11's driver
    // bench was killed by an external timeout after >26 min with zero
    // output, leaving an unparseable artifact): every query run is
    // announced on stderr (visible in a truncated log tail), a runaway
    // query is cancelled via its job group after QUERY_TIMEOUT, and
    // when the global DEADLINE passes the remaining queries are skipped
    // so the one-line JSON is ALWAYS emitted before any external kill.
    // Defaults sized against an external ~30 min kill: worst case is
    // deadline + one in-flight query timeout + sbt startup ≈ 28 min,
    // so the JSON line always beats the kill.
    val queryTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERY_TIMEOUT_SEC", "420").toLong
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1200").toLong
    val benchStartNs = System.nanoTime()
    def elapsedSec: Long = (System.nanoTime() - benchStartNs) / 1000000000L
    def progress(msg: String): Unit =
      System.err.println(f"[bench +${elapsedSec}%4ds] $msg")
    val spark = Sessions.local("graft-bench")

    // Untimed warmup: pay one-off JVM/codegen/scan-setup cost before
    // the measured loop so the alphabetically-first query doesn't
    // absorb it.
    progress(s"warmup scan on $sfDir")
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    progress("warmup done")

    // Optional args = subset of query names to time (iteration aid);
    // no args = the full registered set (the driver's mode). A typo'd
    // name must fail loudly — silently timing a smaller set would make
    // a regression look like a speedup.
    val unknown = args.toSeq.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown queries: ${unknown.mkString(", ")}\n" +
          s"registered: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val names =
      if (args.nonEmpty) args.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted
    var deadlineHit = false
    // Each run records its Warehouse.ensureBuilt outcomes (drained
    // around the timed region) so an indexed query's wall time is
    // attributable: did THIS run pay the one-off index build, or
    // only the steady-state probe?
    case class Run(sec: Double, err: Option[String], touched: Boolean, built: Boolean,
                   load: Double, gcSec: Double, heapGb: Double)
    // 1-minute loadavg sampled just before each timed run: a query whose
    // wall time is inflated by a host window carries the evidence in the
    // artifact (loadavg >> 32-thread steady state) instead of requiring a
    // post-hoc clean-window re-run to adjudicate.
    def loadAvg1m(): Double =
      try {
        val line = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")),
          java.nio.charset.StandardCharsets.UTF_8)
        line.trim.split("\\s+")(0).toDouble
      } catch { case _: Throwable => -1.0 }
    // Cumulative stop-the-world GC seconds across all collectors: the
    // delta over a timed run, recorded per run in the artifact, is the
    // direct adjudicator for the r19 pathology (pass 2 inflating 4-50×
    // at LOW host loadavg = a GC-bound JVM). An inflated sample with a
    // matching gc delta is a heap problem; without one, a host window
    // or a plan problem.
    import scala.jdk.CollectionConverters._
    def gcTotalSec(): Double =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
    def heapUsedGb(): Double = {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed / 1073741824.0
    }
    def once(name: String, runNo: Int): Run = {
      val fn = SparkEntry.queries(name)
      graft.core.Warehouse.drainBuildEvents()
      val load = loadAvg1m()
      val gc0 = gcTotalSec()
      val t0 = System.nanoTime()
      // The query runs on a worker thread under its own job group so
      // the watchdog can cancel its Spark jobs; interruptOnCancel
      // reaches task threads stuck in compute, and the thread
      // interrupt reaches driver-side planning.
      val group = s"bench-$name-run$runNo"
      @volatile var err: Option[String] = None
      val worker = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable =>
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        } finally spark.sparkContext.clearJobGroup()
      }, group)
      worker.setDaemon(true)
      worker.start()
      worker.join(queryTimeoutSec * 1000)
      if (worker.isAlive) {
        progress(s"$name run$runNo exceeded ${queryTimeoutSec}s — cancelling job group")
        spark.sparkContext.cancelJobGroup(group)
        worker.interrupt()
        worker.join(30000)
        err = Some(s"bench_timeout_after_${queryTimeoutSec}s")
      }
      val events = graft.core.Warehouse.drainBuildEvents()
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = gcTotalSec() - gc0
      val heap = heapUsedGb()
      // Per-run hygiene: a query that persist()s and leaks its cached
      // relation would otherwise (a) donate warm blocks to whichever
      // query happens to run next (cross-contaminated samples) and
      // (b) pin heap for the rest of the bench. Warehouse indexes are
      // on DISK and unaffected; only in-memory cached relations drop.
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      progress(f"$name run$runNo ${sec}%.2fs load=$load%.1f gc=$gcSec%.1fs heap=$heap%.1fg${err.map(e => s" ERR $e").getOrElse("")}")
      Run(sec, err, events.nonEmpty, events.exists(_._2), load, gcSec, heap)
    }
    // "built_runN": run N paid an index build (its time is build+probe;
    // the other run is pure probe). "prebuilt": probes only — the
    // index predated this bench process.
    def whState(runs: Seq[Run]): Option[String] =
      runs.zipWithIndex.collectFirst { case (r, i) if r.built => s"built_run${i + 1}" }
        .orElse(if (runs.exists(_.touched)) Some("prebuilt") else None)

    // PASS 1: every query once, in name order. A deadline hit skips
    // the rest (artifact still emitted).
    val pass1 = scala.collection.mutable.LinkedHashMap.empty[String, Run]
    names.foreach { name =>
      if (!deadlineHit) {
        pass1(name) = once(name, 1)
        if (elapsedSec > deadlineSec) {
          deadlineHit = true
          progress(s"global deadline ${deadlineSec}s passed — skipping remaining queries and all of pass 2")
        }
      }
    }
    // PASS 2: a second full pass in REVERSE name order, so the two
    // samples of one query are minutes apart AND occupy different
    // positions within their pass — a transient host-load window can
    // no longer inflate both, and neither can a periodic one phase-
    // locked to pass starts (see the scaladoc). Queries that errored
    // in pass 1 are not re-run: the error IS their result.
    val pass2 = scala.collection.mutable.LinkedHashMap.empty[String, Run]
    if (!deadlineHit) {
      // Reset JVM health at the pass boundary: drop any cached
      // relations and force a full collection so ContextCleaner frees
      // the shuffle/broadcast bookkeeping of all pass-1 executions.
      // Pass 2 then measures queries, not the sediment of pass 1.
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      System.gc()
      progress(f"pass 1 complete (heap after gc=${heapUsedGb()}%.1fg) — starting pass 2 (reverse order)")
    }
    names.reverse.foreach { name =>
      if (!deadlineHit) pass1.get(name) match {
        case Some(first) if first.err.isEmpty =>
          pass2(name) = once(name, 2)
          if (elapsedSec > deadlineSec) {
            deadlineHit = true
            progress(s"global deadline ${deadlineSec}s passed — remaining queries report their pass-1 sample alone")
          }
        case _ => ()
      }
    }
    val results = names.map { name =>
      pass1.get(name) match {
        case None =>
          (name, 0.0, Seq.empty[Run], Some("skipped_bench_deadline"), None)
        case Some(first) if first.err.isDefined =>
          (name, first.sec, Seq(first), first.err, whState(Seq(first)))
        case Some(first) =>
          pass2.get(name) match {
            case Some(second) if second.err.isEmpty =>
              (name, math.min(first.sec, second.sec), Seq(first, second),
                None, whState(Seq(first, second)))
            // pass-2 flake or deadline: the pass-1 success stands alone
            case _ =>
              (name, first.sec, Seq(first), None, whState(Seq(first)))
          }
      }
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    val ok = results.filter(_._4.isEmpty)
    val qs = ok.map { case (k, v, _, _, _) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    // both raw timings per query, in run order: drift between run 1 and
    // run 2 (cold cache, one-time index builds, background noise) stays
    // visible in the record instead of vanishing into the min
    val runs = ok.map { case (k, _, rs, _, _) => s"${jstr(k)}:${rs.map(_.sec).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    // 1-min loadavg sampled just before each run, same order as "runs":
    // an inflated sample with loadavg at the 32-thread steady state is a
    // plan problem; with loadavg far above it, a host window — the
    // adjudication the r16–r18 bands needed, now in the artifact itself.
    val loads = ok.map { case (k, _, rs, _, _) =>
      s"${jstr(k)}:${rs.map(r => f"${r.load}%.2f").mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    // stop-the-world GC seconds inside each run, and heap-used after it:
    // an inflated run with gc≈sec is heap thrash (JVM problem); with
    // gc≈0 it's a host window (loadavg) or a plan regression.
    val gcs = ok.map { case (k, _, rs, _, _) =>
      s"${jstr(k)}:${rs.map(r => f"${r.gcSec}%.2f").mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val heaps = ok.map { case (k, _, rs, _, _) =>
      s"${jstr(k)}:${rs.map(r => f"${r.heapGb}%.2f").mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e), _) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    // per-indexed-query warehouse state: was the persisted index built
    // during a timed run (and which), or already present?
    val wh = results.collect { case (k, _, _, _, Some(w)) => s"${jstr(k)}:${jstr(w)}" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum

    // Durable artifact: the full per-query record (timings, both raw runs,
    // errors, warehouse state) is written to a file in the repo, because the
    // driver only captures a 2 KB tail of stdout and at 73 queries the full
    // JSON is >2 KB — rounds 11-13 each lost their per-query evidence to
    // that truncation. The FINAL stdout line is a compact summary that is
    // guaranteed to fit the tail capture and names the detail file.
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"loadavg":$loads,"gc_sec":$gcs,"heap_gb":$heaps,"errors":$errs,"warehouse":$wh,"sf":${jstr(sfDir)}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val detail =
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outPath),
          (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        outPath
      } catch {
        case e: Throwable =>
          System.err.println(s"bench_out write failed: ${e.getMessage}")
          "unwritable"
      }

    // Compact line: per-query mins rounded to ms; if even that exceeds the
    // tail budget, drop trailing entries (full fidelity lives in the detail
    // file) and say how many were omitted. Never exceeds ~1900 bytes, so
    // the driver's 2 KB tail always parses it.
    //
    // Entries are ordered by DESCENDING time (round 22, VERDICT item 2):
    // with ~60 entries fitting the tail budget, first-by-name emission
    // blinded the round-over-round compare to every query outside
    // q01–q148 — including the rounds' largest wins (q150, q95, q34...).
    // Ordering by time makes the emitted window the most expensive (and
    // thus most optimization-relevant) queries; what drops out is the
    // sub-second floor-bound tail. The JSON object shape, key names,
    // values and the detail file are unchanged — only the emission
    // order (and hence which entries survive truncation) differs. Equal
    // times break by name, so the order is total; which entries fit the
    // window still depends on run-to-run timing near the cutoff.
    def fmt3(v: Double): String = f"$v%.3f"
    val compactEntries = ok.sortBy(e => (-e._2, e._1)).map { case (k, v, _, _, _) => s"${jstr(k)}:${fmt3(v)}" }
    val errCount = results.count(_._4.isDefined)
    def compactLine(entries: Seq[String], omitted: Int): String =
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","queries":${entries.mkString("{", ",", "}")},"queries_omitted":$omitted,"queries_n":${results.size},"errors_n":$errCount,"detail":${jstr(detail)},"sf":${jstr(sfDir)}}"""
    var kept = compactEntries
    while (compactLine(kept, compactEntries.size - kept.size).length > 1900 && kept.nonEmpty)
      kept = kept.dropRight(1)
    println(compactLine(kept, compactEntries.size - kept.size))
    spark.stop()
  }
}
