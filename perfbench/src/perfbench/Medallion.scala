package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import graft.medallion._
import graft.streaming.LandingStream
import Util._

/** `medallion`: the reference's lake, fed the way it is in production.
  *
  * Set-up lands bands, albums and the first slice of reviews through
  * [[LandingFlow]] ([[Chunker]]) and runs landing → bronze → silver →
  * gold over them: the reference's own batch job, as the process's first
  * (cold) run, with `versioned = true` so readers never see an absent
  * table. Further review slices then land one at a time: each is
  * streamed into bronze ([[LandingStream]]: foreachBatch to staging, then
  * incremental `finalizeBronze`) and republished through versioned silver
  * and gold before the next lands (closed-loop writer). The first
  * increment is set-up too; the measured ones run beside one reader
  * thread reading gold and silver through [[Versioned.read]] at a fixed
  * rate (open loop).
  *
  * Every table is checked after every publish against the generator's
  * closed-form counts; every read must resolve a complete version.
  */
final class Medallion(ctx: Ctx) extends Workload {
  import Medallion._

  private val spark = ctx.spark
  private val probe = ctx.probe
  private val tally = new Tally
  private val in: Gen.Inputs = Gen.plan(ctx.seed, Reviews, Slices)
  private val csvDir: Path = ctx.work.resolve("csv")
  private val backfillDir = csvDir.resolve("backfill")
  private def incDir(k: Int) = csvDir.resolve(s"inc-$k")
  private var backfillBytes = 0L
  private val sliceBytes = mutable.Map.empty[Int, Long]
  private var generateS = 0.0

  private def writeInputs(): Unit = {
    backfillBytes = Gen.writeDims(in, backfillDir) + Gen.writeReviews(in, backfillDir, 0)
    (1 until Slices).foreach(k => sliceBytes(k) = Gen.writeReviews(in, incDir(k), k))
  }

  private def path(lake: Lake, table: String): String = table.split('/') match {
    case Array("bronze", t) => lake.bronze(t)
    case Array("silver", t) => lake.silver(t)
    case Array("gold", t) => lake.gold(t)
  }

  /** Rows in the parquet files of a table dir, from their footers. */
  private def rowsOnDisk(dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val files = root.getFileSystem(conf).listFiles(root, true)
    var rows = 0L
    while (files.hasNext) {
      val f = files.next().getPath
      if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try rows += r.getRecordCount finally r.close()
      }
    }
    rows
  }

  /** Row count of every table (named `prefix`…) after slice `k` is
    * published, read from the parquet footers of bronze and of the
    * published silver and gold versions; one check per table.
    */
  private def checkCounts(lake: Lake, k: Int, what: String, prefix: String = ""): Unit =
    probe.span("check", what) {
      in.expected(k).filter(_._1.startsWith(prefix)).foreach { case (t, n) =>
        tally.op(s"$what $t") {
          val dir = if (t.startsWith("bronze/")) path(lake, t) else Versioned.resolve(spark, path(lake, t))
          tally.check(s"$what $t", rowsOnDisk(dir), n)
        }
      }
    }

  /** The reference's batch job over the backfill, one public call per
    * layer (Flows.runAll's composition).
    */
  private def backfill(lake: Lake, runId: String): Unit = probe.span("pipeline", runId) {
    val landed = probe.span("landing", runId)(LandingFlow.run(backfillDir.toString, lake))
    val bronze = probe.span("bronze", runId)(BronzeFlow.run(spark, lake, landed.keys.toSeq.sorted))
    probe.span("silver", runId)(SilverFlow.run(spark, lake, bronze, versioned = true))
    probe.span("gold", runId)(GoldFlow.run(spark, lake, versioned = true))
  }

  /** Land slice `k`. `Chunker.deliver` names its objects `part-00000.csv`…
    * on every call, so a second delivery into the same landing dir would
    * overwrite the first, and the stream would skip the reused names as
    * already seen. Each slice is therefore delivered aside and moved in
    * under names unique to the slice, the way Firehose keys are.
    */
  private def land(lake: Lake, k: Int): Unit = {
    val dest = Paths.get(lake.landing("reviews"))
    val aside = Paths.get(s"${lake.root}-deliver/inc-$k")
    Chunker.ingestFile(incDir(k).resolve("reviews.csv"), aside.toString).foreach { p =>
      Files.move(p, dest.resolve(f"reviews-inc$k%03d-${p.getFileName}"), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Land slice `k` and stream it into bronze: LandingStream's
    * runAllAvailableNow body, split so that stream and finalize are timed
    * apart. The first stream has no checkpoint yet, so it also re-reads
    * the backfilled objects, and finalize's anti-join drops them again.
    */
  private def streamIn(lake: Lake, k: Int, runId: String): Unit = {
    probe.span("landing", runId)(land(lake, k))
    landedUpTo = k
    val q = probe.span("stream", runId) {
      val q = LandingStream.start(spark, lake, "reviews")
      q.awaitTermination()
      q
    }
    q.exception.foreach(throw _)
    probe.span("finalize", runId)(LandingStream.finalizeBronze(spark, lake, "reviews"))
  }

  /** Slice `k` from landing to a published gold version; returns its
    * freshness: seconds from the slice landing to gold being published.
    */
  private def increment(lake: Lake, k: Int, runId: String): Double = {
    val tLand = nowS
    streamIn(lake, k, runId)
    val bronze = Flows.Datasets.map(d => d -> lake.bronze(d)).toMap
    probe.span("silver", runId)(SilverFlow.run(spark, lake, bronze, versioned = true))
    probe.span("gold", runId)(GoldFlow.run(spark, lake, versioned = true))
    nowS - tLand
  }

  /** The lake the reader reads: set once gold is first published, and
    * cleared under the gate (so no read is in flight) before the lake is
    * deleted.
    */
  @volatile private var readLake: Lake = _
  @volatile private var landedUpTo = -1
  private val gate = new Object

  private def dropLake(lake: Lake): Unit = {
    gate.synchronized { readLake = null }
    deleteRecursively(Paths.get(lake.root))
    deleteRecursively(Paths.get(s"${lake.root}-deliver"))
  }

  private val lake = Lake(ctx.work.resolve("lake").toString)
  private var landedBytes = 0L
  /** Layer metrics of the backfill, taken before the probe is reset. */
  private var backfillLayers = Map.empty[String, Double]
  private var pipelineS = 0.0

  /** Inputs, then the backfill and a first streamed slice on the run's
    * lake. The backfill is the process's first landing → gold run, cold
    * as a scheduled batch job is: its wall time and layers are recorded
    * here. The first slice only goes as far as bronze, to warm the
    * streaming path; the next publish carries it to gold.
    */
  def setup(): Unit = {
    generateS = median((1 to 3).map { _ =>
      deleteRecursively(csvDir)
      val t0 = nowS; writeInputs(); nowS - t0
    })
    landedUpTo = 0
    val t0 = nowS
    backfill(lake, "backfill")
    pipelineS = nowS - t0
    val files = Seq("landing", "bronze", "silver", "gold")
      .map(l => l -> du(Paths.get(s"${lake.root}/$l"), isDataFile)).toMap
    checkCounts(lake, 0, "backfill")
    landedBytes = backfillBytes
    probe.drain()
    backfillLayers = Map(
      "pipeline.s" -> pipelineS,
      "pipeline.unattributed_s" -> probe.selfByName.getOrElse("pipeline", 0.0),
      "landing.bytes" -> files("landing")._1.toDouble,
      "landing.files" -> files("landing")._2.toDouble,
      "bronze.rows_out" -> in.expected(0).collect { case (t, n) if t.startsWith("bronze/") => n }.sum.toDouble,
      "bronze.bytes_written" -> files("bronze")._1.toDouble,
      "bronze.scan_amp" -> probe.statsFor("bronze").inputBytes.sum.toDouble / files("landing")._1,
      "silver.bytes_written" -> files("silver")._1.toDouble,
      "silver.files" -> files("silver")._2.toDouble,
      "gold.bytes_written" -> files("gold")._1.toDouble,
      "gold.files" -> files("gold")._2.toDouble) ++
      Workload.spanMetrics(ctx, "bronze", 1)
    streamIn(lake, 1, "warm")
    landedBytes += sliceBytes(1)
    checkCounts(lake, 1, "stream 1", prefix = "bronze/")
    require(tally.failed == 0, s"set-up failed: ${tally.failures.mkString("; ")}")
    tally.attempted = 0
  }

  /** Open-loop reader: one read every `ReadPeriodS`, latency measured
    * from each read's due time, so a slow read delays the next one's
    * latency too. A read must resolve a complete published version: its
    * row count equals that of a version already committed.
    */
  private final class Reader extends Thread("perfbench-reader") {
    setDaemon(true)
    @volatile var stopped = false
    val latency = mutable.ArrayBuffer.empty[Double]
    val lag = mutable.ArrayBuffer.empty[Double]
    private def allowed(table: String): Set[Long] =
      (0 to landedUpTo).map(k => in.expected(k)(table)).toSet
    override def run(): Unit = {
      var due = nowS
      while (!stopped) {
        val wait = due - nowS
        if (wait > 0) Thread.sleep((wait * 1000).toLong)
        val read = gate.synchronized {
          val lake = readLake
          if (lake != null) {
            lag += nowS - due
            tally.op("read") {
              probe.span("reader", "reader") {
                Seq("gold/top10_by_country", "silver/album_reviews").foreach { t =>
                  val n = Versioned.read(spark, path(lake, t)).count()
                  if (!allowed(t).contains(n))
                    tally.fail(s"read $t: $n rows is no committed version (${allowed(t).mkString(",")})")
                }
              }
            }
            latency += nowS - due
          }
          lake != null
        }
        due += ReadPeriodS
        // no backlog builds up while there is nothing to read
        if (!read && due < nowS) due = nowS
      }
    }
  }

  /** Further increments on the same lake, with the reader running.
    * `op_s` is the median read latency, `cycle_s` the median freshness.
    */
  def measure(): Outcome = {
    val reader = new Reader
    gate.synchronized { readLake = lake }
    reader.start()
    val freshness = mutable.ArrayBuffer.empty[Double]
    val t0 = nowS
    try {
      var k = 2
      while (k < Slices && (k < 2 + MinIncrements || nowS - t0 < ctx.seconds)) {
        tally.op(s"increment $k")(increment(lake, k, s"inc-$k")).foreach(freshness += _)
        landedBytes += sliceBytes(k)
        checkCounts(lake, k, s"inc $k")
        k += 1
      }
    } finally {
      gate.synchronized { readLake = null }
      reader.stopped = true
      reader.join()
    }
    def list(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }
    val versionDirs = Seq("silver", "gold").map(l => Paths.get(s"${lake.root}/$l"))
      .filter(Files.exists(_)).flatMap(list).flatMap(list)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("v_\\d+"))
    val liveBytes = versionDirs.map(du(_)._1).sum
    val storageAmp = du(Paths.get(lake.root))._1.toDouble / landedBytes
    dropLake(lake)
    probe.drain()

    val ops = freshness.size
    val reads = reader.latency.toSeq
    val stream = probe.statsFor("stream")
    val opS = if (reads.isEmpty) 0.0 else median(reads)
    val layers = backfillLayers ++ Map(
      "stream.batches" -> stream.batches.sum.toDouble / math.max(ops, 1),
      "stream.rows" -> stream.rows.sum.toDouble / math.max(ops, 1),
      "versions.live" -> versionDirs.size.toDouble,
      "versions.bytes_live" -> liveBytes.toDouble,
      "lake.storage_amp" -> storageAmp,
      "freshness.last_s" -> freshness.lastOption.getOrElse(0.0),
      "reader.p50_s" -> opS,
      "reader.lag_s" -> reader.lag.maxOption.getOrElse(0.0),
      "trace.op_s" -> opS) ++
      Seq("landing", "stream", "finalize", "silver", "gold").flatMap(Workload.spanMetrics(ctx, _, ops))
    Outcome(tally,
      Map("op_s" -> opS, "cycle_s" -> (if (freshness.isEmpty) 0.0 else median(freshness.toSeq))),
      layers,
      Seq("ops" -> ops.toString, "freshness_s" -> freshness.map(jnum).mkString("[", ", ", "]"),
        "read_s" -> reads.map(jnum).mkString("[", ", ", "]"),
        "generate_s" -> jnum(generateS), "csv_bytes_landed" -> landedBytes.toString))
  }
}

object Medallion {
  /** A sixth of sf0.1's lineitem rows as reviews, in eight slices: the
    * backfill, one slice streamed in set-up, then at least two and up to
    * six measured increments. The program's per-job floor, not data
    * volume, sets their cost (see NOTES.md, "What was cut").
    */
  val Reviews: Int = Gen.Sf01Reviews / 6
  val Slices = 8
  val MinIncrements = 2
  val ReadPeriodS = 1.0
}
