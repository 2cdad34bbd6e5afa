package graft.medallion

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.ListenerBuses
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Fixture lakes and Spark-side counters shared by the medallion specs. */
object MedallionTestKit {

  /** The FIXTURES.md §A CSV dir. */
  def fixtures: String =
    Paths.get(getClass.getResource("/fixtures/albums.csv").toURI).getParent.toString

  /** The fixtures landed (100 B chunks), bronzed and published as
    * versioned silver under a fresh temp lake. */
  def versionedSilverLake(spark: SparkSession, prefix: String): Lake = {
    val lake = Lake(Files.createTempDirectory(prefix).toString)
    LandingFlow.run(fixtures, lake, maxBytes = 100, bufferBytes = 1000)
    val bronze = BronzeFlow.run(spark, lake, Seq("albums", "bands", "reviews"))
    SilverFlow.run(spark, lake, bronze, versioned = true)
    lake
  }

  /** `body`'s result and the number of Spark jobs it started (jobs
    * carry the calling thread's job group, set here for the count). */
  def countingJobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counting-jobs-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counting jobs", interruptOnCancel = false)
    try {
      val result = body
      ListenerBuses.drain(sc)
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `body`'s result and the number of executed plans that scanned
    * `dir`, looking through adaptive plans, query stages and caches. */
  def countingScans[T](spark: SparkSession, dir: String)(body: => T): (T, Int) = {
    val target = new HPath(dir).toUri.getPath.stripSuffix("/")
    def scans(plan: SparkPlan): Boolean = plan.find {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == target)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case c: CommandResultExec => scans(c.commandPhysicalPlan)
      case _ => false
    }.isDefined
    val plans = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (scans(qe.executedPlan)) plans.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        if (scans(qe.executedPlan)) plans.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      ListenerBuses.drain(spark.sparkContext)
      (result, plans.get)
    } finally spark.listenerManager.unregister(listener)
  }
}
