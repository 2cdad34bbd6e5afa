package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Measurement aid (optimization guide §1): dump the formatted physical
  * plan of named registered queries to files, for before/after plan
  * diffs committed under plans/. Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <query> [query ...]"
  *   sbt "runMain graft.PlanDump <outDir> all"
  *
  * Reads SPARK_GRAFT_SF_DIR like Bench. Writes <outDir>/<query>.txt.
  * explain("formatted") plans — note that CONSTRUCTING a query whose
  * definition contains eager pins (`Materialize.pin`) runs those subtrees as
  * real Spark jobs over SPARK_GRAFT_SF_DIR during the dump, and the
  * checkpointed subtrees appear only as `Scan ExistingRDD` /
  * LogicalRDD leaves in the emitted plan — an `_after.txt` therefore
  * understates the total work of a checkpointing query; read it
  * together with the code.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query>|all ...")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-plandump")
    val names =
      if (args.toSeq.drop(1) == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq.drop(1)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"$name.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"wrote ${outDir.resolve(s"$name.txt")}")
    }
    spark.stop()
  }
}
