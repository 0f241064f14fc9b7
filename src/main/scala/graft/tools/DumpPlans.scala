package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode
import graft.core.GraftSession

/** Dumps `.explain("formatted")` for every declared driver query into
  * one file per query (`<outDir>/<query>_<tag>.txt`) and prints one
  * line of plan statistics per query: shuffle exchange count,
  * broadcast count, whether the parquet scan carries pushed filters,
  * and whole-stage-codegen stage count (SCALE.md's per-query table).
  * Both come from the query's own executed plan AFTER it ran, so
  * AQE's final plan (coalesced reads, runtime join rewrites) is what
  * lands in the file and the counts, matching what the bench ran.
  *
  * Usage: runMain graft.tools.DumpPlans <outDir> <tag> [sfDir] [q ...]
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val only = args.drop(3).toSet
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if only.isEmpty || only(name)) {
      try {
        val qe = fn(spark, sf).queryExecution
        // run THIS QueryExecution (a write would plan a new one) so its
        // AdaptiveSparkPlan is final; rows are consumed on the executors
        qe.toRdd.foreach(_ => ())
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          qe.explainString(ExplainMode.fromString("formatted"))
            .getBytes("UTF-8"))
        println(s"$name ${audit(qe.executedPlan.toString)}")
      } catch {
        // NonFatal only: an OOM/fatal error must kill the tool, not
        // print FAILED and continue in an undefined JVM state
        case scala.util.control.NonFatal(e) =>
          println(s"FAILED $name: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** One-line counts over the final plan (the part of an AQE plan
    * string above its "Initial Plan" section). */
  private def audit(executed: String): String = {
    val plan = executed.split("== Initial Plan ==")(0)
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    val bc = "Broadcast(Exchange|HashJoin|NestedLoopJoin)".r
      .findAllIn(plan).size
    val pushed = plan.contains("PushedFilters: [") &&
      !plan.linesIterator.filter(_.contains("PushedFilters"))
        .forall(_.contains("PushedFilters: []"))
    val wsc = "\\*\\(\\d+\\)".r.findAllIn(plan).matchData
      .map(_.matched).toSet.size
    s"exchanges=$ex broadcasts=$bc pushedFilters=$pushed codegenStages=$wsc"
  }
}
