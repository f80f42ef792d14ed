package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every SparkEntry query to
  * argv(1)/<name>.txt (default /tmp/graft_plans) against argv(0)'s tables —
  * the iterate-on-the-plan loop: check PushedFilters reach the scans,
  * dimension joins broadcast, aggregates have partial (map-side) phases,
  * and WholeStageCodegen spans stay wide. */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_plans")
    val spark = graft.GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch {
        case e: Throwable => System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    println(s"[explain] plans written to $outDir")
    spark.stop()
  }
}
