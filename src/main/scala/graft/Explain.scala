package graft

/** Plan-audit main: dump the formatted physical plan of every registered
  * query (args: sfDir outFile). Used to keep the scan/exchange shape honest:
  * PushedFilters reach the parquet scan, ReadSchema is pruned to used
  * columns, small dims broadcast, WholeStageCodegen spans stay wide. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = GraftSession.local(cores = 4, appName = "graft-explain")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n==================== $name ====================\n")
      try sb.append(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
