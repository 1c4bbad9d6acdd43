package graft

/** Dev tool: print the executed plan of one query, or dump plans for many.
  *
  * Usage:
  *   runMain graft.Explain <query> [sfDir]            — print one plan
  *   runMain graft.Explain ALL <sfDir> <outDir> <suffix>
  *     — write every headline query's formatted plan to
  *       <outDir>/<query>_<suffix>.txt (e.g. plans/r18, suffix "before")
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")
    if (name == "ALL") {
      val outDir = java.nio.file.Paths.get(args(2))
      java.nio.file.Files.createDirectories(outDir)
      val suffix = if (args.length > 3) args(3) else "before"
      Bench.headline.filter(SparkEntry.queries.contains).foreach { n =>
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
          System.err.println(s"[explain] wrote $n")
        } catch { case e: Throwable => System.err.println(s"[explain] $n FAILED: $e") }
      }
    } else {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
    }
  }
}
