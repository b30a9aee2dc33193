package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named declared queries to files —
  * the plan-evidence artifact for optimization rounds (plans/rNN/).
  *
  * Usage: ExplainDump <sfDir> <outDir> <suffix> [query...]
  * Writes <outDir>/<query>_<suffix>.txt for each named query (all queries
  * when none are named). The session comes from [[LocalSession]], like
  * Bench/Verify, so the plans are the ones the bench actually runs.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, rest @ _*) = args
    val only: Set[String] = rest.toSet
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode
          )
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        } catch {
          case e: Throwable =>
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
