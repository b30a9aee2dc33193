package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session configuration shared by every entry point
  * (`Verify`, `Bench`, `ExplainDump`, `ScaleData`) and the test suites, so
  * the plans and results they see are the same ones. */
object LocalSession {

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI. `cpus` defaults to `SPARK_GRAFT_CPUS` (4 when unset). Callers
    * add their own app name, warehouse dir and so on before
    * `getOrCreate()`. */
  def builder(
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  ): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // reference semantics (PySpark 3.5) assume legacy casting; Spark 4
      // defaults ANSI on
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet stores TIMESTAMP(NANOS) which Spark rejects by
      // default; read as long and convert in the loader
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
