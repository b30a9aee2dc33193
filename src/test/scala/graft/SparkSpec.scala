package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-mode SparkSession + golden-equality helpers for all suites.
  *
  * One session for the whole test JVM (suites run forked in a single JVM) —
  * mirrors the reference's session-scoped pytest fixtures
  * (reference: `tests/test_data_aggregation.py:31-38`).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = LocalSession
      .builder(4)
      .appName("graft-test")
      .config(
        "spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString
      )
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def sfDir: String = "/root/testdata/sf0.001"

  /** Golden equality: same schema field names/types, same multiset of rows
    * (order-insensitive), mirroring pyspark.testing.assertDataFrameEqual. */
  def checkAnswer(got: DataFrame, expected: DataFrame): Unit = {
    assert(
      got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        expected.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"schema mismatch:\n got:      ${got.schema.treeString}\n expected: ${expected.schema.treeString}"
    )
    checkRows(got, expected.collect().toSeq)
  }

  def checkRows(got: DataFrame, expected: Seq[Row]): Unit = {
    val g = got.collect().toSeq.map(_.toString).sorted
    val e = expected.map(_.toString).sorted
    assert(g == e, s"rows mismatch:\n got:      $g\n expected: $e")
  }

  /** Assert that the formatted physical plan contains a fragment (plan-shape
    * guard, e.g. WindowGroupLimit / BroadcastHashJoin / PushedFilters). */
  def assertPlanContains(df: DataFrame, fragment: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(
      plan.contains(fragment),
      s"expected physical plan to contain '$fragment':\n$plan"
    )
  }
}
