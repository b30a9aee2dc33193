package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** Event-time type tolerance for every time-based operator.
  *
  * Parquet writers disagree on the physical type of "a timestamp": the same
  * logical column has shipped as TIMESTAMP(NANOS) (arrives as LongType under
  * `spark.sql.legacy.parquet.nanosAsLong`), as micros-without-timezone
  * (Spark 4 reads TIMESTAMP_NTZ), and as tz-adjusted micros (TIMESTAMP).
  * `unix_micros` and interval arithmetic accept only TIMESTAMP, so a schema
  * drift in the input data would otherwise kill every event-time operator
  * with an analysis error. All operators in [[Sessionize]] and [[Joins]]
  * normalize their time columns through this object at entry instead.
  *
  * The NTZ→TIMESTAMP cast reinterprets the wall-clock value in the session
  * zone; this library pins `spark.sql.session.timeZone=UTC` (Verify/Bench/
  * test bootstrap), under which the micros value is bit-identical — the same
  * convention DuckDB uses when reading the same file, so oracles agree.
  */
object TimeUtils {

  /** The column coerced to a session-zone TIMESTAMP instant. No-op for
    * TIMESTAMP inputs (Catalyst's SimplifyCasts removes the cast). */
  def asInstant(c: Column): Column = c.cast(TimestampType)

  /** Normalize the named event-time columns of `df` to TIMESTAMP at
    * operator entry. Unsupported types fail fast with the column NAMED —
    * one clear message instead of a cryptic analysis error rows deep. */
  def ensureTimestamp(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, name) =>
      d.schema(name).dataType match {
        case TimestampType => d
        case TimestampNTZType | DateType =>
          d.withColumn(name, col(name).cast(TimestampType))
        case other =>
          throw new IllegalArgumentException(
            s"column '$name' must be an event-time type (timestamp / " +
              s"timestamp_ntz / date), got ${other.simpleString}"
          )
      }
    }

  /** Like [[ensureTimestamp]] but for operators that only ORDER/COMPARE the
    * time column (no epoch arithmetic): numeric ordinal axes pass through
    * unchanged — e.g. [[Joins.nearestJoin]] runs its forward as-of pass on
    * a negated-microsecond long axis. */
  def ensureOrderable(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, name) =>
      d.schema(name).dataType match {
        case TimestampNTZType | DateType =>
          d.withColumn(name, col(name).cast(TimestampType))
        case _ => d
      }
    }
}
