package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every main and the test suites
  * share: `local[cores]` with as many shuffle partitions as cores, AQE on,
  * UTC, no UI.
  *
  * `cores` defaults to SPARK_GRAFT_CPUS (4 when unset). Each caller sets
  * its own log level.
  */
object Session {
  def apply(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 270+ queries x several codegen stages each blow through the
      // default 100-entry generated-class cache -> recompiles mid-suite.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // session-build-time, not read-time (ADVICE r5): a NANOS-encoded
      // events file must be readable from the first scan; Tables still
      // sets it defensively for sessions built elsewhere.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
}
