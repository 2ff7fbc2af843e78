package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and the test suite run on, so the
  * confs that make results comparable (UTC session clock, readable ns
  * fixtures, µs parquet timestamps) cannot drift between copies.
  * `GraftSessionSpec` fails the build if another `SparkSession.builder()`
  * appears under `src/`. */
object GraftSession {

  /** Cores from `SPARK_GRAFT_CPUS` (default 4), as Bench, Verify and
    * Profile read them. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core. `extra` confs are
    * applied last (the test suite's app name, a probe's overrides). */
  def local(cpus: Int, extra: Iterable[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // µs, not the stats-less INT96 default: written layouts must be
      // row-group-prunable on their time column (ZOrderSpec measures it)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
    val s = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
