package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main (Bench, Verify, Stress and the
  * tools) runs on. `local[cpus]` with as many shuffle partitions, UI off,
  * parquet TIMESTAMP(NANOS) read as int64 nanos (`events.ts`) and a UTC
  * session zone, so a TIMESTAMP_NTZ cast reads the same instant
  * everywhere and Bench measures the data Verify checks. `cpus` is
  * `SPARK_GRAFT_CPUS` when set, else the caller's `defaultCpus`.
  * getOrCreate, so a second call in one JVM returns the live session. */
object Session {
  def local(defaultCpus: Int, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
