package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every main builds Spark through (Bench,
  * Verify, Explain, the gold and validate runners, the tools):
  *
  *  - master `local[SPARK_GRAFT_CPUS]`, default 4 cores;
  *  - shuffle partitions equal to the core count;
  *  - UTC session time zone (date-bucket queries drift without it);
  *  - UI off.
  *
  * A `spark.master` JVM system property (`-Dspark.master=...`) takes
  * precedence over the local master, so a main can target a cluster
  * without an option of its own. Each main keeps setting its own log
  * level. `SessionLintSpec` fails on any other `SparkSession.builder` in
  * `src/main`, which keeps this policy in one place.
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
