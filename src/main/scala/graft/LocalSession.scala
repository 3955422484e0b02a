package graft

import org.apache.spark.sql.SparkSession

/** The local session the catalog mains (Bench, Verify, Plans) run under, so
  * plans explained by Plans are the plans Bench times and Verify checks:
  * `local[cores]` with as many shuffle partitions, UTC, nanosecond parquet
  * timestamps read as longs, no UI. `SPARK_GRAFT_CPUS` overrides the main's
  * default core count; `SPARK_GRAFT_CONF="k=v;k2=v2"` adds confs (sbt forks
  * the run JVM, so -D flags on the sbt command line never reach it — an env
  * var does), e.g. to toggle AQE or ANSI for a robustness run. */
object LocalSession {
  /** The session and its core count. */
  def apply(defaultCores: Int, logLevel: String): (SparkSession, Int) = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCores)(_.toInt)
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => builder.config(k.trim, v.trim)
        case _ => ()
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    (spark, cores)
  }
}
