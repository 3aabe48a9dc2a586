package graft

import org.apache.spark.sql.SparkSession

/** The one builder of a local graft session (cascalog configures every
  * flow from one place too, `cascalog/cascading/conf.clj`). Every main
  * and the test suite start here, so Bench and Verify run under the same
  * confs by construction.
  *
  *  - `SPARK_GRAFT_CPUS` (default 4) sizes `local[cpus]` and
  *    `spark.sql.shuffle.partitions`;
  *  - timestamps are read as UTC, parquet nanos as longs, and the UI is
  *    off;
  *  - `SPARK_GRAFT_CONF` adds or overrides confs for cross-checks and
  *    profiling A/Bs, e.g.
  *    `SPARK_GRAFT_CONF="spark.sql.codegen.wholeStage=false,..."`. */
object LocalSession {

  /** `SPARK_GRAFT_CONF` entries: split on ';' when present (for values
    * that contain commas, e.g. extraJavaOptions), else on ','; each entry
    * is `key=value`, split at its first '='. A malformed entry fails
    * loudly rather than running under confs nobody asked for. */
  def parseConf(raw: String): Seq[(String, String)] = {
    val sep = if (raw.contains(';')) ';' else ','
    raw.split(sep).toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => sys.error(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value (separate entries with ';' or ',')")
      }
    }
  }

  /** Every conf a session gets, in the order applied (a later key wins):
    * the base confs, the caller's `extra`, then `SPARK_GRAFT_CONF`. */
  def confs(cpus: String, extra: Seq[(String, String)] = Nil,
      env: Map[String, String] = sys.env): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++
      extra ++ env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConf)

  /** Build (or get) the `local[cpus]` session under [[confs]], with the
    * driver's log level set. Pass `env = Map.empty` for a session that
    * `SPARK_GRAFT_CONF` cannot change. */
  def apply(logLevel: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      extra: Seq[(String, String)] = Nil,
      env: Map[String, String] = sys.env): SparkSession = {
    val spark = confs(cpus, extra, env)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
