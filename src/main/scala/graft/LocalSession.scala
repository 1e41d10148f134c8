package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every graft entry point builds from:
  * `local[cpus]`, one shuffle partition per core, UTC session time and no
  * web UI. Callers add their own confs before `getOrCreate()`; anything
  * else (an AQE-off A/B, Kryo) goes through Spark's own `-Dspark.*`
  * system properties.
  */
object LocalSession {
  /** Cores from `SPARK_GRAFT_CPUS`, or the entry point's own `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
