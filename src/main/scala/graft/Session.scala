package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session constructor of every main (and of the specs).
  *
  * The master is `local[cpus]` only when none is set already: spark-submit
  * `--master` and `-Dspark.master` are how a deployment picks its own.
  * Shuffle partitions follow the same core count; the session time zone
  * is UTC; no UI; WARN logs. Nothing else is set: a tuning knob in one
  * harness changes what it measures for every query at once (a
  * bench-only `minPartitionSize` floor regressed 9 registry queries
  * 2-10x), and Spark's defaults (AQE on) are what the library ships to.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, default 4: the one core-count setting. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def apply(appName: String, cpus: Int = Session.cpus): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
