package graft

import org.apache.spark.sql.SparkSession

/** The one session layer for the spark-submit mains: the only reader of
  * `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_MASTER`, so a bad value fails by
  * name before Spark starts. `env` is a parameter so tests need not set
  * the process environment. */
object MainSession {

  /** `name` from `env` as a positive integer, else `default`. */
  def positiveInt(env: Map[String, String], name: String, default: => Int): Int =
    env.get(name).fold(default)(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'")))

  /** `SPARK_GRAFT_CPUS`, else the host's processors. On a cluster, set it
    * to the total executor cores: it sizes shuffles and ExtractMain's
    * bucket count. */
  def cpus(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_MASTER`, else `local[cpus]`. */
  def master(env: Map[String, String] = sys.env): String = {
    val m = env.getOrElse("SPARK_GRAFT_MASTER", s"local[${cpus(env)}]")
    require(m.trim.nonEmpty, "SPARK_GRAFT_MASTER is set but empty")
    m
  }

  /** `cpus` shuffle partitions, UTC, no UI, then `extraConf`; WARN logs. */
  def start(app: String, extraConf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(master())
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus().toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extraConf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
