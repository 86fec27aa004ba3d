package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: the suites, [[Tool]], [[Verify]] and
  * [[Bench]] (the last two sized from `SPARK_GRAFT_CPUS`) all start here.
  * Shuffle partitions are pinned to the core count — at 100 TB on a real
  * cluster this would instead be sized to ~2-3x total executor cores with
  * AQE coalescing partitions at runtime (enabled here too).
  */
object Engine {
  def session(cores: Int = 8, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Env var `name` as an integer >= 1, or `default` when unset; anything
    * else fails loudly, naming the variable and its value. */
  private[graft] def positiveEnvInt(name: String, default: Int): Int = {
    val n = sys.env.get(name).fold(default)(v => v.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$name must be an integer, got '$v'")))
    require(n >= 1, s"$name must be >= 1, got $n")
    n
  }
}
