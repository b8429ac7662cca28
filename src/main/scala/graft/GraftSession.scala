package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder for graft deployments: the configs that
  * matter at scale, with environment-driven sizing. Library users call
  * `GraftSession.builder(...)`; the driver-contract mains (Verify,
  * Bench, StreamBench, Probe) all build their minimal session through
  * [[local]].
  */
object GraftSession {

  /** @param cores            parallelism for local mode
    * @param shufflePartitions size to ~2-3× total executor cores; at
    *                          100 TB AQE coalesces the excess
    */
  def builder(appName: String = "graft",
              master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              cores: Int = Runtime.getRuntime.availableProcessors(),
              shufflePartitions: Int = 0): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions",
        (if (shufflePartitions > 0) shufflePartitions else cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.ts carries parquet TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep scan partitions near the default 128 MB rowgroup sweet spot
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** The one session of the mains: `local` over `SPARK_GRAFT_CPUS`
    * cores (default 4) with as many shuffle partitions. One definition,
    * so a conf applied in only one main can never make Verify's
    * outputs, the bench lines and the stream lines come from different
    * sessions. */
  private[graft] def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) — read as long, convert
      // in Tables.events (Spark's TimestampType is micros).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
