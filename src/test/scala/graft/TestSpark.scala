package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** Run `body` with the small-path bound (`graft.smallPath.maxRows`)
    * set to `rows`: 0 forces the distributed path of every kernel that
    * has a driver path (an empty input excepted), a large value the
    * driver path. */
  def withSmallPathBound[T](rows: Long)(body: => T): T = {
    sys.props("graft.smallPath.maxRows") = rows.toString
    try body finally sys.props.remove("graft.smallPath.maxRows")
  }

  /** A bound no test input reaches. */
  val DriverBound: Long = 1L << 30
}
