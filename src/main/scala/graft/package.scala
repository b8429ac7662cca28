import org.apache.spark.sql.{DataFrame, SparkSession}

package object graft {
  /** A catalogued query: (session, testdata dir) => its result. */
  type Q = (SparkSession, String) => DataFrame
}
