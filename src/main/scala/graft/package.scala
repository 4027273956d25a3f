import org.apache.spark.sql.{DataFrame, SparkSession}

package object graft {
  /** An operator's plan builder: (session, fixture directory) => result. */
  type Q = (SparkSession, String) => DataFrame
}
