package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkTest {
  lazy val session: SparkSession = GraftSession.local(4)
}
