package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite; one per
  * JVM is cheaper still since Test/fork gives us a dedicated JVM), built
  * by the same factory as Bench and Verify. */
object SparkTest {
  lazy val session: SparkSession = Session.local(8)
}
