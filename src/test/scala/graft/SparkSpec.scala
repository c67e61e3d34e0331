package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM startup dominates;
  * suites must not stop() it). Built by the same factory as Bench and
  * Verify, so specs run the semantics those entry points run.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Session()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
}
