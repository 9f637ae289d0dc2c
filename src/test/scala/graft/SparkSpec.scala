package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites are
  * lazy so sbt test reuses it). Built by [[GraftSession]], so the suites
  * run under the same config as Verify and Bench. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession(appName = "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
