package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all ScalaTest suites (JVM-wide;
  * building a session per suite would dominate test time). */
object LocalSpark {
  lazy val spark: SparkSession = {
    val s = LocalSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
