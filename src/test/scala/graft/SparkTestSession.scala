package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (object => created once per JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.engine.Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
