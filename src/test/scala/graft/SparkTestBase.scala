package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Sessions

/** One shared local session for all suites (JVM-wide — getOrCreate). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4, appName = "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
