package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Sessions

/** One shared local session for all suites (JVM-wide — getOrCreate). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // no GC-driven cleanup (read by the JVM's first SparkContext): a block
    // stays in the block manager until its RDD is unpersisted, so release
    // tests see leaks however the JVM collects (Spark holds persisted RDDs
    // weakly)
    sys.props("spark.cleaner.referenceTracking") = "false"
    val s = Sessions.local(4, appName = "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Ids of the RDDs whose blocks the block manager still holds. */
  def rddsWithBlocks(): Set[Int] = {
    assert(!spark.sparkContext.getConf.getBoolean("spark.cleaner.referenceTracking", true),
      "the context cleaner may drop leaked blocks")
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = false)
      .flatMap(_.asRDDId).map(_.rddId).toSet
  }
}
