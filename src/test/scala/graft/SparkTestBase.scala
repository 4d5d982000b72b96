package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
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

  private val FenceGroup = "graft-test-fence"

  /** Run a job tagged [[FenceGroup]] and wait until listeners have seen it:
    * the listener bus delivers in order, so every event before it has been
    * delivered too.
    */
  private def fence(seen: CountDownLatch): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(FenceGroup, "fence")
    try spark.range(1).toDF(FenceGroup).collect() finally sc.clearJobGroup()
    assert(seen.await(60, TimeUnit.SECONDS), "fence not seen")
  }

  /** The number of Spark jobs `body` starts. */
  def jobsRun(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == FenceGroup) seen.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; fence(seen) } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** The executed plans of the Dataset actions `body` runs (RDD actions,
    * such as `df.rdd.count()`, report none).
    */
  def plansExecuted(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val seen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(FenceGroup)) seen.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; fence(seen) } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Every node of an executed plan, descending into adaptive query
    * stages and the plans that built cached tables. A reused exchange is
    * not descended into: its plan ran once, where it is first planned.
    * With `planned`, also every node of the plans adaptive execution
    * started from, including subtrees it pruned once a stage came back
    * empty.
    */
  def planNodes(p: SparkPlan, planned: Boolean = false): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan +: (if (planned) Seq(a.inputPlan) else Nil)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (inner ++ p.children ++ p.subqueries).flatMap(planNodes(_, planned))
  }
}
