package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans plus a Spark task ledger for one benchmark run.
  *
  * A span (name, layer, parent, start, end) is recorded around each call the
  * benchmark makes into a layer. Inside a span the job group is the span's
  * id, so the listener can charge every task's metrics to the span, and so
  * to the layer, that issued it. Records are kept in memory and written as
  * JSON lines when the run ends; `benchlib/ledger.py` turns them into the
  * per-layer table.
  *
  * While paused, spans still run their body but nothing is kept, which is
  * how the untraced half of the overhead comparison runs.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()

  /** Epoch milliseconds with sub-ms resolution, on the clock listener events use. */
  def now(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  @volatile private var recording = false
  private val lines = mutable.ArrayBuffer.empty[String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var listenerNanos = 0L
  private var tasksStarted = 0L
  private var nextSpan = 0
  private var open = List.empty[(Int, String)]
  @volatile private var flushJob = -1
  @volatile private var flushDone = false

  private def record(line: String): Unit = synchronized { lines += line }

  /** Run `body` as a span of `layer`; spans nest along the calling thread. */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!recording) return body
    val id = synchronized { nextSpan += 1; nextSpan }
    val parent = open.headOption.map(_._1).getOrElse(0)
    open = (id, name) :: open
    sc.setJobGroup(s"span-$id", name)
    val start = now()
    try body
    finally {
      val end = now()
      open = open.tail
      open.headOption match {
        case Some((p, pname)) => sc.setJobGroup(s"span-$p", pname)
        case None => sc.clearJobGroup()
      }
      record(s"""{"ev":"span","id":$id,"parent":$parent,"name":${Json.str(name)},""" +
        s""""layer":${Json.str(layer)},"start":$start,"end":$end}""")
    }
  }

  /** A count measured where the work happened (rows out, components, ...). */
  def count(name: String, value: Double): Unit =
    if (recording) record(s"""{"ev":"count","name":${Json.str(name)},"value":$value}""")

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    f
    synchronized { listenerNanos += System.nanoTime() - t }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == "ledger-flush") flushJob = e.jobId
    if (recording) timed {
      synchronized { e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId)) }
      record(s"""{"ev":"job","id":${e.jobId},"group":${Json.str(group)},"start":${e.time}}""")
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (recording) timed(record(s"""{"ev":"job_end","id":${e.jobId},"end":${e.time}}"""))
    if (e.jobId == flushJob) flushDone = true
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (recording) timed(synchronized { tasksStarted += 1 })

  /** Tasks the scheduler launched for a stage attempt, a figure the ledger's
    * task records are checked against.
    */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) timed {
    val s = e.stageInfo
    record(s"""{"ev":"stage","id":${s.stageId},"attempt":${s.attemptNumber()},""" +
      s""""tasks":${s.numTasks}}""")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) timed {
    val m = e.taskMetrics
    if (m != null) {
      val job = synchronized(stageJob.getOrElse(e.stageId, -1))
      val sr = m.shuffleReadMetrics
      record(s"""{"ev":"task","job":$job,"stage":${e.stageId},""" +
        s""""run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
        s""""gc_ms":${m.jvmGCTime},"shuffle_read":${sr.remoteBytesRead + sr.localBytesRead},""" +
        s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled}}""")
    }
  }

  /** Wait until the listener has seen every event posted so far: a marker
    * job's end event is delivered after all events queued before it.
    */
  def flush(): Unit = {
    flushDone = false
    sc.setJobGroup("ledger-flush", "ledger flush")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!flushDone && System.nanoTime() < deadline) Thread.sleep(2)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def processCpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private var gcMark = 0L
  private var gcWhileRecording = 0L
  private var cpuMark = 0L
  private var cpuWhileRecording = 0L
  private var peakHeapBytes = 0L

  /** Start (or restart) recording; the JVM figures cover recording time only.
    * Events of untraced work still queued are delivered first, so that none
    * of them is recorded.
    */
  def resume(): Unit = if (!recording) {
    flush()
    gcMark = gcMillis()
    cpuMark = processCpuNanos()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    recording = true
  }

  /** Stop recording once every event of the traced work has been delivered. */
  def pause(): Unit = if (recording) {
    flush()
    recording = false
    gcWhileRecording += gcMillis() - gcMark
    cpuWhileRecording += processCpuNanos() - cpuMark
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    peakHeapBytes = math.max(peakHeapBytes, heap)
  }

  /** Stop recording and write every record, one JSON object a line. */
  def finish(path: String): Unit = {
    pause()
    val jvm = s"""{"ev":"jvm","gc_ms":$gcWhileRecording,""" +
      s""""peak_heap_mb":${peakHeapBytes / 1048576.0},"listener_ms":${listenerNanos / 1e6},""" +
      s""""process_cpu_ns":$cpuWhileRecording,"tasks_started":$tasksStarted}"""
    val all = synchronized(lines.toList) :+ jvm
    java.nio.file.Files.write(java.nio.file.Paths.get(path), all.asJava)
  }
}

/** The few JSON helpers the benchmark needs. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  /** Already-encoded JSON, embedded as is. */
  final case class Raw(json: String)
}
