package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: `perfbench/run.py` prepares the inputs, starts
  * this main once per run and reads back `<runDir>/result.json` (and, when
  * traced, `<runDir>/trace.jsonl`).
  *
  * Args: `<workload> <seed> <seconds> <trace 0|1> <runDir> <nproc> [sfDir]`,
  * or `expect <seed,seed,...> <runDir> <nproc> <out>` to record the ingest
  * stage row counts of those seeds (`perfbench/expect.py`).
  */
object Main {

  final case class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      runDir: String, nproc: Int, sfDir: String)

  /** Setup is repeated this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    if (args(0) == "expect") {
      Ingest.expect(args(1).split(",").map(_.toLong).toSeq, args(2), args(3).toInt, args(4))
      return
    }
    val run = Run(args(0), args(1).toLong, args(2).toDouble, args(3) == "1", args(4),
      args(5).toInt, if (args.length > 6) args(6) else "")
    val result = run.workload match {
      case "ingest" => Ingest.run(run)
      case "sweep" => Sweep.run(run)
      case other => sys.error(s"unknown workload '$other'")
    }
    Files.writeString(Paths.get(run.runDir, "result.json"), result)
  }

  /** The library's shared local session, exactly as library users get it. */
  def session(nproc: Int): SparkSession = {
    val s = graft.util.Sessions.local(nproc)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Start a fresh session `SetupReps` times, running `prepare` on each; the
    * last session (and its listener) is the one the run measures with.
    */
  def setUp[T](run: Run)(prepare: SparkSession => T): (SparkSession, Trace, T, Seq[Double]) = {
    var last: (SparkSession, Trace, T, Double) = null
    val times = (1 to SetupReps).map { rep =>
      if (last != null) last._1.stop()
      // only the last setup is traced: its session is the one measured
      last = start(run, run.traced && rep == SetupReps)(prepare)
      last._4
    }
    (last._1, last._2, last._3, times)
  }

  /** One setup: start a session and run `prepare` on it; returns the session,
    * its listener (recording when `traced`), what `prepare` returned and the
    * seconds the setup took.
    */
  def start[T](run: Run, traced: Boolean)(prepare: SparkSession => T)
      : (SparkSession, Trace, T, Double) = {
    val t0 = System.nanoTime()
    val spark = session(run.nproc)
    val trace = new Trace(spark.sparkContext)
    if (traced) {
      spark.sparkContext.addSparkListener(trace)
      trace.resume()
    }
    val prepared = trace.span("setup", "setup")(prepare(spark))
    (spark, trace, prepared, seconds(t0))
  }

  /** Facts every result records about the configuration that ran. */
  def record(spark: SparkSession, run: Run): Map[String, Any] = Map(
    "nproc" -> run.nproc,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "spark_version" -> spark.version,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
    "seed" -> run.seed)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Total bytes of the regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    var bytes = 0L
    Files.walk(Paths.get(dir)).forEach(p => if (Files.isRegularFile(p)) bytes += Files.size(p))
    bytes
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val all = ArrayBuffer.empty[java.nio.file.Path]
      Files.walk(p).forEach(x => all += x)
      all.reverseIterator.foreach(Files.delete)
    }
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}
