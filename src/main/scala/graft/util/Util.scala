package graft.util

import org.apache.spark.sql.SparkSession

/** Deterministic, dependency-free hashing used for id generation and for the
  * splittable generator streams. Stability matters (ids are derived, never
  * assigned by row position — no monotonically_increasing_id anywhere,
  * SURVEY.md §7.6(2)); cross-engine parity does not (ids never face DuckDB).
  */
object Hashing {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64-bit over UTF-8 bytes. */
  def fnv64(s: String): Long = {
    var h = FnvOffset
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** Splittable hash stream: mix a seed with positional fields so any subset
    * of conversations/turns regenerates identically (FIXTURES.md §1).
    */
  def mix(parts: Any*): Long = fnv64(parts.mkString("\u0001"))

  /** Non-negative bounded draw from a mix. */
  def draw(bound: Int, parts: Any*): Int = {
    val h = mix(parts: _*)
    (((h % bound) + bound) % bound).toInt
  }

  /** Uniform double in [0, 1) from a mix. */
  def unit(parts: Any*): Double =
    (mix(parts: _*) >>> 11).toDouble / (1L << 53).toDouble

  /** splitmix64 finalizer: full-avalanche post-mix. FNV-1a alone has weak
    * avalanche on short, similar keys — its low bit is literally the XOR of
    * input-byte parities (the multiplier is odd), and adjacent structured
    * keys give correlated high bits too; that collapsed the LSH hyperplanes
    * into one vector up to sign. Use the finalized variants whenever values
    * must be statistically independent across adjacent keys.
    */
  def avalanche(h0: Long): Long = {
    var z = h0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) with full avalanche (independent across
    * adjacent keys) — for pseudo-random plane components and the like.
    */
  def unitMixed(parts: Any*): Double =
    (avalanche(mix(parts: _*)) >>> 11).toDouble / (1L << 53).toDouble
}

/** Scoped lifecycle for the intermediate tables an operator keeps inside
  * one query: a table built once and read by several consumers (an LSH
  * signature table, a vocabulary, a per-round centroid table) is kept as an
  * in-memory checkpoint registered here, and sweep drivers (Bench, Verify)
  * release a session's checkpoints after each query materializes. Without
  * the release a long-lived session sweeping many queries accumulates
  * blocks until session teardown.
  *
  * A checkpoint, not a cached table: its scan is the same plan in every
  * consumer, so adaptive execution reuses one exchange or broadcast over
  * it; each scan of a cached table becomes a query stage of its own, and
  * two broadcasts of one cached table run two jobs. Unlike a cached table,
  * a lost checkpoint block is not recomputed (SCALING.md, "Kept
  * intermediates").
  *
  * Contract: release(spark) only between queries (after the consumer's
  * action): a checkpoint released mid-query fails its next scan.
  */
object TempCaches {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  private val checkpoints = scala.collection.mutable.ListBuffer.empty[DataFrame]

  /** Drop entries whose session has stopped: their blocks died with the
    * context, and retaining the DataFrames would pin whole plan/session
    * graphs for the JVM's lifetime in long-lived processes (tests, Bench)
    * whose library callers never call release.
    */
  private def dropStopped(): Unit =
    checkpoints.filterInPlace(df => !df.sparkSession.sparkContext.isStopped)

  /** In-memory checkpoint (`localCheckpoint`), registered for scoped
    * release. Lazy unless `eager`: the table's shuffles run now, its last
    * stage in the first job that reads it, which keeps it.
    */
  def checkpoint(df: DataFrame, eager: Boolean = false): DataFrame = {
    val c = df.localCheckpoint(eager)
    synchronized {
      dropStopped()
      checkpoints += c
    }
    c
  }

  /** Release every registered checkpoint belonging to `spark`. */
  def release(spark: SparkSession): Unit = synchronized {
    dropStopped()
    checkpoints.filterInPlace { df =>
      val mine = df.sparkSession eq spark
      if (mine) Checkpoints.release(df)
      !mine
    }
  }
}

/** Release of in-memory checkpoints. localCheckpoint persists at the RDD
  * layer (not the SQL CacheManager), so `df.unpersist` can't reach it — the
  * persisted RDD lives inside the plan's LogicalRDD leaf. Without an
  * explicit release a checkpoint's blocks stay resident until the JVM's GC
  * happens to collect its RDD, or until session teardown.
  */
object Checkpoints {
  import org.apache.spark.sql.Dataset
  import org.apache.spark.sql.execution.LogicalRDD

  /** Free the blocks of every checkpoint that `dfs` read, so pass only
    * tables whose checkpoints have no other consumer. A no-op for plans with
    * no LogicalRDD leaf (snapshot reads).
    */
  def release(dfs: Dataset[_]*): Unit =
    dfs.foreach(_.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    })

  /** Evaluate `body`; if it throws, release `dfs` before rethrowing — for
    * checkpoints whose only consumer is `body`.
    */
  def releasingOnFailure[T](dfs: Dataset[_]*)(body: => T): T =
    try body catch { case t: Throwable => release(dfs: _*); throw t }
}

object Sessions {
  /** Local session with the settings every entry point shares. Parallelism is
    * the scale knob used for the two-cluster-size scaling evidence
    * (BASELINE.md): same job at local[8] vs local[32].
    */
  def local(cores: Int, appName: String = "graft",
      localDir: Option[String] = None): SparkSession = {
    val b = builder(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    // spark.local.dir (shuffle/spill scratch) only applies to the FIRST
    // context in a JVM; Bench points it at tmpfs for the scaling trials
    localDir.foreach(d => b.config("spark.local.dir", d))
    b.getOrCreate()
  }

  /** Session for a spark-submit entry point: keeps the master spark-submit
    * injected (local[*] when run directly) and, like [[local]], sizes
    * shuffles to the cores the session got rather than Spark's default 200.
    */
  def submitted(appName: String): SparkSession = {
    val s = builder(appName)
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    s.conf.set("spark.sql.shuffle.partitions", s.sparkContext.defaultParallelism.toString)
    s
  }

  private def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // plan strings are rendered for the listener bus on EVERY execution
      // and every AQE plan update even with the UI off; unbounded, a plan
      // carrying big expression trees costs driver-minutes per action
      .config("spark.sql.maxPlanStringLength", "32768")
      // generated-code cache sized to the working set, above the 706 classes
      // a cold pass over the 65 SparkEntry queries compiles (4 CPUs): the
      // default of 100 entries cannot hold one cold KG build (~126), so a
      // repeated query recompiled its classes. A static setting, read once
      // per JVM by the first session that generates code.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
}
