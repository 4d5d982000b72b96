package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.io.TableIO
import graft.util.Checkpoints

/** Structured-Streaming operators over the events stream shape
  * (event_id, ts, user_id, event_type, value, props).
  */
object Streaming {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Populate `destDir` with ZERO-COPY links to the parquet data file(s) at
    * `srcPath` (a single file or a directory of part files): hard link when
    * the filesystems allow it, symlink otherwise, byte copy only as a last
    * resort. [[replay]] stages with it; a production stream reads its table
    * directory directly and needs no staging at all.
    */
  private[streaming] def linkInto(srcPath: String, destDir: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val dest = Paths.get(destDir)
    Files.createDirectories(dest)
    def link1(f: Path): Unit = {
      val t = dest.resolve(f.getFileName.toString)
      try { Files.createLink(t, f); () }
      catch { case _: Exception =>
        try { Files.createSymbolicLink(t, f.toAbsolutePath); () }
        catch { case _: Exception => Files.copy(f, t); () }
      }
    }
    val src = Paths.get(srcPath)
    if (Files.isDirectory(src)) {
      val s = Files.list(src)
      try s.filter(p => Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }).forEach(p => link1(p))
      finally s.close()
    } else link1(src)
  }

  /** Scratch root for the bounded-replay gate jobs. Streaming checkpoints
    * fsync offsets/commits plus one state-store delta per partition per
    * micro-batch; on a single local disk those fsyncs dominate a small gate
    * run. A host tmpfs is the one-box stand-in for the cluster's fast DFS
    * scratch (where a production stream keeps its checkpoint), so prefer it
    * when present. `GRAFT_STREAM_SCRATCH` overrides.
    */
  def scratchRoot(): String =
    sys.env.get("GRAFT_STREAM_SCRATCH").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-stream"
      else System.getProperty("java.io.tmpdir")
    }

  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Open-session state carried across micro-batches: constant-size
    * aggregates, never the raw events.
    */
  final case class OpenSession(startMs: Long, lastMs: Long, n: Long, total: Double)

  private def close(uid: Long, o: OpenSession): Session =
    Session(uid, new Timestamp(o.startMs), new Timestamp(o.lastMs), o.n, o.total)

  private def fold(uid: Long, sorted: Seq[Event], prior: Option[OpenSession],
      gapSec: Long): (Vector[Session], Option[OpenSession]) = {
    val out = Vector.newBuilder[Session]
    var open = prior
    sorted.foreach { e =>
      val t = e.ts.getTime
      open = open match {
        case Some(o) if t - o.lastMs > gapSec * 1000L =>
          out += close(uid, o)
          Some(OpenSession(t, t, 1L, e.value))
        case Some(o) =>
          Some(o.copy(lastMs = math.max(o.lastMs, t), n = o.n + 1, total = o.total + e.value))
        case None =>
          Some(OpenSession(t, t, 1L, e.value))
      }
    }
    (out.result(), open)
  }

  /** Batch sessionization: every session (including the final one per user)
    * is emitted — a plain per-group fold, no state machinery.
    */
  def sessionize(events: Dataset[Event], gapSec: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id).flatMapGroups { (uid, evs) =>
      val sorted = evs.toVector.sortBy(e => (e.ts.getTime, e.event_id))
      val (closed, open) = fold(uid, sorted, None, gapSec)
      (closed ++ open.map(close(uid, _))).iterator
    }
  }

  /** Streaming sessionization with custom state
    * (flatMapGroupsWithState, Append): a session is emitted exactly once —
    * either when a later event proves it closed (gap exceeded), or when the
    * event-time watermark passes the session's gap deadline (EventTimeTimeout)
    * for a user who went idle. State is therefore bounded: an open session
    * lives at most `gapSec` of event time past its last event, then is
    * emitted and REMOVED — no unbounded state growth on a long-running
    * stream. The open tail lives in constant-size checkpointed state, so the
    * stream resumes sessions across restarts. Assumes per-user event-time
    * arrives in order across batches (events later than the watermark are
    * dropped by the watermark, as usual for stateful streaming).
    *
    * @param watermark event-time watermark duration (e.g. "10 seconds") —
    *        required by EventTimeTimeout; bounds how late events may arrive.
    */
  def sessionizeStream(events: Dataset[Event], gapSec: Long,
      watermark: String = "10 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[Event], state: GroupState[OpenSession]) =>
          if (!evs.hasNext && state.hasTimedOut) {
            // watermark passed lastMs + gap with no new events: the open
            // session is provably closed — emit it and drop the state
            val out = state.getOption.map(close(uid, _)).iterator
            state.remove()
            out
          } else {
            val sorted = evs.toVector.sortBy(e => (e.ts.getTime, e.event_id))
            val (closed, open) = fold(uid, sorted, state.getOption, gapSec)
            open match {
              case Some(o) =>
                state.update(o)
                // fire when event-time watermark passes the gap deadline;
                // must be strictly beyond the current watermark or Spark
                // throws — max() guards sessions already older than it
                val deadline = o.lastMs + gapSec * 1000L
                state.setTimeoutTimestamp(
                  math.max(deadline, state.getCurrentWatermarkMs() + 1L))
              case None => if (state.exists) state.remove()
            }
            closed.iterator
          }
      }
  }

  /** Bounded replay of the events table at `eventsPath` through the
    * streaming `query`: the protocol behind both driver-gate jobs. It
    * resets `workDir`, stages the corpus and the caller's `sentinels` in
    * `workDir/input`, drains the query over that directory with
    * `Trigger.AvailableNow`, appending each micro-batch to
    * `workDir/<outName>` as parquet, and returns the emitted rows.
    *
    *  - Staging is zero-copy: the corpus files are linked in
    *    ([[linkInto]]), because a file stream reads a directory and the
    *    driver's tables are single parquet files, and only the sentinel rows
    *    are written. Each sentinel sits past every real event by more than
    *    the query's gap or window plus its watermark, so when the drain ends
    *    every real session or window has been proven closed and emitted
    *    exactly once, while the sentinel's own stays open in state and is
    *    left to the caller's read-back filter.
    *  - The sentinels are written with the table's raw `ts` type
    *    (TIMESTAMP_NTZ), so the directory has one schema. The stream casts
    *    `ts` to TIMESTAMP, which the operators expect; the session runs UTC,
    *    so the cast is lossless.
    *  - The whole directory is one micro-batch (`maxFilesPerTrigger` is
    *    unbounded). With the default of 1000 files a batch, a large
    *    directory splits into batches with no event-time order, and a
    *    sentinel read early would advance the watermark past real events,
    *    which later batches then drop.
    *  - With `oneBatch`, the query runs with no-data micro-batches off, so
    *    that no empty batch follows the data batch. A query copies the
    *    session's conf when it starts, and the caller's setting is restored
    *    right after.
    *
    * `raw` is the table as [[graft.io.TableIO.readParquet]] reads it, and so
    * is the output: the schema comes from a file footer, so neither read
    * adds a Spark job. `sentinels` has the stream's columns, `ts` as
    * TIMESTAMP.
    */
  private def replay(raw: DataFrame, eventsPath: String, workDir: String,
      outName: String, oneBatch: Boolean, sentinels: DataFrame)(
      query: DataFrame => DataFrame): DataFrame = {
    val spark = raw.sparkSession
    val work = new Path(workDir)
    work.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(work, true)
    val inDir = s"$workDir/input"
    val outDir = s"$workDir/$outName"
    linkInto(eventsPath, inDir)
    sentinels.withColumn("ts", col("ts").cast(raw.schema("ts").dataType))
      .write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .option("maxFilesPerTrigger", Int.MaxValue)
      .schema(StructType(sentinels.columns.toSeq.map(raw.schema(_)))).parquet(inDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val callerNoData = spark.conf.getOption(noData)
    if (oneBatch) spark.conf.set(noData, "false")
    val q =
      try query(stream)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$workDir/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .start()
      finally callerNoData.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
    q.awaitTermination()
    TableIO.readParquet(spark, outDir)
  }

  /** End-to-end streaming sessionization job over an events parquet table:
    * the driver-gate surface for [[sessionizeStream]], a bounded replay
    * (see [[replay]]) with one sentinel event per user. Equal to batch
    * gaps-and-islands sessionization: every sentinel sorts after its
    * user's real events, so the data batch itself closes and emits every
    * real session and the drain is ONE micro-batch. The sentinels' own
    * singleton sessions are filtered by `session_start <= max real ts`.
    *
    * Returns (user_id, start_ms, end_ms, n_events) with epoch-millisecond
    * longs: integer-exact columns only, so the result is oracle-comparable
    * (float sums stay out of the gate).
    */
  def sessionizeParquetJob(spark: SparkSession,
      eventsPath: String, workDir: String, gapSec: Long): DataFrame = {
    import spark.implicits._
    val raw = TableIO.readParquet(spark, eventsPath)
    // ONE prep scan of the corpus: the per-user max (partial-agg'd map-side,
    // |users| rows after the shuffle) gives both the sentinel users and,
    // reduced once more, the max real event time. Kept, and released when
    // the job ends (also on failure), so both reads share one aggregate.
    val perUserMax = raw.groupBy(col("user_id"))
      .agg(max(unix_millis(col("ts").cast("timestamp"))).as("max_ms"))
      .localCheckpoint(false)
    try {
      val maxMs = perUserMax.agg(max(col("max_ms"))).as[Long].head()
      // strictly more than gap + watermark past every real event
      val sentinelMs = maxMs + gapSec * 1000L + 60000L
      // coalesce(1): perUserMax is post-shuffle, and each sentinel file
      // would be one more split (task plus open cost) of the micro-batch
      val sentinels = perUserMax.select(col("user_id")).coalesce(1)
        .select(lit(-1L).as("event_id"), timestamp_millis(lit(sentinelMs)).as("ts"),
          col("user_id"), lit("__sentinel").as("event_type"), lit(0.0).as("value"))
      replay(raw, eventsPath, workDir, "sessions", oneBatch = true, sentinels)(
          stream => sessionizeStream(stream.as[Event], gapSec).toDF())
        .where(unix_millis(col("session_start")) <= maxMs)
        .select(col("user_id"),
          unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"),
          col("n_events"))
    } finally Checkpoints.release(perUserMax)
  }

  /** Watermarked tumbling-window aggregation (the canonical streaming agg):
    * events per (window, event_type) with counts and value sums.
    */
  def windowedCounts(events: DataFrame, windowDur: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** End-to-end streaming windowed aggregation over an events parquet table
    * — the driver-gate surface for [[windowedCounts]] in the BOUNDED-STATE
    * shape (append output + watermark eviction + foreachBatch parquet — the
    * same plan a production stream runs forever on): a window's row is
    * emitted exactly once, when the event-time watermark passes its end, and
    * its state is evicted. Complete-mode/memory-sink would instead
    * accumulate every window ever seen in driver memory. A bounded replay
    * (see [[replay]]) with a single sentinel event past
    * `max ts + windowDur + watermark`; the sentinel's own window is filtered
    * on read-back. The drain is TWO micro-batches: a window is emitted only
    * once the watermark has passed its end, and the watermark the sentinel
    * sets in the data batch takes effect in the no-data batch after it.
    *
    * Returns (hour_sec, event_type, n) — integer-exact columns only, so the
    * result is oracle-comparable (float sums stay out of the gate; the batch
    * path q14 gates decimal sums).
    */
  def windowedCountsParquetJob(spark: SparkSession,
      eventsPath: String, workDir: String,
      windowDur: String = "1 hour", watermark: String = "10 seconds"): DataFrame = {
    import spark.implicits._
    val raw = TableIO.readParquet(spark, eventsPath)
    // the sentinel lead is derived from windowDur + watermark with the
    // engine's own window and interval arithmetic: the watermark must end
    // strictly past the END of the last real event's window, or append mode
    // never emits it. One job computes it with the max.
    val (maxMs, sentinelMs) = raw.agg(max(col("ts").cast("timestamp")).as("m"))
      .select(unix_millis(col("m")).as("max_ms"),
        (unix_millis(window(col("m"), windowDur).getField("end") +
          expr(s"INTERVAL $watermark")) + lit(60000L)).as("sentinel_ms"))
      .as[(Long, Long)].head()
    val sentinel = spark.range(1).select(timestamp_millis(lit(sentinelMs)).as("ts"),
      lit("__sentinel").as("event_type"), lit(0.0).as("value"))
    replay(raw, eventsPath, workDir, "windows", oneBatch = false, sentinel)(
        windowedCounts(_, windowDur, watermark))
      .where(col("event_type") =!= "__sentinel" &&
        unix_millis(col("window_start")) <= maxMs)
      .select(unix_timestamp(col("window_start")).as("hour_sec"),
        col("event_type"), col("n"))
  }
}
