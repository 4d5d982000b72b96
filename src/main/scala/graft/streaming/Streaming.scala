package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
    * resort. This is what lets the bounded-replay gate jobs stream a table
    * without duplicating the corpus (readStream requires a directory, and
    * the driver's tables are single parquet files); a production stream
    * reads its table directory directly and needs no staging at all.
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

  /** End-to-end streaming sessionization job over an events parquet table —
    * the driver-gate surface for [[sessionizeStream]]: readStream →
    * flatMapGroupsWithState → foreachBatch append to parquet, run to
    * completion with Trigger.AvailableNow, then the closed sessions are read
    * back. Deterministic and equal to batch gaps-and-islands sessionization
    * because one SENTINEL event per user is appended a full gap past the
    * global max event time: when the stream drains, every real session has
    * been proven closed by a later event and emitted exactly once; the
    * sentinel's own singleton session stays open in state and is discarded
    * with the stream (and filtered by `session_start <= max real ts` for
    * belt-and-braces). This is how a production run closes the books on a
    * bounded replay without weakening the streaming semantics.
    *
    * The drain is ONE micro-batch. Every sentinel sorts after its user's
    * real events, so the data batch itself closes and emits every real
    * session; the query runs with
    * `spark.sql.streaming.noDataMicroBatches.enabled=false` (for this query
    * only) so that no empty batch follows it. The events table and the
    * emitted sessions are read with [[graft.io.TableIO.readParquet]], whose
    * schema comes from a file footer, so neither read adds a Spark job.
    *
    * Returns (user_id, start_ms, end_ms, n_events) with epoch-millisecond
    * longs — integer-exact columns only, so the result is oracle-comparable
    * (float sums stay out of the gate).
    */
  def sessionizeParquetJob(spark: org.apache.spark.sql.SparkSession,
      eventsPath: String, workDir: String, gapSec: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val prepDir = s"$workDir/input"
    val outDir = s"$workDir/sessions"
    val ckDir = s"$workDir/ckpt"
    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(workDir), true)

    // the parquet ts column is TIMESTAMP_NTZ; the session runs UTC, so the
    // cast to (ltz) TIMESTAMP — what the Event encoder and unix_millis
    // expect — is lossless
    val raw = TableIO.readParquet(spark, eventsPath)
    val rawCols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val events = raw
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    // ONE prep scan of the corpus, not two: the per-user max-ts aggregate
    // (partial-agg'd map-side, shuffle is |users| rows) yields both the
    // sentinel user list and, reduced once more, the global max event time.
    // Kept (a checkpoint, released once the sentinels are written, also on
    // failure) so both reads share one aggregate.
    val perUserMax = events.groupBy(col("user_id"))
      .agg(max(unix_millis(col("ts"))).as("max_ms"))
      .localCheckpoint(false)
    val maxTsMs = try {
      val maxMs = perUserMax.agg(max(col("max_ms"))).as[Long].head()
      // sentinel strictly more than gap + watermark past every real event
      val sentinelMs = maxMs + gapSec * 1000L + 60000L
      // Stage = hard-link the corpus files into prepDir (zero-copy;
      // readStream needs a directory, and the driver's table is a single
      // parquet file), then APPEND only the sentinel rows (one tiny file per
      // user set). The corpus is never rewritten: a copy would be a second
      // full corpus materialization before the stream even starts. The
      // sentinel file carries the RAW ts type (TIMESTAMP_NTZ) so the dir has
      // one schema.
      Streaming.linkInto(eventsPath, prepDir)
      val tsRawType = raw.schema("ts").dataType
      // coalesce(1): perUserMax is post-shuffle (32 partitions locally), so
      // the bare write emitted one tiny sentinel file PER partition — each an
      // extra split (task + open cost) for the single microbatch that reads
      // the prep dir (guide §6 small-files). The sentinel set is |users|
      // rows; one file.
      perUserMax.select(col("user_id"))
        .coalesce(1)
        .select(lit(-1L).as("event_id"),
          timestamp_millis(lit(sentinelMs)).cast(tsRawType).as("ts"),
          col("user_id"), lit("__sentinel").as("event_type"), lit(0.0).as("value"))
        .write.mode("append").parquet(prepDir)
      maxMs
    } finally Checkpoints.release(perUserMax)

    // one micro-batch for the whole prep dir: FileStreamSource's default
    // maxFilesPerTrigger (1000) would split a >1000-file prep dir into
    // several batches with no event-time ordering — if the sentinel file
    // landed in an early batch the watermark would advance past every real
    // event and later batches would be silently dropped
    val streamSchema = org.apache.spark.sql.types.StructType(rawCols.map(raw.schema(_)))
    val stream = spark.readStream
      .option("maxFilesPerTrigger", Int.MaxValue)
      .schema(streamSchema).parquet(prepDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event]
    // one micro-batch: the sentinels close every real session inside the
    // data batch, so the no-data batch that would follow it (state-store
    // load and commit, offset and commit logs) emits nothing. The setting
    // is for this query only: a query copies the session's conf when it
    // starts, and the caller's value is restored right after.
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val callerNoData = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    val q =
      try sessionizeStream(stream, gapSec)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Session], _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .start()
      finally callerNoData.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
    q.awaitTermination()

    TableIO.readParquet(spark, outDir)
      .where(unix_millis(col("session_start")) <= maxTsMs) // drop sentinel-born sessions
      .select(col("user_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"),
        col("n_events"))
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
    * its state is evicted. Complete-mode/memory-sink (the previous gate
    * shape) would instead accumulate every window ever seen in driver
    * memory. Like [[sessionizeParquetJob]], a single sentinel event past
    * `max ts + windowDur + watermark` proves every real window closed inside
    * the AvailableNow drain; the sentinel's own window is filtered on
    * read-back. Unlike sessionization this drain keeps its no-data batch:
    * a window is emitted only once the watermark has passed its end, and
    * the watermark the sentinel sets takes effect in that batch.
    *
    * Returns (hour_sec, event_type, n) — integer-exact columns only, so the
    * result is oracle-comparable (float sums stay out of the gate; the batch
    * path q14 gates decimal sums).
    */
  def windowedCountsParquetJob(spark: org.apache.spark.sql.SparkSession,
      eventsPath: String, workDir: String,
      windowDur: String = "1 hour", watermark: String = "10 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val prepDir = s"$workDir/input"
    val outDir = s"$workDir/windows"
    val ckDir = s"$workDir/ckpt"
    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(workDir), true)

    import spark.implicits._
    val raw = TableIO.readParquet(spark, eventsPath)
    val rawCols = Seq("ts", "event_type", "value")
    val events = raw
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
    // sentinel lead DERIVED from the actual windowDur + watermark (not a
    // fixed default silently coupled to "1 hour"): the watermark must end up
    // strictly past the END of the window containing the last real event, or
    // append mode never emits the final windows — silent row loss. Evaluated
    // with the engine's own window/interval arithmetic so any parsable
    // duration strings stay consistent with the streaming plan — folded into
    // the SAME job as the max-ts aggregate (the separate one-row follow-up
    // job bought nothing but a scheduler round trip).
    val (maxTsMs, sentinelMs) = events.agg(max(col("ts")).as("m"))
      .select(unix_millis(col("m")).as("max_ms"),
        (unix_millis(window(col("m"), windowDur).getField("end") +
          expr(s"INTERVAL $watermark")) + lit(60000L)).as("sentinel_ms"))
      .as[(Long, Long)].head()
    // hard-link the corpus in, append only the one sentinel row — the corpus
    // is never rewritten (see sessionizeParquetJob); raw ts type keeps the
    // prep dir single-schema
    Streaming.linkInto(eventsPath, prepDir)
    val tsRawType = raw.schema("ts").dataType
    spark.range(1).select(
      timestamp_millis(lit(sentinelMs)).cast(tsRawType).as("ts"),
      lit("__sentinel").as("event_type"), lit(0.0).as("value"))
      .write.mode("append").parquet(prepDir)

    val streamSchema = org.apache.spark.sql.types.StructType(rawCols.map(raw.schema(_)))
    val stream = spark.readStream
      .option("maxFilesPerTrigger", Int.MaxValue) // single batch — see sessionizeParquetJob
      .schema(streamSchema).parquet(prepDir)
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
    val q = windowedCounts(stream, windowDur, watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()

    TableIO.readParquet(spark, outDir)
      .where(col("event_type") =!= "__sentinel" &&
        unix_millis(col("window_start")) <= maxTsMs)
      .select(unix_timestamp(col("window_start")).as("hour_sec"),
        col("event_type"), col("n"))
  }
}
