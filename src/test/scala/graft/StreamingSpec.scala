package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.Streaming
import graft.streaming.Streaming.Event

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("gap sessionization splits on gaps > gap, aggregates per session") {
    val events = Seq(
      Event(1, ts(0), 1L, "click", 1.0),
      Event(2, ts(100), 1L, "click", 2.0),
      Event(3, ts(5000), 1L, "buy", 3.0), // new session (gap 4900 > 600)
      Event(4, ts(50), 2L, "click", 5.0)
    ).toDS()
    val sessions = Streaming.sessionize(events, gapSec = 600).collect()
      .map(s => (s.user_id, s.session_start.getTime / 1000, s.n_events, s.total_value)).toSet
    assert(sessions == Set((1L, 0L, 2L, 3.0), (1L, 5000L, 1L, 3.0), (2L, 50L, 1L, 5.0)))
  }

  test("streaming sessionization carries open sessions across micro-batches via state") {
    val dir = tmpDir("graft-sess")
    val ckpt = s"$dir/ckpt"
    def runBatch(events: Seq[Event], batchDir: String): Unit = {
      events.toDS().write.parquet(batchDir)
      val stream = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(s"$dir/in/*")
      val q = Streaming.sessionizeStream(stream.as[Event], gapSec = 600)
        .writeStream.outputMode("append")
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def emitted() = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[Streaming.Session]].schema)
      .parquet(s"$dir/out")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    // batch 1: two events 100s apart (one open session) — nothing closed yet.
    // Timestamps start past the initial watermark (epoch 0): an event AT the
    // watermark is dropped as late by stateful streaming.
    runBatch(Seq(Event(1, ts(1000), 1L, "click", 1.0), Event(2, ts(1100), 1L, "click", 2.0)),
      s"$dir/in/b1")
    assert(emitted().isEmpty, "open session must not be emitted")
    // batch 2: an event past the gap closes the first session
    runBatch(Seq(Event(3, ts(6000), 1L, "buy", 3.0)), s"$dir/in/b2")
    val sessions = emitted()
    assert(sessions == Set((1L, ts(1000), ts(1100), 2L, 3.0)),
      s"closed session must merge events across the batch boundary: $sessions")
  }

  test("idle user's open session closes via event-time timeout and state is removed") {
    val dir = tmpDir("graft-sess-timeout")
    val ckpt = s"$dir/ckpt"
    def runBatch(events: Seq[Event], batchDir: String): Unit = {
      events.toDS().write.parquet(batchDir)
      val stream = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(s"$dir/in/*")
      val q = Streaming.sessionizeStream(stream.as[Event], gapSec = 600)
        .writeStream.outputMode("append")
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def emitted() = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[Streaming.Session]].schema)
      .parquet(s"$dir/out")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    // batch 1: user 1 appears once (past the initial watermark), then goes
    // permanently idle
    runBatch(Seq(Event(1, ts(1000), 1L, "click", 1.0)), s"$dir/in/b1")
    assert(emitted().isEmpty, "open session must not be emitted yet")
    // batch 2: only user 2's events — they advance the watermark far past
    // user 1's gap deadline (1000 + 600s)
    runBatch(Seq(Event(2, ts(11000), 2L, "click", 2.0)), s"$dir/in/b2")
    // batch 3: the watermark registered at the end of batch 2 now fires the
    // EventTimeTimeout for user 1 — the session is emitted with NO user-1
    // event ever arriving again, and the state entry is removed
    runBatch(Seq(Event(3, ts(11010), 2L, "click", 1.0)), s"$dir/in/b3")
    val sessions = emitted()
    assert(sessions.contains((1L, ts(1000), ts(1000), 1L, 1.0)),
      s"idle user's session must be emitted by timeout: $sessions")
    assert(!sessions.exists(_._1 == 2L), s"user 2's session is still open: $sessions")
  }

  private val eventsPath = "/root/testdata/sf0.001/events.parquet"
  private def sessionsJob(workDir: String) =
    Streaming.sessionizeParquetJob(spark, eventsPath, workDir, gapSec = 43200L)
  private def windowsJob(workDir: String) =
    Streaming.windowedCountsParquetJob(spark, eventsPath, workDir)
  private val noData = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** What the bounded-replay `job` returns, after checking its drain: the
    * streaming query it ran reported progress for micro-batches `batches`,
    * its last progress counts `stateRows` rows in its one state store, and
    * the session's no-data micro-batch setting is unchanged.
    */
  private def drained[T](batches: Seq[Long], stateRows: Long)(job: => T): T = {
    val callerNoData = spark.conf.getOption(noData)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      // delivered in order: every progress event of the query came before it
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(listener)
    val out = try {
      val out = job
      assert(terminated.await(60, java.util.concurrent.TimeUnit.SECONDS), "no query terminated")
      out
    } finally spark.streams.removeListener(listener)
    val ran = progress.asScala.toSeq
    assert(ran.map(_.batchId) == batches, s"the drain ran micro-batches ${ran.map(_.batchId)}")
    assert(ran.last.stateOperators.map(_.numRowsTotal).toSeq == Seq(stateRows),
      s"state rows after the drain: ${ran.last.stateOperators.map(_.numRowsTotal).toSeq}")
    assert(spark.conf.getOption(noData) == callerNoData, "the session's setting changed")
    out
  }

  test("sessionizeParquetJob == batch sessionize on the sf0.001 events table") {
    val gapSec = 43200L
    val events = spark.read.parquet(eventsPath)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event]
    // one micro-batch; the state keeps one open session a user, the
    // sentinel's
    val users = events.select("user_id").distinct().count()
    val got = drained(Seq(0L), stateRows = users)(sessionsJob(tmpDir("graft-st-job")))
      .as[(Long, Long, Long, Long)].collect().toSet
    val expect = Streaming.sessionize(events, gapSec).collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events))
      .toSet
    assert(got.nonEmpty && got == expect,
      s"stream/batch sessionization diverged: extra=${got.diff(expect).take(3)} " +
        s"missing=${expect.diff(got).take(3)}")
  }

  for ((name, job) <- Seq[(String, String => Any)](
      "sessionizeParquetJob releases its per-user aggregate when staging fails" -> sessionsJob,
      "windowedCountsParquetJob holds no blocks when staging fails" -> windowsJob))
    test(name) {
      // a work dir under a regular file: staging the corpus fails after the
      // job's aggregates have run
      val callerNoData = spark.conf.getOption(noData)
      val file = java.nio.file.Files.createTempFile("graft-st-file", ".txt")
      val before = rddsWithBlocks()
      val e = intercept[java.io.IOException](job(s"$file/work"))
      assert(e.getStackTrace.exists(_.getMethodName == "linkInto"), e)
      val kept = rddsWithBlocks() -- before
      assert(kept.isEmpty, s"RDDs still holding blocks after the failure: $kept")
      assert(spark.conf.getOption(noData) == callerNoData, "the session's setting changed")
      java.nio.file.Files.delete(file)
    }

  test("windowedCountsParquetJob (append + watermark eviction) == batch hourly agg on sf0.001 events") {
    // two micro-batches: the sentinel's watermark emits the windows in the
    // second, which evicts all but the sentinel's window from state
    val got = drained(Seq(0L, 1L), stateRows = 1L)(windowsJob(tmpDir("graft-stw-job")))
      .as[(Long, String, Long)].collect().toSet
    val expect = spark.read.parquet(eventsPath)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_sec"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(got.nonEmpty && got == expect,
      s"stream/batch windowed agg diverged: extra=${got.diff(expect).take(3)} " +
        s"missing=${expect.diff(got).take(3)}")
  }

  test("streaming windowed aggregation over a file source (memory sink)") {
    val dir = tmpDir("graft-stream")
    val events = Seq(
      Event(1, ts(10), 1L, "click", 1.0),
      Event(2, ts(70), 1L, "click", 2.0),
      Event(3, ts(80), 2L, "buy", 4.0)
    ).toDS()
    events.write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val agg = Streaming.windowedCounts(stream, "1 minute", "2 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val res = spark.table("win_counts")
      .select(unix_timestamp(col("window_start")).as("w"), col("event_type"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(res == Set((0L, "click", 1L), (60L, "click", 1L), (60L, "buy", 1L)))
  }
}
