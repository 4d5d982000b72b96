package graft.plans

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.graph.{GraphTables, Materialize}
import graft.io.TableIO
import graft.model.{CanonTriple, LinkedTriple, RawTriple, Turn}
import graft.operators.canon.Canonicalize
import graft.operators.extract.{Extract, MentionDetector}
import graft.operators.link.EntityLinker
import graft.sources.TranscriptGen
import graft.util.{Checkpoints, Sessions, TempCaches}

/** The end-to-end KG-construction pipeline (SURVEY.md §7.2):
  *
  * {{{
  * transcripts ─► S1 mentions ─► S2 triples ─► S3 linked ─► S4 canon ─► S5 nodes/edges
  * }}}
  *
  * Every stage boundary is a snapshot write through [[TableIO]]; `run` skips
  * any stage whose table is already complete, so a killed run resumes after
  * the last committed stage with zero recomputation (the resumability gate
  * in BASELINE.md). Stage metrics (rows, wall ms, resumed?) are returned and
  * written alongside the tables.
  */
object Pipeline {

  final case class Config(
      workDir: String,
      gen: TranscriptGen.Config,
      useLsh: Boolean = true,
      transcriptsPath: Option[String] = None,
      /** The external table at [[transcriptsPath]] already holds the
        * ordered-read layout (range-partitioned by conv_id, sorted by
        * (conv_id, turn_idx) within partitions — an Iceberg table written
        * with that sort order): read it IN PLACE, treating the input table
        * itself as the committed `transcripts` snapshot. This is the
        * production shape of the north rule ("reads the transcript Iceberg
        * table ordered by (conv_id, turn_idx)"): a job over an existing
        * 10^12-turn table neither re-sorts it nor copies it into its own
        * storage before starting. Only unordered ingest (`inputOrdered =
        * false`) pays the one-time re-layout + snapshot.
        */
      inputOrdered: Boolean = false,
      /** "all": snapshot every stage (resumable, production default);
        * "final": keep intermediates as in-memory checkpoints and snapshot
        * only nodes/edges — the throughput-bench mode (a real cluster
        * checkpoints to scalable storage; a single local disk would
        * otherwise serialize the scaling measurement).
        */
      checkpoint: String = "all")

  final case class StageRun(stage: String, rows: Long, wallMs: Long, resumed: Boolean)

  final case class Result(workDir: String, stages: Seq[StageRun]) {
    def turns: Long = stages.find(_.stage == "transcripts").map(_.rows).getOrElse(0L)
  }

  private def stageDir(cfg: Config, s: String) = s"${cfg.workDir}/$s"

  /** Fail-fast guard: a workDir belongs to exactly one config. Resuming with
    * different generator/linking settings would silently serve the old run's
    * tables as if they were the new config's output.
    */
  private def checkConfigFingerprint(cfg: Config): Unit = {
    val fp = Seq(cfg.gen.nConv, cfg.gen.seed, cfg.gen.hubFrac, cfg.gen.aliasNoise,
      cfg.gen.nEntities, cfg.useLsh, cfg.transcriptsPath.getOrElse(""),
      cfg.inputOrdered).mkString("|")
    val p = new org.apache.hadoop.fs.Path(cfg.workDir, "config.fingerprint")
    TableIO.readString(p) match {
      case Some(prev) =>
        if (prev != fp) throw new IllegalStateException(
          s"workDir ${cfg.workDir} was created by a different pipeline config " +
            s"(existing: $prev, requested: $fp); use a fresh workDir or delete this one")
      case None => TableIO.writeString(p, fp)
    }
  }

  /** Canonical stage order for metrics — concurrent stage pairs complete in
    * nondeterministic order, the report shouldn't.
    */
  private val StageOrder = Seq("transcripts", "mentions", "triples", "linked",
    "canon", "nodes", "edges").zipWithIndex.toMap

  /** The graph tables: committed as snapshots in every checkpoint mode. */
  private val GraphStages = Set("nodes", "edges")

  /** How [[graphStages]] keeps each stage's output: `keep(name,
    * partitionBy)(compute)` computes the stage and returns the kept table.
    */
  private[graft] trait Keep {
    def apply(name: String, partitionBy: Seq[String] = Nil)(compute: => DataFrame): DataFrame
  }

  /** Keep a stage as an eager in-memory checkpoint: materialize it AND cut
    * lineage, so downstream stages and serving queries plan over a shallow
    * LogicalRDD scan — the shape a snapshot read gives for free. Without the
    * cut every downstream action re-canonicalizes and re-renders the whole
    * upstream DAG: with the LSH expression trees that was MINUTES of
    * driver-side plan-string building per AQE update (nondeterministic
    * 200-300 s stage stalls in the scaling bench), and for the memoized
    * graph ~2.0 s of a 2.6 s warm kg_match query at sf0.1 (the same
    * 2-expand+distinct plan over checkpointed leaves ran in 0.5 s).
    * Deserialized, not MEMORY_AND_DISK_SER: a serialized checkpoint makes
    * every downstream scan re-pay per-row deserialization, and canon reads
    * linked 2-3× (canon 31.4 s at 2 cores serialized vs ~12 s deserialized);
    * the rows are already compact UnsafeRows, and releasing each stage once
    * its consumers are kept caps residency at ~2 live stages.
    */
  private[graft] object InMemory extends Keep {
    def apply(name: String, partitionBy: Seq[String])(compute: => DataFrame): DataFrame =
      compute.localCheckpoint(true)
  }

  /** The local properties that tag a job: group, description, interrupt
    * flag and scheduler pool.
    */
  private val CallerProperties = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  /** Run two INDEPENDENT stages concurrently: Spark's scheduler interleaves
    * the two jobs' tasks, so one stage's straggler tail overlaps the
    * other's work instead of idling the cluster — a pure utilization win
    * at high parallelism (at low parallelism the scheduler simply
    * serializes the ready tasks, so it costs nothing there). This is
    * ordinary multi-threaded job submission on one SparkSession — the
    * supported Spark concurrency model — not a custom scheduler.
    *
    * Both sides settle before either failure surfaces: unwinding while the
    * other side is mid-write would leave it detached, still writing against
    * a run that is tearing down. On failure the side that succeeded has its
    * checkpoint released before the failure is rethrown — nothing else
    * holds a reference to it, so its blocks would otherwise stay pinned
    * until session teardown.
    *
    * Each side runs with the caller's job group, description, interrupt
    * flag and scheduler pool, so its jobs are tagged like the caller's. The
    * pool threads would otherwise carry whatever local properties the
    * thread that created them had. `spark.sql.execution.id` is not copied:
    * it belongs to the caller's running query, if any.
    */
  private[graft] def concurrently(sc: SparkContext)(a: => DataFrame,
      b: => DataFrame): (DataFrame, DataFrame) = {
    val props = CallerProperties.map(k => k -> sc.getLocalProperty(k))
    def tagged(side: => DataFrame): DataFrame = {
      val saved = CallerProperties.map(k => k -> sc.getLocalProperty(k))
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try side finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    val fa = Future(tagged(a))
    val fb = Future(tagged(b))
    val ra = Await.ready(fa, Duration.Inf).value.get
    val rb = Await.ready(fb, Duration.Inf).value.get
    (ra, rb) match {
      case (Success(x), Success(y)) => (x, y)
      case _ =>
        Seq(ra, rb).foreach(_.foreach(Checkpoints.release(_)))
        throw Seq(ra, rb).collectFirst { case Failure(e) => e }.get
    }
  }

  /** The KG stage DAG after extraction:
    *
    * {{{
    * triples ─► S3 linked ─► S4 canon ─► S5 nodes ∥ edges
    * }}}
    *
    * `keep` decides how each stage is kept: [[run]] commits TableIO
    * snapshots (with `checkpoint = "final"`, in-memory checkpoints for
    * linked and canon); SparkEntry's memoized graph keeps every stage
    * [[InMemory]]. A kept checkpoint is released as soon as its consumers
    * are kept: triples once linked is, linked once canon is, canon once
    * nodes and edges are; and when a stage fails, the checkpoints it read
    * are released before the failure is rethrown. Without these releases
    * every stage's blocks stay resident until session teardown, and the
    * peak footprint is the WHOLE pipeline's data instead of ~2 live stages:
    * at 26M turns that pushed a 48g heap into GC collapse (the 32-core
    * config burned 8× the 8-core config's CPU on the same stages).
    * Snapshot-kept stages read back from parquet (no LogicalRDD leaf), so
    * the release is a no-op there.
    *
    * @param serving the graph is built to serve queries: linked stays kept
    *        (kg_linked reads it), and the operators' TempCaches tables are
    *        left to the caller, because the build runs inside a query and
    *        TempCaches may only be released between queries. A pipeline run
    *        releases them once canon is kept, before S5's corpus-wide jobs
    *        need the memory.
    * @return linked (still kept only when `serving`) and the graph tables
    */
  private[graft] def graphStages(triples: Dataset[RawTriple], dict: DataFrame, useLsh: Boolean,
      keep: Keep, serving: Boolean): (DataFrame, GraphTables) = {
    val spark = triples.sparkSession
    import spark.implicits._
    // S3 — entity linking (broadcast joins only on the big side).
    val linked = keep("linked") { EntityLinker.link(triples, dict, useLsh).toDF() }
    Checkpoints.release(triples)
    // S4 — connected-components canonicalization. Canon consumes linked in
    // two subtrees (the sides vocabulary and the rewrite joins), which is
    // why linked is kept rather than left lazy.
    val canon = Checkpoints.releasingOnFailure(linked) {
      keep("canon") { Canonicalize(linked.as[LinkedTriple], dict).toDF() }
    }
    if (!serving) {
      Checkpoints.release(linked)
      // Canonicalize tracks its vocabulary-sized intermediates (sides, cmap,
      // CC contract map) in TempCaches; the kept canon is their last consumer
      TempCaches.release(spark)
    }
    // S5 — graph materialization; edges partitioned by rel_type (the Spark
    // analog of the reference's typeRelMap scan index).
    val types = dict.select(col("canonical_name").as("canon_name"), col("entity_type")).distinct()
    lazy val graph = Materialize.graph(canon.as[CanonTriple], Some(types))
    // S5a ∥ S5b — node and edge tables both derive from canon only
    val (nodes, edges) = Checkpoints.releasingOnFailure(linked, canon) {
      concurrently(spark.sparkContext)(
        keep("nodes") { graph.nodes },
        keep("edges", Seq("rel_type")) { graph.edges })
    }
    Checkpoints.release(canon)
    (linked, GraphTables(nodes, edges))
  }

  /** Run (or resume) the pipeline. Each stage reads its upstream from the
    * committed snapshot — not from the in-memory plan — which is what makes
    * resume exact and keeps per-stage plans short.
    */
  def run(spark: SparkSession, cfg: Config): Result = {
    import spark.implicits._
    GraftFunctions.register(spark)
    checkConfigFingerprint(cfg)
    // dictionary is generated distributed + deduped once, then reused by the
    // broadcast joins of S3/S4/S5
    val dict = TranscriptGen.aliasDictDs(spark, cfg.gen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stages = Seq.newBuilder[StageRun]
    def record(name: String, rows: Long, t0: Long): Unit = stages.synchronized {
      stages += StageRun(name, rows, (System.nanoTime() - t0) / 1000000, resumed = false)
    }

    // the graph tables are always committed; "final" keeps the stages
    // before them in memory
    object keep extends Keep {
      def apply(name: String, partitionBy: Seq[String])(compute: => DataFrame): DataFrame = {
        val dir = stageDir(cfg, name)
        val t0 = System.nanoTime()
        if (cfg.checkpoint == "final" && !GraphStages(name)) {
          val df = InMemory(name)(compute)
          record(name, df.count(), t0)
          df
        } else if (TableIO.isComplete(dir)) {
          // row count comes from the committed manifest — resumed runs keep
          // real counts in metrics instead of clobbering them with -1
          stages.synchronized {
            stages += StageRun(name, TableIO.currentRowCount(dir).getOrElse(-1L), 0L, resumed = true)
          }
          TableIO.read(spark, dir)
        } else {
          record(name, TableIO.write(compute, dir, name, partitionBy).rows, t0)
          TableIO.read(spark, dir)
        }
      }
    }

    // S0 — transcripts, stored range-partitioned by conv_id and sorted by
    // (conv_id, turn_idx) within partitions: the ordered-read invariant.
    // The re-range-partition fires ONLY for externally-ingested tables: the
    // generator's output already HAS the layout (spark.range partitions the
    // ordinal space contiguously, genConv emits turns in turn order, and the
    // zero-padded conv-%08d makes lexicographic order == ordinal order), so
    // repartitionByRange there would cost an extra full generation pass
    // (RangePartitioner sampling) plus a corpus-wide shuffle+sort for a
    // layout we already hold — measured at 21.7M turns it was the single
    // most expensive stage (140 s at local[32]). This mirrors production:
    // an Iceberg table already range-sorted by (conv_id, turn_idx) is read
    // in place; only unpartitioned ingest pays the one-time re-layout.
    val transcripts = cfg.transcriptsPath match {
      // ordered external table: read in place (see Config.inputOrdered). The
      // stage's cost is the row count (parquet metadata scan); the actual
      // column reads happen inside S1/S2, which scan the source table
      // directly — no second copy of the corpus in checkpoint storage.
      case Some(p) if cfg.inputOrdered =>
        val t0 = System.nanoTime()
        val df = spark.read.parquet(p)
        record("transcripts", df.count(), t0)
        df
      case _ => keep("transcripts") {
        cfg.transcriptsPath match {
          case Some(p) => spark.read.parquet(p)
            .repartitionByRange(col("conv_id"))
            .sortWithinPartitions(col("conv_id"), col("turn_idx"))
          case None => TranscriptGen.turns(spark, cfg.gen).toDF()
        }
      }
    }
    val turns = transcripts.as[Turn]

    // S1 ∥ S2 — mentions and triples both consume only transcripts: run them
    // concurrently so their task sets interleave (both are map-only).
    // Gazetteer: built DISTRIBUTED and file-backed (normalize→dedup→write,
    // executors load it from storage) — the vocabulary never materializes on
    // the driver, which is what lets the 500k-entity cap (and beyond) ship.
    // Written once per workDir; the config fingerprint above already pins
    // workDir↔generator-config, so a committed gazetteer is always current.
    val gazPath = s"${cfg.workDir}/gazetteer"
    val gazetteer: MentionDetector.Index = {
      val fs = new org.apache.hadoop.fs.Path(gazPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(gazPath, "_SUCCESS")))
        new MentionDetector.FileIndex(gazPath)
      else MentionDetector.writeIndexFile(TranscriptGen.gazetteerDs(spark, cfg.gen), gazPath)
    }
    val (mentionsDf, triplesDf) = concurrently(spark.sparkContext)(
      keep("mentions") { Extract.mentions(turns, gazetteer).toDF() },
      keep("triples") { Extract.triples(turns).toDF() })
    // transcripts fed only S1/S2; mentions is a terminal output table
    Checkpoints.release(transcripts, mentionsDf)

    graphStages(triplesDf.as[RawTriple], dict, cfg.useLsh, keep, serving = false)
    dict.unpersist(false)

    val result = Result(cfg.workDir,
      stages.result().sortBy(s => StageOrder.getOrElse(s.stage, 99)))
    writeMetrics(cfg, result)
    result
  }

  private def writeMetrics(cfg: Config, r: Result): Unit = {
    val json = r.stages.map(s =>
      s"""{"stage":"${s.stage}","rows":${s.rows},"wall_ms":${s.wallMs},"resumed":${s.resumed}}""")
      .mkString("[", ",", "]")
    TableIO.writeString(new org.apache.hadoop.fs.Path(cfg.workDir, "metrics.json"), json)
  }
}

/** spark-submit entry point: `PipelineMain <workDir> <nConv> [hubFrac]`. */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val nConv = args(1).toLong
    val hubFrac = if (args.length > 2) args(2).toDouble else 0.2
    val spark = Sessions.submitted("graft-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    val r = Pipeline.run(spark, Pipeline.Config(workDir,
      TranscriptGen.Config(nConv = nConv, hubFrac = hubFrac)))
    r.stages.foreach(s => println(s"[pipeline] ${s.stage}: rows=${s.rows} wallMs=${s.wallMs} resumed=${s.resumed}"))
    spark.stop()
  }
}
