package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions
import graft.graph.Materialize
import graft.io.TableIO
import graft.model.{CanonTriple, LinkedTriple, RawTriple, Turn}
import graft.operators.canon.Canonicalize
import graft.operators.extract.{Extract, MentionDetector}
import graft.operators.link.EntityLinker
import graft.plans.Pipeline
import graft.sources.TranscriptGen

/** `ingest`: `Pipeline.run` with every stage committed through `TableIO`,
  * over a `TranscriptGen` corpus (the run's seed, default hub skew) that
  * setup writes as parquet and the pipeline reads in place. One closed-loop
  * client; each operation is one `Pipeline.run` into a fresh workDir.
  */
object Ingest {

  /** Conversations in the corpus (about 21 turns each, so about 215k turns). */
  val Conversations = 10000L

  final case class Op(wallS: Double, turns: Long, storedBytes: Long,
      stages: Map[String, Long], errors: Seq[String])

  def run(run: Main.Run): String = {
    val gen = config(run.seed)
    val corpus = s"${run.runDir}/corpus"
    // the first setup generates and writes the corpus, the later ones read it
    var written = false
    val (spark, trace, corpusRows, setupS) = Main.setUp(run) { spark =>
      if (written) spark.read.parquet(corpus).count()
      else { written = true; writeCorpus(spark, gen, corpus) }
    }
    val corpusBytes = Main.bytesUnder(corpus)

    val ops = ArrayBuffer.empty[Op]
    def pipelineOp(): Op = {
      val workDir = s"${run.runDir}/work-${ops.size}"
      val t0 = System.nanoTime()
      val r = Pipeline.run(spark, pipelineConfig(gen, corpus, workDir))
      val wall = Main.seconds(t0)
      val stages = r.stages.map(s => s.stage -> s.rows).toMap
      val errors = check(spark, workDir, stages, corpusRows)
      val stored = Main.bytesUnder(workDir)
      Main.deleteTree(workDir)
      Op(wall, r.turns, stored, stages, errors)
    }

    var traceFields = Seq.empty[(String, Any)]
    if (!run.traced) {
      // closed loop until the measured time reaches the run length; the
      // first run is JVM-cold, as a one-shot ingest job is (a warm-up run
      // before it does not fit the run budget)
      while (ops.isEmpty || ops.map(_.wallS).sum < run.seconds) ops += pipelineOp()
    } else {
      trace.pause()
      ops += pipelineOp()
      // overhead: the sequential layer calls traced (the pass the ledger
      // reports), then untraced; running the traced pass first charges any
      // remaining warm-up to tracing, so the overhead reads high, not low
      trace.resume()
      val traced = trace.span("ingest", "") {
        timed(sequential(spark, trace, gen, corpus, s"${run.runDir}/seq-traced"))
      }
      trace.pause()
      val untraced = timed(sequential(spark, trace, gen, corpus, s"${run.runDir}/seq-untraced"))
      trace.finish(s"${run.runDir}/trace.jsonl")
      traceFields = Seq("sequential_untraced_s" -> untraced, "sequential_traced_s" -> traced)
    }
    val fields = Seq(
      "record" -> (Main.record(spark, run) ++ Map(
        "corpus_turns" -> corpusRows, "corpus_bytes" -> corpusBytes,
        "conversations" -> Conversations, "hub_frac" -> gen.hubFrac)),
      "setup_s" -> setupS,
      "ops" -> ops.map(o => Json.Raw(Json.obj("wall_s" -> o.wallS, "turns" -> o.turns,
        "stored_bytes" -> o.storedBytes, "stages" -> o.stages, "errors" -> o.errors)))
    ) ++ traceFields
    spark.stop()
    Json.obj(fields: _*)
  }

  def config(seed: Long): TranscriptGen.Config =
    TranscriptGen.Config(nConv = Conversations, seed = seed)

  def pipelineConfig(gen: TranscriptGen.Config, corpus: String, workDir: String): Pipeline.Config =
    Pipeline.Config(workDir, gen, transcriptsPath = Some(corpus), inputOrdered = true,
      checkpoint = "all")

  /** Generate the corpus and write it as parquet to `dir`; returns its rows. */
  def writeCorpus(spark: SparkSession, gen: TranscriptGen.Config, dir: String): Long = {
    Main.deleteTree(dir)
    TranscriptGen.turns(spark, gen).write.parquet(dir)
    spark.read.parquet(dir).count()
  }

  /** Stage row counts of one `Pipeline.run` per seed, run exactly as the
    * workload runs it, one JSON line per seed appended to `out`. These are
    * the counts `perfbench/expected/ingest_stages.json` holds and every
    * ingest run is checked against.
    */
  def expect(seeds: Seq[Long], runDir: String, nproc: Int, out: String): Unit = {
    val spark = Main.session(nproc)
    for (seed <- seeds) {
      val gen = config(seed)
      val corpus = s"$runDir/corpus"
      val rows = writeCorpus(spark, gen, corpus)
      val workDir = s"$runDir/work"
      val stages = Pipeline.run(spark, pipelineConfig(gen, corpus, workDir)).stages
        .map(s => s.stage -> s.rows).toMap
      val errors = check(spark, workDir, stages, rows)
      if (errors.nonEmpty) sys.error(s"seed $seed: ${errors.mkString("; ")}")
      Main.deleteTree(workDir)
      val line = Json.obj("seed" -> seed, "conversations" -> Conversations,
        "hub_frac" -> gen.hubFrac, "stages" -> stages) + "\n"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    Main.seconds(t0)
  }

  /** Invariants of one `Pipeline.run`; returns what failed. */
  def check(spark: SparkSession, workDir: String, stages: Map[String, Long],
      corpusRows: Long): Seq[String] = {
    val errors = ArrayBuffer.empty[String]
    if (stages.getOrElse("transcripts", -1L) != corpusRows)
      errors += s"transcripts ${stages.get("transcripts")} != corpus rows $corpusRows"
    if (stages.get("canon") != stages.get("linked"))
      errors += s"canon rows ${stages.get("canon")} != linked rows ${stages.get("linked")}"
    val nodes = TableIO.read(spark, s"$workDir/nodes").select("id")
    val edges = TableIO.read(spark, s"$workDir/edges")
    val dangling = edges.select(col("src").as("id")).union(edges.select(col("dst").as("id")))
      .join(nodes, Seq("id"), "left_anti").count()
    if (dangling != 0) errors += s"$dangling edge endpoints missing from nodes"
    errors.toSeq
  }

  /** The pipeline's stages called one after another in `Pipeline` order,
    * each stage's compute and its `TableIO` commit in separate spans. Job
    * groups do not follow `Pipeline.run`'s concurrent-stage threads, so the
    * traced run calls the layers itself.
    */
  def sequential(spark: SparkSession, trace: Trace, gen: TranscriptGen.Config,
      corpus: String, workDir: String): Unit = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val dict = TranscriptGen.aliasDictDs(spark, gen).persist(StorageLevel.MEMORY_AND_DISK)
    val turns = trace.span("transcripts.read", "io") {
      val df = spark.read.parquet(corpus)
      df.count()
      df.as[Turn]
    }
    val gazetteer = trace.span("gazetteer", "extract.mentions") {
      MentionDetector.writeIndexFile(TranscriptGen.gazetteerDs(spark, gen), s"$workDir/gazetteer")
    }

    def stage(name: String, layer: String, partitionBy: Seq[String] = Nil)
        (compute: => DataFrame): (DataFrame, Long) = {
      val df = trace.span(name, layer) {
        val d = compute.persist(StorageLevel.MEMORY_AND_DISK)
        d.count()
        d
      }
      val snap = trace.span(s"$name.commit", "io") {
        TableIO.write(df, s"$workDir/$name", name, partitionBy)
      }
      df.unpersist(false)
      trace.count(s"io.$name.bytes", snap.files.map(_.bytes).sum.toDouble)
      trace.count(s"io.$name.files", snap.files.size.toDouble)
      trace.count(s"$name.rows", snap.rows.toDouble)
      (trace.span(s"$name.read", "io")(TableIO.read(spark, s"$workDir/$name")), snap.rows)
    }

    stage("mentions", "extract.mentions")(Extract.mentions(turns, gazetteer).toDF())
    val (triples, _) = stage("triples", "extract.triples")(Extract.triples(turns).toDF())
    val (linked, linkedRows) = stage("linked", "link") {
      EntityLinker.link(triples.as[RawTriple], dict, useLsh = true).toDF()
    }
    trace.span("linked.audit", "check") {
      val resolved = linked.where(!col("link_method").contains("surface")).count()
      trace.count("link.linked_frac", resolved.toDouble / math.max(1L, linkedRows))
    }
    val (canon, _) = stage("canon", "canon")(Canonicalize(linked.as[LinkedTriple], dict).toDF())
    graft.util.TempCaches.release(spark)
    trace.span("canon.audit", "check") {
      val ids = canon.select(col("subj_id").as("id")).union(canon.select(col("obj_id").as("id")))
      trace.count("canon.components", ids.distinct().count().toDouble)
    }
    val types = dict.select(col("canonical_name").as("canon_name"), col("entity_type")).distinct()
    val graph = Materialize.graph(canon.as[CanonTriple], Some(types))
    stage("nodes", "graph.materialize")(graph.nodes)
    stage("edges", "graph.materialize", Seq("rel_type"))(graph.edges)
    dict.unpersist(false)
    Main.deleteTree(workDir)
  }
}
