package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `sweep`: one `SparkEntry` query for each layer that `ingest` does not
  * run, alphabetically, with `.count()` as the action and
  * `TempCaches.release` between queries. An untimed warm-up pass on the
  * JVM's first session comes first; each timed pass then runs on a session
  * started for it, so the memoized graph is built inside the pass (cold).
  */
object Sweep {

  /** One query per layer, chosen from a cold pass over all 65 queries
    * (sf0.01, 4 CPUs; that pass takes about 80 s): `kg_cypher`, which builds
    * the memoized graph (extract, exact link, canon, materialize), and
    * `kg_match_varlen` for graph.query; `dd_embed_neardup` (dedup) and
    * `st_sessions` (streaming), the heaviest of their layers; `sim_ann_lsh`
    * for similarity (`sim_ann_ivf`, the heaviest, takes 5 s warm, more than
    * a run's budget leaves); `q13_window`, the heaviest of q01-q18, for
    * sparkentry; and `ta_top_tokens`, `mm_decode` for text and multimodal.
    */
  val Selected: Seq[String] = Seq("dd_embed_neardup", "kg_cypher", "kg_match_varlen",
    "mm_decode", "q13_window", "sim_ann_lsh", "st_sessions", "ta_top_tokens")

  final case class Query(name: String, layer: String, totalMs: Double, rows: Long, error: String)

  /** The layer (module) a query exercises. */
  def layerOf(name: String): String = name match {
    case "kg_mentions" | "kg_salted_mentions" => "extract.mentions"
    case "kg_triples" => "extract.triples"
    case "kg_linked" => "link"
    case "kg_components" => "canon"
    case "kg_nodes" | "kg_edges" => "graph.materialize"
    case n if n.startsWith("kg_match") || n.startsWith("kg_cypher") => "graph.query"
    case n if n.startsWith("dd_") => "dedup"
    case n if n.startsWith("sim_") => "similarity"
    case n if n.startsWith("ta_") => "text"
    case n if n.startsWith("st_") => "streaming"
    case n if n.startsWith("mm_") => "multimodal"
    case _ => "sparkentry" // q01..q18, el_bench, kg_transcripts
  }

  def run(run: Main.Run): String = {
    val names = Selected
    java.nio.file.Files.writeString(java.nio.file.Paths.get(run.runDir, "oracle_sql.json"),
      Json.value(SparkEntry.oracleSql))
    // input preparation: resolve every input table's schema
    val tables = new java.io.File(run.sfDir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    def prepare(spark: SparkSession): Unit = tables.foreach(t => spark.read.parquet(t).schema)
    // warm-up, untimed: the JVM's first session runs the pass once, so that
    // class loading and JIT compilation are over before anything is timed
    val (warm, warmTrace, _, _) = Main.start(run, traced = false)(prepare)
    val warmup = pass(warm, warmTrace, run.sfDir, names)
    warm.stop()
    // each timed pass runs on a session of its own, set up afresh, so the
    // memoized graph is built inside every pass (cold)
    val setupS = ArrayBuffer.empty[Double]
    val passes = ArrayBuffer.empty[(Double, Seq[Query])]
    var spark: SparkSession = null
    var trace: Trace = null
    while (passes.isEmpty || !run.traced && passes.map(_._1).sum < run.seconds) {
      if (spark != null) spark.stop()
      val (s, t, _, times) = Main.setUp(run)(prepare)
      spark = s
      trace = t
      setupS ++= times
      val t0 = System.nanoTime()
      val results = trace.span("sweep", "")(pass(spark, trace, run.sfDir, names))
      passes += ((Main.seconds(t0), results))
    }
    var traceFields = Seq.empty[(String, Any)]
    if (run.traced) {
      // overhead: the same queries again, warm, each once untraced and once
      // traced, alternating which runs first (a query's second run is faster)
      val ab = names.zipWithIndex.map { case (n, i) =>
        def untraced(): Double = {
          trace.pause()
          try pass(spark, trace, run.sfDir, Seq(n)).head.totalMs finally trace.resume()
        }
        def traced(): Double =
          trace.span("overhead", "check")(pass(spark, trace, run.sfDir, Seq(n))).head.totalMs
        if (i % 2 == 0) { val u = untraced(); (u, traced()) }
        else { val t = traced(); (untraced(), t) }
      }
      trace.finish(s"${run.runDir}/trace.jsonl")
      traceFields = Seq("overhead_untraced_ms" -> ab.map(_._1).sum,
        "overhead_traced_ms" -> ab.map(_._2).sum)
    }
    def queryJson(qs: Seq[Query]) = qs.map(q => Json.Raw(Json.obj("name" -> q.name,
      "layer" -> q.layer, "ms" -> q.totalMs, "rows" -> q.rows, "error" -> q.error)))
    val fields = Seq(
      "record" -> Main.record(spark, run),
      "setup_s" -> setupS,
      "warmup" -> queryJson(warmup),
      "ops" -> passes.map { case (wall, qs) =>
        Json.Raw(Json.obj("wall_s" -> wall, "queries" -> queryJson(qs)))
      }
    ) ++ traceFields
    spark.stop()
    Json.obj(fields: _*)
  }

  /** Run `names` in order; DataFrame construction and the action are
    * separate spans, so plan-building work shows apart from execution.
    */
  def pass(spark: SparkSession, trace: Trace, sfDir: String, names: Seq[String]): Seq[Query] =
    names.map { name =>
      val layer = layerOf(name)
      trace.span(name, layer) {
        val t0 = System.nanoTime()
        val (rows, error) =
          try {
            val df = trace.span(s"$name.build", layer)(SparkEntry.queries(name)(spark, sfDir))
            (trace.span(s"$name.action", layer)(df.count()), null)
          } catch { case e: Exception => (-1L, Main.errorText(e)) }
        val ms = (System.nanoTime() - t0) / 1e6
        graft.util.TempCaches.release(spark)
        Query(name, layer, ms, rows, error)
      }
    }
}
