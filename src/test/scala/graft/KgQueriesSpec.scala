package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.io.TableIO
import graft.streaming.Streaming

/** Pre-driver smoke of the full SparkEntry contract at sf0.001: every query
  * runs and returns rows; a handful of hand-computed invariants guard the
  * oracle-facing semantics (the DuckDB value-compare itself is the driver's
  * job, mirrored locally by tools/check_oracle.py).
  */
class KgQueriesSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("every SparkEntry query runs and returns rows at sf0.001") {
    val counts = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, dir).count()
    }
    val empty = counts.filter(_._2 == 0)
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("every query key has an oracle — no rows-only waivers left") {
    // The waiver set emptied over rounds 3-5: the hash-based dedup sweeps
    // gained exact HUGEINT replays, the hyperplane-LSH pair (dd_embed_neardup,
    // sim_ann_lsh) gained the bit-exact plane-stream replay, and sim_ann_ivf
    // became replayable once its k-means was determinized (sorted Lloyd
    // folds + avalanche seeding). Any new query must ship with an oracle.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("kg invariants: 4 turns per conversation, per-turn text equality round-trips") {
    val t = SparkEntry.queries("kg_transcripts")(spark, dir)
    val perConv = t.groupBy("conv_id").count().select("count").distinct().collect()
    assert(perConv.map(_.getLong(0)).toSeq == Seq(4L))
    // triples: exactly 3 per conversation (turns 1..3), extracted from text alone
    val tr = SparkEntry.queries("kg_triples")(spark, dir)
    assert(tr.count() == t.select("conv_id").distinct().count() * 3)
  }

  test("kg_linked resolves every surface to a dictionary canonical (no 'surface' fallbacks)") {
    import spark.implicits._
    val linked = graft.operators.link.EntityLinker.link(
      graft.operators.extract.Extract.triples(graft.sources.TpchKg.turns(spark, dir)),
      graft.sources.TpchKg.dict(spark, dir), useLsh = false)
    val methods = linked.select("link_method").distinct().as[String].collect().toSet
    assert(methods == Set("dict/dict"), methods)
  }

  test("the memoized graph keeps linked, nodes, edges and patternEdges, and releases canon") {
    // a session the graph has not been memoized for yet
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    val before = rddsWithBlocks()
    SparkEntry.queries("kg_nodes")(s, dir).count()
    graft.util.TempCaches.release(s)
    val added = rddsWithBlocks() -- before
    // the kept tables, found as the checkpointed leaves of the queries
    // served from them: kg_linked (linked), kg_edges (nodes, edges) and
    // kg_cypher (nodes, patternEdges)
    val kept = Seq("kg_linked", "kg_edges", "kg_cypher").flatMap { q =>
      SparkEntry.queries(q)(s, dir).queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd.id
      }
    }.toSet
    assert(kept.size == 4, kept)
    assert(added == kept, s"added $added, kept $kept")
  }

  test("readParquet takes the footer's schema: inference's schema and rows, no Spark job") {
    def sortedRows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    def sameAsInference(path: String, jobs: Int): Unit = {
      var read: DataFrame = null
      assert(jobsRun { read = TableIO.readParquet(spark, path) } == jobs, path)
      val inferred = spark.read.parquet(path)
      assert(read.schema == inferred.schema, path)
      assert(sortedRows(read) == sortedRows(inferred), path)
    }
    val fixtures = new java.io.File(dir).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(fixtures.size == 10, fixtures)
    fixtures.foreach(sameAsInference(_, jobs = 0))
    // a directory of part files that Spark wrote: the sessions a streaming
    // query appended
    val work = tmpDir("graft-footer")
    Streaming.sessionizeParquetJob(spark, s"$dir/events.parquet", work, gapSec = 43200L)
    val parts = new java.io.File(s"$work/sessions").list().count(_.endsWith(".parquet"))
    assert(parts > 1, parts)
    sameAsInference(s"$work/sessions", jobs = 0)
    // partition subdirectories: read by inference, which finds the columns
    val partitioned = s"$work/partitioned"
    spark.range(10).withColumn("p", col("id") % 3).write.partitionBy("p").parquet(partitioned)
    sameAsInference(partitioned, jobs = jobsRun(spark.read.parquet(partitioned)))
    FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("a repeated query compiles no new class after more new classes than Spark's default cache holds") {
    def compiled(body: => Unit): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    def q13() = SparkEntry.queries("q13_window")(spark, dir).collect()
    q13()
    // 250 distinct generated classes (each literal is inlined into its
    // code): more than the 100 entries Spark's codegen cache holds by default
    val others = compiled((1 to 250).foreach { i =>
      GenerateUnsafeProjection.generate(
        Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong + 7919L))))
    })
    assert(others == 250)
    assert(compiled(q13()) == 0, "the repeated query recompiled its classes")
  }

  test("entry() (flagship) returns the full edge list") {
    val e = SparkEntry.entry(spark)
    assert(e.count() > 0)
    assert(e.columns.toSet ==
      Set("conv_id", "turn_idx", "src_name", "rel_type", "dst_name"))
  }
}
