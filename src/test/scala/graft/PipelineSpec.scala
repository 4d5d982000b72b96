package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.io.TableIO
import graft.plans.Pipeline
import graft.sources.TranscriptGen

/** End-to-end pipeline on a tiny corpus + the resumability gate
  * (BASELINE.md metric 4): a second run over a partially-complete workDir
  * must skip committed stages and recompute only what's missing, yielding
  * identical tables.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def cfg(dir: String, nConv: Int = 12) =
    Pipeline.Config(dir, TranscriptGen.Config(nConv = nConv))

  private def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  test("pipeline runs end-to-end and produces a consistent graph") {
    val dir = tmpDir("graft-pipe")
    val r = Pipeline.run(spark, cfg(dir))
    assert(r.stages.map(_.stage) ==
      Seq("transcripts", "mentions", "triples", "linked", "canon", "nodes", "edges"))
    assert(r.stages.forall(s => !s.resumed && s.rows > 0), r.stages)

    val nodes = TableIO.read(spark, s"$dir/nodes")
    val edges = TableIO.read(spark, s"$dir/edges")
    val canon = TableIO.read(spark, s"$dir/canon")
    // referential integrity: every edge endpoint is a node
    val nodeIds = nodes.select("id").as[Long].collect().toSet
    val endpointIds = edges.select("src").as[Long].collect().toSet ++
      edges.select("dst").as[Long].collect().toSet
    assert(endpointIds.subsetOf(nodeIds))
    assert(edges.count() == canon.count())
    // canonicalization collapsed alias variants: every dictionary alias of a
    // mentioned entity maps to one node
    val names = nodes.select("name").as[String].collect()
    assert(names.distinct.length == names.length)
    rm(dir)
  }

  test("checkpoint = final builds the same graph as all and releases its stage checkpoints") {
    val all = tmpDir("graft-all")
    val fin = tmpDir("graft-final")
    Pipeline.run(spark, cfg(all))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = Pipeline.run(spark, cfg(fin).copy(checkpoint = "final"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs still registered after the run: $leaked")
    assert(r.stages.forall(s => !s.resumed && s.rows > 0), r.stages)
    def rows(dir: String, table: String) =
      TableIO.read(spark, s"$dir/$table").collect().map(_.toString).sorted.toSeq
    for (table <- Seq("nodes", "edges")) assert(rows(fin, table) == rows(all, table), table)
    rm(all); rm(fin)
  }

  test("a failed concurrent stage releases the other side's checkpoint") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[RuntimeException](Pipeline.concurrently(
      spark.range(1000).toDF().localCheckpoint(true),
      throw new RuntimeException("stage failed")))
    assert(e.getMessage == "stage failed")
    // Spark holds persistent RDDs weakly, so a GC may drop unrelated ids
    // in between: the check is that the call left no id registered
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("killed run resumes: committed stages are skipped, outputs identical") {
    val dir = tmpDir("graft-resume")
    val c = cfg(dir)
    val first = Pipeline.run(spark, c)
    val edgesBefore = TableIO.read(spark, s"$dir/edges")
      .select("id").as[Long].collect().sorted.toSeq

    // simulate a crash after S3: wipe canon/nodes/edges commits
    rm(s"$dir/canon"); rm(s"$dir/nodes"); rm(s"$dir/edges")
    val second = Pipeline.run(spark, c)
    val byStage = second.stages.map(s => s.stage -> s.resumed).toMap
    assert(byStage("transcripts") && byStage("mentions") && byStage("triples") && byStage("linked"))
    assert(!byStage("canon") && !byStage("nodes") && !byStage("edges"))

    val edgesAfter = TableIO.read(spark, s"$dir/edges")
      .select("id").as[Long].collect().sorted.toSeq
    assert(edgesBefore == edgesAfter, "resume must reproduce identical edge ids")
    rm(dir)
  }

  test("resume with a different config fails fast instead of serving stale tables") {
    val dir = tmpDir("graft-cfgfp")
    Pipeline.run(spark, cfg(dir, nConv = 4))
    val other = Pipeline.Config(dir, TranscriptGen.Config(nConv = 8))
    val e = intercept[IllegalStateException](Pipeline.run(spark, other))
    assert(e.getMessage.contains("different pipeline config"))
    rm(dir)
  }

  test("snapshot manifests carry per-file lineage rows") {
    val dir = tmpDir("graft-manifest")
    Pipeline.run(spark, cfg(dir, nConv = 4))
    val m = TableIO.manifests(spark, s"$dir/triples")
    val row = m.orderBy(org.apache.spark.sql.functions.desc("snapshot_id")).head()
    assert(row.getAs[Long]("row_count") > 0)
    val files = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("files"))
    assert(files.nonEmpty && files.forall(f => f.getAs[Long]("bytes") > 0))
    assert(files.map(_.getAs[Long]("rows")).sum == row.getAs[Long]("row_count"))
    rm(dir)
  }

  test("time travel: snapshots are immutable, readAt serves any committed version") {
    val dir = tmpDir("graft-timetravel")
    val table = s"$dir/tt"
    TableIO.write(Seq(1L, 2L, 3L).toDF("x"), table, stage = "tt")
    TableIO.write(Seq(10L, 20L).toDF("x"), table, stage = "tt")
    assert(TableIO.snapshotIds(table) == Seq(0L, 1L))
    assert(TableIO.currentId(table).contains(1L))
    // VERSION AS OF semantics: the superseded snapshot stays queryable
    assert(TableIO.readAt(spark, table, 0L).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(TableIO.read(spark, table).as[Long].collect().sorted.toSeq == Seq(10L, 20L))
    assert(TableIO.readAt(spark, table, 1L).as[Long].collect().sorted.toSeq == Seq(10L, 20L))
    intercept[IllegalStateException](TableIO.readAt(spark, table, 99L))
    rm(dir)
  }

  test("lost CURRENT pointer recovers from manifests (crash between manifest write and pointer swap)") {
    val dir = tmpDir("graft-current")
    Pipeline.run(spark, cfg(dir, nConv = 4))
    val table = s"$dir/triples"
    val before = TableIO.currentId(table)
    assert(before.isDefined)
    val rows = TableIO.read(spark, table).count()
    // simulate a crash that lost the pointer: manifest (the commit point)
    // and data _SUCCESS survive, CURRENT does not
    Files.delete(Paths.get(table, "metadata", "CURRENT"))
    assert(TableIO.currentId(table) == before,
      "currentId must recover the committed snapshot by scanning manifests")
    assert(TableIO.isComplete(table))
    assert(TableIO.read(spark, table).count() == rows)
    rm(dir)
  }

  test("per-turn text equality under stable ordering (row-level invariant)") {
    val dir = tmpDir("graft-inv")
    Pipeline.run(spark, cfg(dir, nConv = 6))
    val stored = TableIO.read(spark, s"$dir/transcripts")
      .select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sortBy(t => (t._1, t._2))
    val direct = (0L until 6L).flatMap(o =>
      TranscriptGen.genConv(o, TranscriptGen.Config(nConv = 6))._1)
      .map(t => (t.conv_id, t.turn_idx, t.text)).sortBy(t => (t._1, t._2))
    assert(stored.toSeq == direct)
    rm(dir)
  }
}
