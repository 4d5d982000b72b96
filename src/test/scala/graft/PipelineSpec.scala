package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit, lower, trim}

import graft.functions.GraftFunctions
import graft.io.TableIO
import graft.model.{AliasEntry, CanonTriple, LinkedTriple}
import graft.operators.canon.{Canonicalize, ConnectedComponents}
import graft.operators.extract.Extract
import graft.operators.link.EntityLinker
import graft.plans.Pipeline
import graft.sources.TranscriptGen
import graft.util.{Checkpoints, Hashing, TempCaches}

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
    val before = rddsWithBlocks()
    val r = Pipeline.run(spark, cfg(fin).copy(checkpoint = "final"))
    val leaked = rddsWithBlocks() -- before
    assert(leaked.isEmpty, s"RDDs still holding blocks after the run: $leaked")
    assert(r.stages.forall(s => !s.resumed && s.rows > 0), r.stages)
    def rows(dir: String, table: String) =
      TableIO.read(spark, s"$dir/$table").collect().map(_.toString).sorted.toSeq
    for (table <- Seq("nodes", "edges")) assert(rows(fin, table) == rows(all, table), table)
    rm(all); rm(fin)
  }

  test("a failed concurrent stage releases the other side's checkpoint") {
    val before = rddsWithBlocks()
    val e = intercept[RuntimeException](Pipeline.concurrently(spark.sparkContext)(
      spark.range(1000).toDF().localCheckpoint(true),
      throw new RuntimeException("stage failed")))
    assert(e.getMessage == "stage failed")
    assert((rddsWithBlocks() -- before).isEmpty)
  }

  test("both concurrent sides' jobs carry the caller's job group and description") {
    val sc = spark.sparkContext
    // (side, job group, description) of every job a side tagged as its own
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p.getProperty("spark.jobGroup.id") == "concurrently-fence") fence.countDown()
        else Option(p.getProperty("graft.test.side")).foreach(side => seen.add(
          (side, p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description"))))
      }
    }
    def side(name: String) = {
      sc.setLocalProperty("graft.test.side", name)
      try spark.range(100).toDF().localCheckpoint(true)
      finally sc.setLocalProperty("graft.test.side", null)
    }
    sc.addSparkListener(listener)
    try {
      // the first call's pool threads take the first group as their own;
      // the second call must still tag both sides with the second group
      for (group <- Seq("concurrently-a", "concurrently-b")) {
        sc.setJobGroup(group, s"$group description")
        val (a, b) = Pipeline.concurrently(sc)(side(s"$group/a"), side(s"$group/b"))
        Checkpoints.release(a, b)
      }
      // the listener bus delivers in order: once the fence job is seen,
      // every side job before it has been
      sc.setJobGroup("concurrently-fence", "fence")
      spark.range(1).count()
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val jobs = seen.toArray(Array.empty[(String, String, String)]).toSeq
    for (group <- Seq("concurrently-a", "concurrently-b"); s <- Seq("a", "b"))
      assert(jobs.exists(_._1 == s"$group/$s"), s"no job seen for $group/$s: $jobs")
    assert(jobs.forall { case (side, group, desc) =>
      side.startsWith(s"$group/") && desc == s"$group description"
    }, jobs)
  }

  private val tinyGen = TranscriptGen.Config(nConv = 12)

  private def tinyStages() =
    (Extract.triples(TranscriptGen.turns(spark, tinyGen)), TranscriptGen.aliasDictDs(spark, tinyGen))

  test("a failed canon or nodes stage releases the checkpoints kept before it") {
    val (triples, dict) = tinyStages()
    for (failing <- Seq("canon", "nodes")) {
      object failStage extends Pipeline.Keep {
        def apply(name: String, partitionBy: Seq[String])(compute: => DataFrame): DataFrame =
          if (name == failing) throw new RuntimeException(s"$name failed")
          else Pipeline.InMemory(name, partitionBy)(compute)
      }
      val before = rddsWithBlocks()
      val e = intercept[RuntimeException](
        Pipeline.graphStages(triples, dict, useLsh = false, failStage, serving = true))
      assert(e.getMessage == s"$failing failed")
      // a serving build leaves canon's TempCaches to the caller
      TempCaches.release(spark)
      assert((rddsWithBlocks() -- before).isEmpty, failing)
    }
  }

  /** Canonicalization as plain connected components over the whole alias
    * graph — every observed (surface id → resolved id) resolution plus the
    * dictionary's alias → canonical stars, no seed contraction — named by
    * `canonMap`: the oracle both canon paths are checked against.
    */
  private def wholeGraphCanon(linked: Dataset[LinkedTriple], dict: DataFrame): DataFrame = {
    val l = linked.toDF()
    val sides = l.select(col("subj_id").as("id"), col("subj_name").as("name"))
      .unionByName(l.select(col("obj_id").as("id"), col("obj_name").as("name")))
    val surface = sides.select(GraftFunctions.fnv64(lower(trim(col("name")))).as("src"),
      col("id").as("dst"))
    val stars = Canonicalize.dictSeeds(dict).select(col("id").as("src"), col("root").as("dst"))
    val comps = ConnectedComponents.run(surface.unionByName(stars))
    val names = sides.withColumn("is_dict", lit(false)).unionByName(Canonicalize.dictNames(dict))
    Canonicalize.rewrite(linked, Canonicalize.canonMap(comps, names)).toDF()
  }

  test("both canonicalization paths match whole-graph CC on five alias graphs") {
    def rows(d: DataFrame) = d.as[CanonTriple].collect().sortBy(_.toString).toSeq
    def entry(alias: String, name: String) = AliasEntry(alias, Hashing.fnv64(name), name, "T")
    def triple(i: Int, s: (Long, String), o: (Long, String)) =
      LinkedTriple("c", i, 0, s._1, s._2, "p", o._1, o._2, "x")
    def surface(name: String) = (Hashing.fnv64(name.trim.toLowerCase), name)
    def named(name: String) = (Hashing.fnv64(name), name)

    val (triples, genDict) = tinyStages()
    val genLinked = EntityLinker.link(triples, genDict, useLsh = true).cache()
    // the generated dictionary names one canonical per alias, so canon
    // alone would merge nothing: list b's lowercase alias under a as well,
    // so the two entities must merge and a's triples take b's name. b has
    // the smaller id and the smaller name, so b's contracted surface edge
    // is a self-loop, only runSeeded's root-root bridge joins a to b, and
    // a component of a alone would still be named a.
    val seen = genLinked.select("subj_name").distinct().as[String].collect().toSet
    val (b, a) = (0 until tinyGen.entityCount).map(TranscriptGen.entity)
      .filter(e => seen(e.canonical)).sortBy(_.canonical)
      .combinations(2).map(p => (p(0), p(1)))
      .find(p => Hashing.fnv64(p._1.canonical) < Hashing.fnv64(p._2.canonical)).get
    val bridged = genDict.unionByName(Seq(AliasEntry(b.canonical.toLowerCase,
      Hashing.fnv64(a.canonical), a.canonical, a.typ)).toDF())
    val inputs = Seq(
      ("generated corpus", genLinked, genDict),
      ("bridging ambiguous alias", genLinked, bridged),
      // "zeta"'s canonical id is the hash of an alias of Omega: a seed whose
      // root is itself a seeded id
      ("root chain", Seq(triple(0, named("zeta"), named("Omega")),
          triple(1, surface("Zeta Corp"), named("Omega"))).toDS(),
        Seq(entry("zeta corp", "zeta"), entry("zeta", "Omega"), entry("omega", "Omega")).toDF()),
      // unresolved surfaces keep their own names: their edges are self-loops
      ("unresolved case variants", Seq(triple(0, surface("Foo Bar"), surface("FOO BAR")),
          triple(1, surface("foo bar"), named("Omega"))).toDS(),
        Seq(entry("omega", "Omega")).toDF()),
      // U+FF21 sorts before U+1F600 in UTF-8 (EF.. < F0..), after it in
      // UTF-16 (FF21 > D83D)
      ("UTF-8 vs UTF-16 name order", Seq(triple(0, (7L, "\uD83D\uDE00"), (7L, "\uFF21")),
          triple(1, (7L, "\uFF21"), surface("x"))).toDS(),
        Seq(entry("omega", "Omega")).toDF()))
    val wants = inputs.map { case (input, linked, dict) =>
      val want = rows(wholeGraphCanon(linked, dict))
      for (budget <- Seq(0L, EntityLinker.MaxBroadcastAliases)) {
        val got = rows(Canonicalize(linked, dict, budget).toDF())
        TempCaches.release(spark)
        assert(got == want, s"$input, budget $budget")
      }
      input -> want
    }.toMap
    genLinked.unpersist()
    // the inputs exercise what they are named for
    def subjects(input: String) = wants(input).map(_.subj_name).toSet
    assert(subjects("bridging ambiguous alias").nonEmpty &&
      !subjects("bridging ambiguous alias").contains(a.canonical), s"${a.canonical} was not merged")
    assert(subjects("root chain") == Set("Omega"))
    assert(subjects("unresolved case variants") == Set("Foo Bar", "foo bar"))
    assert(subjects("UTF-8 vs UTF-16 name order") == Set("\uFF21"))
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
