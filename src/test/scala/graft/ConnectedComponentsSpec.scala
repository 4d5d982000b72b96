package graft

import scala.util.Random

import graft.operators.canon.ConnectedComponents

/** CC correctness vs a driver-side union-find oracle (FIXTURES.md §3
  * gold_components), across graph shapes that stress the algorithm: chains
  * (diameter), stars (skew), random, and disconnected singletons. Also
  * asserts the result is independent of input partitioning.
  */
class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    ids.map(i => i -> find(i)).toMap
  }

  private def check(edges: Seq[(Long, Long)], parts: Int = 4): Unit = {
    val df = edges.toDF("src", "dst").repartition(parts)
    val got = ConnectedComponents.run(df).as[(Long, Long)].collect().toMap
    val want = unionFind(0, edges)
    assert(got == want, s"edges=$edges")
  }

  test("chain graph (worst-case diameter)") {
    check((0L until 40L).map(i => (i, i + 1)))
  }

  test("a run that has not converged at maxIter fails instead of emitting components") {
    val path = (0L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException](ConnectedComponents.run(path, maxIter = 2))
    assert(e.getMessage.contains("did not converge in 2 rounds"), e.getMessage)
    assert(e.getMessage.matches(".*: [1-9][0-9]* edges remain.*"), e.getMessage)
    assert(ConnectedComponents.run(path).select("component").distinct().count() == 1)
  }

  test("finished rounds release their checkpoints") {
    val path = (0L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = rddsWithBlocks()
    // more than two rounds (see the maxIter test above); the unconverged
    // run's failure path releases its rounds too
    intercept[IllegalStateException](ConnectedComponents.run(path, maxIter = 2))
    assert(ConnectedComponents.run(path).collect().length == 65)
    // the final round stays: the returned plan still reads it
    val kept = rddsWithBlocks() -- before
    assert(kept.size <= 1, s"round checkpoints still holding blocks: $kept")
  }

  test("star graph with high-degree hub") {
    check((1L to 200L).map(i => (0L, i)))
  }

  test("two components + reversed edges + duplicates") {
    check(Seq((5L, 1L), (1L, 5L), (5L, 9L), (20L, 30L), (30L, 20L), (20L, 40L), (40L, 30L)))
  }

  test("random graphs match union-find") {
    val rnd = new Random(42)
    for (trial <- 0 until 5) {
      val n = 100 + trial * 50
      val edges = (0 until n).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2)
      check(edges, parts = 3 + trial)
    }
  }

  test("result independent of partitioning") {
    val edges = (0L until 30L).map(i => (i, (i * 7) % 31))
    val a = ConnectedComponents.run(edges.toDF("src", "dst").repartition(2))
      .as[(Long, Long)].collect().toMap
    val b = ConnectedComponents.run(edges.toDF("src", "dst").repartition(13))
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("runSeeded partitions ids exactly like run on the composed graph " +
    "(multi-root seeds, chained seeds, untouched stars)") {
    val rnd = new Random(11)
    // residual graph: random edges over surface/entity ids 0..59
    val edges = (0 until 150).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    // dictionary stars: alias ids 1000.. seeded to roots 0..19, some aliases
    // with MULTIPLE roots (bridge case)
    val seeds = (0 until 200).map(i => (1000L + i % 150, rnd.nextInt(20).toLong)) ++
      // a star whose root no residual edge ever touches (solitary star)
      (0 until 5).map(i => (2000L + i, 500L)) ++
      // chained seeds: an id seeded to a root that is itself a seeded id
      Seq((3000L, 1000L), (3001L, 3000L)) ++
      // two roots no residual edge touches: only the bridge joins them
      Seq((4000L, 700L), (4000L, 701L))
    val seedEdges = seeds.filter(s => s._1 != s._2)
    val full = edges ++ seedEdges
    def partition(m: Map[Long, Long]): Set[Set[Long]] =
      m.groupBy(_._2).values.map(_.keySet.toSet).toSet
    val plain = ConnectedComponents.run(full.toDF("src", "dst")).as[(Long, Long)]
      .collect().toMap
    val seeded = ConnectedComponents.runSeeded(
      edges.toDF("src", "dst"), seeds.toDF("id", "root")).as[(Long, Long)]
      .collect().toMap
    // labels may differ (mins over the contracted id space) — the PARTITION
    // must be identical
    assert(seeded.keySet == plain.keySet,
      s"id cover differs: ${seeded.keySet.diff(plain.keySet).take(5)} / ${plain.keySet.diff(seeded.keySet).take(5)}")
    assert(partition(seeded) == partition(plain))
  }

  test("runWithVertices includes isolated vertices as their own component") {
    val vertices = Seq(1L, 2L, 3L, 99L).toDF("id")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = ConnectedComponents.runWithVertices(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 99L -> 99L))
  }
}
