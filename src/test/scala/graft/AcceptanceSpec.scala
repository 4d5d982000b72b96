package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.PatternMatch

/** Ports of the reference's graph-construction + pattern-matching acceptance
  * tests, re-expressed as DataFrame expectations (SURVEY.md §5):
  *
  *  - chain graph + `MATCH (n)-->(a)-->(b) RETURN b`
  *    (reference: matching/MatchAcceptanceTest.scala:20-26)
  *  - social-network demo graph (11 nodes / 24 rels) + the demo query
  *    (reference: apps/Demo.scala:31-42,45-147); multi-key ORDER BY
  *    expectations follow standard Cypher first-key-major semantics, NOT the
  *    reference's inverted fold (quirk Q1, SURVEY.md §2.6)
  *  - the benchmark query shape `MATCH (n)-->(m) RETURN n`
  *    (reference: apps/Benchmark.scala:27)
  */
class AcceptanceSpec extends SparkTestBase {
  import spark.implicits._

  // ---- demo graph fixture (port of apps/Demo.scala:45-147) ----
  private lazy val demoNodes: DataFrame = Seq(
    (0L, Seq("Person", "Moderator"), "Alice", Option("f"), Option("Leipzig"), Option(20), None: Option[String], None: Option[String], None: Option[String]),
    (1L, Seq("Person"), "Bob", Some("m"), Some("Leipzig"), Some(30), None, None, None),
    (2L, Seq("Person"), "Carol", Some("f"), Some("Dresden"), Some(30), None, None, None),
    (3L, Seq("Person", "Moderator"), "Dave", Some("m"), Some("Dresden"), Some(40), None, None, None),
    (4L, Seq("Person"), "Eve", Some("f"), Some("Dresden"), Some(35), Some("English"), None, None),
    (5L, Seq("Person"), "Frank", Some("m"), Some("Berlin"), Some(42), None, Some("127.0.0.1"), None),
    (6L, Seq("Tag"), "Databases", None, None, None, None, None, None),
    (7L, Seq("Tag"), "Graphs", None, None, None, None, None, None),
    (8L, Seq("Tag"), "Hadoop", None, None, None, None, None, None),
    (9L, Seq("Forum"), "", None, None, None, None, None, Some("Graph Databases")),
    (10L, Seq("Forum"), "", None, None, None, None, None, Some("Graph Processing"))
  ).toDF("id", "labels", "name", "gender", "city", "age", "speaks", "locip", "title")

  private lazy val demoEdges: DataFrame = (Seq(
    (0L, 0L, 1L, "KNOWS", Some(2014)), (1L, 1L, 0L, "KNOWS", Some(2014)),
    (2L, 1L, 2L, "KNOWS", Some(2013)), (3L, 2L, 1L, "KNOWS", Some(2013)),
    (4L, 2L, 3L, "KNOWS", Some(2014)), (5L, 3L, 2L, "KNOWS", Some(2014)),
    (6L, 4L, 0L, "KNOWS", Some(2013)), (7L, 4L, 1L, "KNOWS", Some(2015)),
    (8L, 5L, 2L, "KNOWS", Some(2015)), (9L, 5L, 3L, "KNOWS", Some(2015))) ++ Seq(
    (10L, 4L, 6L, "HAS_INTEREST"), (11L, 0L, 6L, "HAS_INTEREST"),
    (12L, 3L, 8L, "HAS_INTEREST"), (13L, 5L, 8L, "HAS_INTEREST"),
    (14L, 9L, 6L, "HAS_TAG"), (15L, 9L, 7L, "HAS_TAG"),
    (16L, 10L, 7L, "HAS_TAG"), (17L, 10L, 8L, "HAS_TAG"),
    (18L, 9L, 0L, "HAS_MODERATOR"), (19L, 10L, 3L, "HAS_MODERATOR"),
    (20L, 9L, 0L, "HAS_MEMBER"), (21L, 9L, 1L, "HAS_MEMBER"),
    (22L, 10L, 2L, "HAS_MEMBER"), (23L, 10L, 3L, "HAS_MEMBER"))
    .map(e => (e._1, e._2, e._3, e._4, None: Option[Int]))
  ).toDF("id", "src", "dst", "rel_type", "since")

  private lazy val demo = PatternMatch(demoNodes, demoEdges)

  test("chain graph: MATCH (n)-->(a)-->(b) RETURN b") {
    val nodes = Seq(
      (1L, Seq("A"), 1), (2L, Seq("B"), 2), (3L, Seq("C"), 3)
    ).toDF("id", "labels", "value")
    val edges = Seq((10L, 1L, 2L, "KNOWS"), (11L, 2L, 3L, "FRIEND"))
      .toDF("id", "src", "dst", "rel_type")
    val g = PatternMatch(nodes, edges)
    val res = g.expand(g.expand(g.scan("n"), "n", "a"), "a", "b")
      .select("b_value").as[Int].collect()
    assert(res.toSeq == Seq(3))
  }

  test("driving table seeds a pattern and its columns ride along " +
    "(reference api/MemCypherSession.scala:70-71 cypher(..., drivingTable))") {
    // a "prior result": two seed persons with an extra payload column
    val driving = Seq((0L, "seedA"), (3L, "seedB")).toDF("seed_id", "tag")
    val bound = demo.from(driving, "n", "seed_id")
    // seeds bind node columns under n_* without a full NodeScan
    assert(bound.select("n_name").as[String].collect().toSet == Set("Alice", "Dave"))
    // and expand continues from the driving rows only
    val res = demo.expand(bound, "n", "m", Set("KNOWS"))
      .select(col("tag"), col("n_name"), col("m_name"))
      .as[(String, String, String)].collect().toSet
    assert(res == Set(("seedA", "Alice", "Bob"), ("seedB", "Dave", "Carol")),
      s"got $res")
  }

  test("benchmark query shape: MATCH (n)-->(m) RETURN n (bag semantics)") {
    val res = demo.expand(demo.scan("n"), "n", "m").select("n_id")
    assert(res.count() == 24) // one row per relationship, duplicates kept
  }

  test("demo query: MATCH (n:Person) RETURN n.city, n.age ORDER BY n.city ASC, n.age DESC") {
    // standard Cypher first-key-major order (reference quirk Q1 documented)
    val res = demo.scan("n", Set("Person"))
      .select(col("n_city").as("city"), col("n_age").as("age"))
      .orderBy(asc("city"), desc("age"))
      .as[(String, Int)].collect().toSeq
    assert(res == Seq(("Berlin", 42), ("Dresden", 40), ("Dresden", 35),
      ("Dresden", 30), ("Leipzig", 30), ("Leipzig", 20)))
  }

  test("label-conjunction scan: MATCH (n:Person:Moderator)") {
    val res = demo.scan("n", Set("Person", "Moderator"))
      .select("n_name").as[String].collect().sorted.toSeq
    assert(res == Seq("Alice", "Dave"))
  }

  test("typed expand with rel property filter: KNOWS since 2015") {
    val res = demo.expand(demo.scan("a", Set("Person")), "a", "b",
      Set("KNOWS"), relVar = Some("r"))
      .where(col("r_since") === 2015)
      .select(col("a_name"), col("b_name"))
      .as[(String, String)].collect().toSet
    assert(res == Set(("Eve", "Bob"), ("Frank", "Carol"), ("Frank", "Dave")))
  }

  test("forum moderators: (f:Forum)-[:HAS_MODERATOR]->(p)") {
    val res = demo.expand(demo.scan("f", Set("Forum")), "f", "p", Set("HAS_MODERATOR"))
      .select(col("f_title"), col("p_name")).as[(String, String)].collect().toSet
    assert(res == Set(("Graph Databases", "Alice"), ("Graph Processing", "Dave")))
  }

  test("aggregation over groups: city stats (count/min/max/collect)") {
    val res = demo.scan("p", Set("Person"))
      .groupBy(col("p_city"))
      .agg(count(lit(1)).as("n"), min("p_age").as("min_age"), max("p_age").as("max_age"),
        concat_ws(",", sort_array(collect_list(col("p_name")))).as("names"))
      .as[(String, Long, Int, Int, String)].collect().toSet
    assert(res == Set(
      ("Leipzig", 2L, 20, 30, "Alice,Bob"),
      ("Dresden", 3L, 30, 40, "Carol,Dave,Eve"),
      ("Berlin", 1L, 42, 42, "Frank")))
  }

  test("sparse/nullable properties: WHERE p.speaks IS NOT NULL") {
    val res = demo.scan("p", Set("Person")).where(col("p_speaks").isNotNull)
      .select("p_name").as[String].collect().toSeq
    assert(res == Seq("Eve"))
  }

  test("3-valued logic: null properties drop out of comparisons (quirk Q8)") {
    // Tags/Forums have null age; age > 25 must silently exclude them
    val res = demo.scan("n").where(col("n_age") > 25).select("n_name")
      .as[String].collect().toSet
    assert(res == Set("Bob", "Carol", "Dave", "Eve", "Frank"))
  }

  test("distinct projects then dedups (reference operator #9 semantics)") {
    val res = demo.scan("p", Set("Person")).select("p_city").distinct()
      .as[String].collect().toSet
    assert(res == Set("Leipzig", "Dresden", "Berlin"))
  }

  test("tabular union all: tag names ++ forum titles (bag union)") {
    val tags = demo.scan("t", Set("Tag")).select(col("t_name").as("value"))
    val forums = demo.scan("f", Set("Forum")).select(col("f_title").as("value"))
    val res = tags.unionByName(forums).as[String].collect().toSeq
    assert(res.length == 5)
    assert(res.toSet == Set("Databases", "Graphs", "Hadoop", "Graph Databases", "Graph Processing"))
  }

  test("global aggregate over empty input returns one row (fixes quirk Q3)") {
    val res = demo.scan("n", Set("NoSuchLabel")).agg(count(lit(1)).as("n"))
      .as[Long].collect().toSeq
    assert(res == Seq(0L))
  }

  test("scan over a label with zero matching nodes is empty, not a crash (fixes quirk Q6)") {
    assert(demo.scan("n", Set("Ghost")).count() == 0)
  }

  test("optional expand null-pads non-matching rows " +
    "(OPTIONAL MATCH shape; reference plans it as outer join, BinaryOperator.scala:58-59)") {
    // Bob and Carol have no HAS_INTEREST edge — they must survive with null t
    val res = demo.expandOptional(demo.scan("p", Set("Person")), "p", "t", Set("HAS_INTEREST"))
      .select(col("p_name"), col("t_name"))
      .as[(String, Option[String])].collect().toSet
    assert(res == Set(
      ("Alice", Some("Databases")), ("Eve", Some("Databases")),
      ("Dave", Some("Hadoop")), ("Frank", Some("Hadoop")),
      ("Bob", None), ("Carol", None)))
  }

  test("optional expand binds the relationship var's columns as null too") {
    val res = demo.expandOptional(demo.scan("p", Set("Person")), "p", "q",
      Set("HAS_INTEREST"), relVar = Some("r"))
      .where(col("p_name") === "Bob")
      .select(col("r_rel_type"), col("q_name"))
      .as[(Option[String], Option[String])].collect().toSeq
    assert(res == Seq((None, None)))
  }

  test("cycle closing with expandInto: mutual KNOWS pairs") {
    val bound = demo.expand(demo.scan("a", Set("Person")), "a", "b", Set("KNOWS"))
    val mutual = demo.expandInto(bound, "b", "a", Set("KNOWS"))
      .select(col("a_name"), col("b_name")).as[(String, String)].collect().toSet
    assert(mutual == Set(("Alice", "Bob"), ("Bob", "Alice"), ("Bob", "Carol"),
      ("Carol", "Bob"), ("Carol", "Dave"), ("Dave", "Carol")))
  }

  // ---- variable-length expand (beyond the reference: its planner stubs
  // *1..n as unimplemented, MemOperatorProducer.scala:124-142) ----

  private def alice = demo.scan("n", Set("Person")).where(col("n_name") === "Alice")

  test("expandVarLength *1..2: one row per path, Cypher bag semantics") {
    // Alice's KNOWS paths: 0→1 (1 hop); 0→1→0 and 0→1→2 (2 hops — returning
    // to the start over a DIFFERENT relationship is a legal Cypher path)
    val res = demo.expandVarLength(alice, "n", "b", Set("KNOWS"),
        minHops = 1, maxHops = 2, pathVar = Some("p"))
      .select(col("b_name"), col("p_len")).as[(String, Long)].collect().toSeq.sorted
    assert(res == Seq(("Alice", 2L), ("Bob", 1L), ("Carol", 2L)), s"got $res")
  }

  test("expandVarLength enforces relationship uniqueness within a path") {
    // 3-hop from Alice: 0→1→2→{1,3}. The back-and-forth 0→1→0→1 reuses the
    // 0→1 relationship and must be excluded (Cypher rel-uniqueness).
    val res = demo.expandVarLength(alice, "n", "b", Set("KNOWS"),
        minHops = 3, maxHops = 3)
      .select(col("b_name")).as[String].collect().toSeq.sorted
    assert(res == Seq("Bob", "Dave"), s"got $res")
  }

  test("expandVarLength counts parallel paths to the same endpoint (bag, not set)") {
    // From Carol: 2→1→2 and 2→3→2 are TWO distinct 2-hop cycles back to
    // Carol, plus 2→1→0 to Alice — three rows, Carol twice
    val carol = demo.scan("n", Set("Person")).where(col("n_name") === "Carol")
    val res = demo.expandVarLength(carol, "n", "b", Set("KNOWS"),
        minHops = 2, maxHops = 2)
      .select(col("b_name")).as[String].collect().toSeq.sorted
    assert(res == Seq("Alice", "Carol", "Carol"), s"got $res")
  }

  test("expandVarLength *0..1 binds the zero-hop path to the start node") {
    val res = demo.expandVarLength(alice, "n", "b", Set("KNOWS"),
        minHops = 0, maxHops = 1, pathVar = Some("p"))
      .select(col("b_name"), col("p_len"), size(col("p_edge_ids")).cast("long"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(res == Seq(("Alice", 0L, 0L), ("Bob", 1L, 1L)), s"got $res")
  }

  test("shortestPaths: min hop count per reachable node, zero-length included") {
    // BFS over KNOWS from Alice(0): self 0; Bob 1; Carol 2 (0→1→2);
    // Dave 3 (0→1→2→3) — one row per (pair), never per path
    val res = demo.shortestPaths(alice, "n", "b", Set("KNOWS"), maxHops = 4)
      .select(col("b_name"), col("len")).as[(String, Long)].collect().toSeq.sorted
    assert(res == Seq(("Alice", 0L), ("Bob", 1L), ("Carol", 2L), ("Dave", 3L)), s"got $res")
  }

  test("shortestPaths: maxHops truncates; early-exit when the frontier dries up") {
    val res = demo.shortestPaths(alice, "n", "b", Set("KNOWS"), maxHops = 2)
      .select(col("b_name"), col("len")).as[(String, Long)].collect().toSeq.sorted
    assert(res == Seq(("Alice", 0L), ("Bob", 1L), ("Carol", 2L)), s"got $res")
    // maxHops far beyond the component diameter must not loop: the KNOWS
    // component from Alice is exhausted at depth 3
    val far = demo.shortestPaths(alice, "n", "b", Set("KNOWS"), maxHops = 10)
    assert(far.count() == 4)
  }

  test("shortestPaths: duplicate bound rows don't multiply BFS work or rows") {
    val two = alice.unionByName(alice) // same start node twice
    val res = demo.shortestPaths(two, "n", "b", Set("KNOWS"), maxHops = 2)
    assert(res.count() == 6) // 3 reachable × 2 bound rows, not 3 × 4
  }

  test("shortestPaths: its BFS levels hold no blocks after TempCaches.release") {
    val before = rddsWithBlocks()
    // exhausted at depth 4: the empty fifth level is released at once
    assert(demo.shortestPaths(alice, "n", "b", Set("KNOWS"), maxHops = 10).count() == 4)
    graft.util.TempCaches.release(spark)
    assert((rddsWithBlocks() -- before).isEmpty)
  }

  test("expandVarLength rejects unbounded / inverted hop ranges") {
    intercept[IllegalArgumentException] {
      demo.expandVarLength(alice, "n", "b", Set("KNOWS"), minHops = 3, maxHops = 2)
    }
    intercept[IllegalArgumentException] {
      demo.expandVarLength(alice, "n", "b", Set("KNOWS"), minHops = 1, maxHops = 11)
    }
  }
}
