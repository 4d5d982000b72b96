package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.functions.MinhashSig
import graft.model.{AliasEntry, LinkedTriple, RawTriple}
import graft.operators.link.EntityLinker
import graft.util.{Hashing, TempCaches}

class LinkerSpec extends SparkTestBase {
  import spark.implicits._

  private val dictEntries = Seq(
    AliasEntry("ada lovelace", graft.util.Hashing.fnv64("Ada Lovelace"), "Ada Lovelace", "Person"),
    AliasEntry("a lovelace", graft.util.Hashing.fnv64("Ada Lovelace"), "Ada Lovelace", "Person"),
    AliasEntry("acme corp", graft.util.Hashing.fnv64("Acme Corp"), "Acme Corp", "Org"),
    AliasEntry("paris", graft.util.Hashing.fnv64("Paris"), "Paris", "Place"))
  private lazy val dict = EntityLinker.dictionary(spark, dictEntries)

  test("dictionary path links exact and case-variant surfaces") {
    val triples = Seq(
      RawTriple("c1", 0, 0, "Ada Lovelace", "WORKS_AT", "Acme Corp"),
      RawTriple("c1", 1, 0, "ADA LOVELACE", "LIVES_IN", "Paris")).toDS()
    val linked = EntityLinker.link(triples, dict, useLsh = false).collect()
    assert(linked.length == 2)
    val byTurn = linked.map(l => l.turn_idx -> l).toMap
    assert(byTurn(0).subj_name == "Ada Lovelace" && byTurn(0).obj_name == "Acme Corp")
    assert(byTurn(0).link_method == "dict/dict")
    assert(byTurn(1).subj_id == graft.util.Hashing.fnv64("Ada Lovelace"))
  }

  test("LSH path links typo surfaces missed by the dictionary") {
    val triples = Seq(
      RawTriple("c2", 0, 0, "Ada Lovelce", "WORKS_AT", "Acme Crop")).toDS()
    val linked = EntityLinker.link(triples, dict, useLsh = true).collect()
    assert(linked.length == 1)
    assert(linked.head.subj_name == "Ada Lovelace", linked.head)
    assert(linked.head.obj_name == "Acme Corp", linked.head)
    assert(linked.head.link_method == "lsh/lsh")
  }

  test("unknown surfaces fall back to stable surface ids") {
    val triples = Seq(
      RawTriple("c3", 0, 0, "Zorblax Prime", "LIVES_IN", "Paris"),
      RawTriple("c3", 1, 0, "zorblax prime", "MOVED_TO", "Paris")).toDS()
    val linked = EntityLinker.link(triples, dict, useLsh = false).collect()
    val ids = linked.map(_.subj_id).distinct
    assert(ids.length == 1, "same unknown surface must get the same id")
    assert(ids.head == graft.util.Hashing.fnv64("zorblax prime"))
    assert(linked.forall(_.link_method.startsWith("surface/")))
  }

  /** The sorted rows of `link`, whether any plan it executed planned a
    * MinHash signature (the LSH subtree), even one adaptive execution
    * pruned after the miss set came back empty, and the broadcast stages
    * of the resolved vocabulary (the `*_lsh_id` columns) it ran.
    */
  private def linkRows(triples: Dataset[RawTriple],
      useLsh: Boolean): (Seq[LinkedTriple], Boolean, Seq[BroadcastQueryStageExec]) = {
    var rows = Seq.empty[LinkedTriple]
    val plans = plansExecuted {
      rows = EntityLinker.link(triples, dict, useLsh).collect().toSeq.sortBy(_.toString)
    }
    TempCaches.release(spark)
    val nodes = plans.flatMap(planNodes(_, planned = true))
    val resolvedBroadcasts = plans.flatMap(planNodes(_)).collect {
      case b: BroadcastQueryStageExec if b.output.exists(_.name.endsWith("_lsh_id")) => b
    }
    (rows, nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[MinhashSig]))),
      resolvedBroadcasts)
  }

  test("with every surface in the dictionary, LSH linking plans no LSH and links as exact-only") {
    val triples = Seq(
      RawTriple("c4", 0, 0, "Ada Lovelace", "WORKS_AT", "ACME CORP"),
      RawTriple("c4", 1, 0, " a lovelace", "LIVES_IN", "Paris")).toDS()
    val (rows, ranLsh, _) = linkRows(triples, useLsh = true)
    assert(!ranLsh, "an empty miss set still ran the LSH subtree")
    assert(rows == linkRows(triples, useLsh = false)._1)
    assert(rows.map(_.link_method).toSet == Set("dict/dict"))
  }

  test("a mixed input links its misses as lshLink over the misses does") {
    val triples = Seq(
      RawTriple("c5", 0, 0, "Ada Lovelace", "WORKS_AT", "Acme Crop"),
      RawTriple("c5", 1, 0, "Paris", "NEAR", "Zorblax Prime")).toDS()
    val (rows, ranLsh, resolvedBroadcasts) = linkRows(triples, useLsh = true)
    assert(ranLsh)
    // both sides of the triple stream join one broadcast of the resolved
    // vocabulary: one broadcast stage, reused by the other side
    assert(resolvedBroadcasts.size == 2, resolvedBroadcasts)
    assert(resolvedBroadcasts.count(!_.plan.isInstanceOf[ReusedExchangeExec]) == 1,
      resolvedBroadcasts)
    val lsh = EntityLinker.lshLink(Seq("acme crop", "zorblax prime").toDF("norm"), dict)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    // the input exercises both outcomes of the fuzzy path
    assert(lsh.keySet == Set("acme crop"), lsh)
    val byTurn = rows.map(l => l.turn_idx -> l).toMap
    assert(byTurn(0).link_method == "dict/lsh")
    assert((byTurn(0).obj_id, byTurn(0).obj_name) == lsh("acme crop"))
    assert((byTurn(0).subj_id, byTurn(0).subj_name) == (Hashing.fnv64("Ada Lovelace"), "Ada Lovelace"))
    assert(byTurn(1).link_method == "dict/surface")
    assert((byTurn(1).obj_id, byTurn(1).obj_name) ==
      (Hashing.fnv64("zorblax prime"), "Zorblax Prime"))
  }

  test("lshLink never plans a driver-built broadcast (pinned shuffle joins)") {
    // Round-5 scaling fix: every LSH-internal join is vocabulary-sized on
    // both sides, and broadcasting the ×NumBands banded index cost a ~15 s
    // single-threaded driver hash-build per pipeline run (the linked
    // stage's non-scaling Amdahl term). The shuffle_hash hints must keep
    // BroadcastExchange out of the physical plan even as Catalyst's size
    // estimates or defaults change.
    val queries = Seq("ada lovelce", "acme crop").toDF("norm")
    val plan = EntityLinker.lshLink(queries, dict).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"lshLink plan regressed to a broadcast join:\n$plan")
  }

  test("minhash LSH candidates contain all true high-jaccard pairs (recall)") {
    // brute-force jaccard >= threshold pairs on a small vocab must all be
    // found by the banded signature join
    val vocab = Seq("ada lovelace", "ada lovelce", "alan turing", "aln turing",
      "grace hopper", "acme corp", "acme crop", "globex labs")
    val queries = vocab.toDF("norm")
    val d = dictEntries
    val got = EntityLinker.lshLink(queries, dict).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got("ada lovelce") == "Ada Lovelace")
    assert(got("acme crop") == "Acme Corp")
    assert(!got.contains("globex labs"))
  }
}
