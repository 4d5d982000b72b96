package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.{Checkpoints, TempCaches}

/** Tiny pattern-match combinator layer over a property graph — the Spark
  * re-expression of the reference's physical operator algebra (SURVEY.md
  * §2.1): NodeScan/RelScan (label/type-pruned scans,
  * reference: api/MemCypherGraph.scala:82-116), Expand (join,
  * reference: api/MemCypherRecords.scala:182-218), Filter/Project/Select/
  * Distinct/OrderBy/Union (reference: impl/planning/UnaryOperator.scala).
  * Used by the ported acceptance tests; each combinator is a declarative
  * DataFrame transform, so Catalyst owns pushdown/pruning/join strategy —
  * the layer adds zero physical machinery.
  *
  * Variable binding follows the reference's RecordHeader naming
  * (impl/table/RecordHeaderUtils.scala:23-27): a bound variable `n`
  * contributes columns `n_<col>` for every entity column.
  */
final case class PatternMatch(nodes: DataFrame, edges: DataFrame) {

  private def prefixed(df: DataFrame, v: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"${v}_$c")).toSeq: _*)

  /** NodeScan: all nodes whose label set ⊇ `labels` (empty = all), columns
    * bound as `v_*`. With label-partitioned node tables this is partition
    * pruning (the reference's labelNodeMap index, api/MemCypherGraph.scala:43).
    */
  def scan(v: String, labels: Set[String] = Set.empty): DataFrame = {
    val pred = labels.map(l => array_contains(col("labels"), l))
      .reduceOption(_ && _).getOrElse(lit(true))
    prefixed(nodes.where(pred), v)
  }

  /** Driving-table entry (reference: api/MemCypherSession.scala:70-71 —
    * `cypher(query, parameters, drivingTable)`): seed the pattern from an
    * EXISTING DataFrame — typically a prior query result or an external
    * id list — instead of a full NodeScan. `input(idCol)` must hold node
    * ids; the node's columns are bound as `v_*` and every other input
    * column rides along (the reference's driving-table columns do the
    * same). Query parameters have no separate plumbing here by design:
    * patterns are programmatic, so ordinary Scala arguments/closures are
    * the parameter surface.
    */
  def from(input: DataFrame, v: String, idCol: String): DataFrame =
    input.join(scan(v), input(idCol) === col(s"${v}_id"))

  /** Expand: from bound `from`, traverse edges (restricted to `relTypes` if
    * nonempty — the reference's typeRelMap pruning) to a new variable `to`.
    * The relationship's columns are bound as `relVar_*` when given.
    */
  def expand(bound: DataFrame, from: String, to: String,
      relTypes: Set[String] = Set.empty, relVar: Option[String] = None): DataFrame = {
    val rv = relVar.getOrElse(s"__r_${from}_$to")
    val typed = if (relTypes.isEmpty) edges else edges.where(col("rel_type").isin(relTypes.toSeq: _*))
    val r = prefixed(typed, rv)
    val joined = bound
      .join(r, col(s"${from}_id") === col(s"${rv}_src"))
      .join(scan(to), col(s"${rv}_dst") === col(s"${to}_id"))
    if (relVar.isDefined) joined
    else joined.drop(joined.columns.filter(_.startsWith(s"${rv}_")).toSeq: _*)
  }

  /** Optional expand (OPTIONAL MATCH's one-hop shape): like [[expand]], but
    * rows of `bound` with no matching edge+target survive with the `to`
    * variable's columns (and the relationship's, when bound) null-padded —
    * the reference plans optional matches as outer joins
    * (reference: impl/planning/BinaryOperator.scala:58-59 LeftOuterJoin/
    * RightOuterJoin). The edge→target join stays inner (a dangling edge is
    * not a match); only the bound→hop join is left-outer, so Catalyst still
    * broadcast-plans the hop side when small.
    */
  def expandOptional(bound: DataFrame, from: String, to: String,
      relTypes: Set[String] = Set.empty, relVar: Option[String] = None): DataFrame = {
    val rv = relVar.getOrElse(s"__r_${from}_$to")
    val typed = if (relTypes.isEmpty) edges else edges.where(col("rel_type").isin(relTypes.toSeq: _*))
    val hop = prefixed(typed, rv).join(scan(to), col(s"${rv}_dst") === col(s"${to}_id"))
    val joined = bound.join(hop, col(s"${from}_id") === col(s"${rv}_src"), "left_outer")
    if (relVar.isDefined) joined
    else joined.drop(joined.columns.filter(_.startsWith(s"${rv}_")).toSeq: _*)
  }

  /** Bounded variable-length expand — `(from)-[:T*min..max]->(to)`, one
    * output row PER PATH (Cypher bag semantics) with Cypher's relationship
    * uniqueness: an edge id may appear at most once within a path. This is
    * BEYOND the reference (its planner SPI stubs var-length expand as
    * unimplemented, impl/planning/MemOperatorProducer.scala:124-142); the
    * capability pin moves accordingly.
    *
    * Plan shape (the one that scales): iterative frontier BFS — hop k is ONE
    * shuffle join of the hop-(k-1) frontier against the type-pruned edge
    * table on the frontier's end-node id, carrying only a bounded
    * `array<long>` of edge ids (≤ maxHops elements) for the uniqueness
    * filter; the ≤maxHops frontiers are bag-unioned and the target node
    * table is joined ONCE at the end. No recursion, no driver-side graph,
    * per-hop volume is |frontier ⋈ edges| exactly like a fixed-length
    * expand chain. AQE's skew-join splitting handles hub end-nodes.
    *
    * @param minHops 0 allowed (`*0..k`): the zero-hop path binds `to` to the
    *                same node as `from`, per Cypher.
    * @param pathVar when set, binds `<p>_edge_ids` (the path's edge ids, in
    *                traversal order) and `<p>_len` (hop count).
    */
  def expandVarLength(bound: DataFrame, from: String, to: String,
      relTypes: Set[String] = Set.empty, minHops: Int = 1, maxHops: Int,
      pathVar: Option[String] = None): DataFrame = {
    require(minHops >= 0 && maxHops >= minHops && maxHops >= 1,
      s"expandVarLength: need 0 <= minHops <= maxHops, maxHops >= 1; got [$minHops, $maxHops]")
    require(maxHops <= 10,
      s"expandVarLength: maxHops $maxHops > 10 — each hop is a distributed join; unbounded traversal is [[graft.operators.canon.ConnectedComponents]] territory")
    require(edges.columns.contains("id"),
      "expandVarLength: the edge table needs an 'id' column (relationship uniqueness within a path is keyed on it)")
    val typed = if (relTypes.isEmpty) edges else edges.where(col("rel_type").isin(relTypes.toSeq: _*))
    val e = typed.select(col("id").as("__vl_eid"), col("src").as("__vl_src"), col("dst").as("__vl_dst"))
    val boundCols = bound.columns.toSeq.map(col)
    // hop-k frontier: bound's columns + __vl_end (current endpoint id) +
    // __vl_path (edge ids walked, the uniqueness set)
    def hop(prev: Option[DataFrame]): DataFrame = prev match {
      case None =>
        bound.join(e, col(s"${from}_id") === col("__vl_src"))
          .select(boundCols :+ col("__vl_dst").as("__vl_end")
            :+ array(col("__vl_eid")).as("__vl_path"): _*)
      case Some(f) =>
        f.join(e, col("__vl_end") === col("__vl_src"))
          .where(!array_contains(col("__vl_path"), col("__vl_eid")))
          .select(boundCols :+ col("__vl_dst").as("__vl_end")
            :+ concat(col("__vl_path"), array(col("__vl_eid"))).as("__vl_path"): _*)
    }
    val zeroHop = bound.select(boundCols :+ col(s"${from}_id").as("__vl_end")
      :+ array().cast("array<long>").as("__vl_path"): _*)
    var frontier: DataFrame = null
    var acc: DataFrame = if (minHops == 0) zeroHop else null
    for (k <- 1 to maxHops) {
      frontier = hop(Option(frontier))
      if (k >= minHops) acc = if (acc == null) frontier else acc.unionByName(frontier)
    }
    val landed = acc.join(scan(to), col("__vl_end") === col(s"${to}_id"))
    (pathVar match {
      case Some(p) => landed
        .withColumn(s"${p}_len", size(col("__vl_path")).cast("long"))
        .withColumnRenamed("__vl_path", s"${p}_edge_ids")
      case None => landed.drop("__vl_path")
    }).drop("__vl_end")
  }

  /** Shortest-path lengths — `shortestPath((from)-[:T*0..max]->(to))`
    * collapsed to (pair, min hop count): for every bound row and every node
    * reachable from its `from` binding within `maxHops` directed hops, one
    * row with `to` bound and `<lenCol>` = the minimum hop count (0 = the
    * start node itself, per Cypher's zero-length shortestPath). BEYOND the
    * reference (TCK-blacklisted there); path CONTENTS are not bound — this
    * is the length/reachability form, the one that scales.
    *
    * Plan shape: level-synchronous BFS with per-level frontier dedup —
    * round k is one shuffle join of the hop-(k-1) frontier against the
    * type-pruned edge table plus an anti-join against the reached set, so
    * state grows with |reachable pairs| (the answer size), never with path
    * counts (an enumeration like [[expandVarLength]] would explode on dense
    * graphs). Each round localCheckpoints (lineage cut, like
    * [[graft.operators.canon.ConnectedComponents]]) into TempCaches, so
    * release TempCaches only after the result's action, and the loop stops
    * early on an empty frontier. Reachability depends only on the start
    * NODE, so the BFS runs over distinct start ids and joins back to
    * `bound` at the end — duplicate bound rows don't multiply BFS work.
    */
  def shortestPaths(bound: DataFrame, from: String, to: String,
      relTypes: Set[String] = Set.empty, maxHops: Int, lenCol: String = "len"): DataFrame = {
    require(maxHops >= 1 && maxHops <= 10,
      s"shortestPaths: need 1 <= maxHops <= 10, got $maxHops (each BFS level is a distributed join)")
    val typed = if (relTypes.isEmpty) edges else edges.where(col("rel_type").isin(relTypes.toSeq: _*))
    val e = typed.select(col("src").as("__sp_src"), col("dst").as("__sp_dst"))
    val starts = bound.select(col(s"${from}_id").as("__sp_start")).distinct()
    // reached = lazy union of per-level CHECKPOINTED frontiers: each level is
    // already a shallow materialized leaf, so unioning them costs no extra job
    var reached = TempCaches.checkpoint(starts
      .select(col("__sp_start"), col("__sp_start").as("__sp_end"), lit(0L).as("__sp_len")),
      eager = true)
    var frontier = reached
    var k = 1
    var exhausted = false
    while (k <= maxHops && !exhausted) {
      val next = TempCaches.checkpoint(frontier.join(e, col("__sp_end") === col("__sp_src"))
        .select(col("__sp_start"), col("__sp_dst").as("__sp_end"), lit(k.toLong).as("__sp_len"))
        .distinct()
        .join(reached.select(col("__sp_start"), col("__sp_end")),
          Seq("__sp_start", "__sp_end"), "left_anti"), eager = true)
      exhausted = next.isEmpty
      // nothing reads an empty level
      if (exhausted) Checkpoints.release(next)
      else {
        reached = reached.unionByName(next)
        frontier = next
      }
      k += 1
    }
    bound.join(reached, col(s"${from}_id") === col("__sp_start"))
      .join(scan(to), col("__sp_end") === col(s"${to}_id"))
      .withColumn(lenCol, col("__sp_len"))
      .drop("__sp_start", "__sp_end", "__sp_len")
  }

  /** Expand into an already-bound variable (cycle closing). */
  def expandInto(bound: DataFrame, from: String, to: String,
      relTypes: Set[String] = Set.empty): DataFrame = {
    val rv = s"__r_${from}_${to}_into"
    val typed = if (relTypes.isEmpty) edges else edges.where(col("rel_type").isin(relTypes.toSeq: _*))
    val r = prefixed(typed, rv)
    bound.join(r,
      col(s"${from}_id") === col(s"${rv}_src") && col(s"${to}_id") === col(s"${rv}_dst"))
      .drop(r.columns.toSeq: _*)
  }
}
