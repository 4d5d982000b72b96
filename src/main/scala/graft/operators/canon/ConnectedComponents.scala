package graft.operators.canon

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.link.EntityLinker
import graft.util.{Checkpoints, TempCaches}

/** Connected components over an undirected edge table. One count of the
  * input picks the algorithm: at most `budget` rows (the linker's broadcast
  * budget by default) are union-found in ONE task, where the rounds' cost
  * would be per-job scheduling, not data ("To Partition, or Not to
  * Partition", SIGMOD 2021); above it run the alternating large-star /
  * small-star rounds (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) as Dataset self-joins — O(log n) rounds, no
  * driver-side graph, no GraphX/RDD.
  *
  * Scale notes for the rounds (SURVEY.md §7.6(1)):
  *  - the min-neighbor computation is a `groupBy(...).agg(min(...))` —
  *    partial-aggregable, so map-side combine absorbs hub-key skew before any
  *    shuffle (a 10⁸-degree hub contributes one row per input partition);
  *  - the propagate join re-keys on node id; AQE skew-join splitting is on
  *    in the session so a hot post-agg join key is split at runtime;
  *  - each round is kept as a checkpoint, which cuts lineage (the plans
  *    would otherwise grow exponentially across iterations and re-execute
  *    from the source).
  *
  * Replaces the reference's driver-side entity clustering (the reference has
  * none — its graph is built fully materialized in memory,
  * api/MemCypherGraph.scala:36-39; canonicalization is our pipeline's
  * addition per BASELINE.json north_star).
  */
object ConnectedComponents {

  /** Components (id, component), and whether one task union-found them all. */
  final case class Components(table: DataFrame, oneTask: Boolean)

  /** @param edges DataFrame with long columns (src, dst), undirected.
    * @param budget distinct non-loop edges up to this many take one task
    * @return (id: Long, component: Long); component = min id in the node's
    *         component. Every id occurring in edges appears exactly once.
    *         The table may read TempCaches checkpoints: release them after
    *         its action.
    * @throws IllegalStateException if the rounds have not converged after
    *         `maxIter` rounds.
    */
  def run(edges: DataFrame, maxIter: Int = 40,
      budget: Long = EntityLinker.MaxBroadcastAliases): Components = {
    require(maxIter >= 1, s"maxIter must be at least 1, got $maxIter")
    require(budget >= 0, s"budget must be at least 0, got $budget")
    // kept: the one-task table reads it; the rounds drop it after round 1
    var e = TempCaches.checkpoint(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .distinct())
    // the one count picks the algorithm and fills e before the first round
    // (an empty graph takes the one-task path and emits nothing); an RDD
    // count, because a Dataset count adds an aggregate exchange
    if (e.rdd.count() <= budget) return Components(oneTask(e), oneTask = true)
    var converged = false
    var iter = 0
    var prevSig: (Long, String, Long) = (-1L, "", -1L)
    while (!converged && iter < maxIter) {
      // one materialization per round: localCheckpoint(eager) computes the
      // large-star∘small-star composition AND truncates lineage so round N's
      // plan doesn't embed rounds 0..N-1 (at cluster scale: reliable
      // checkpoint dir instead).
      //
      // largeStar's output is kept too (lazily — the round's one job fills
      // it) because smallStar consumes it in TWO subtrees (the min-neighbor
      // aggregate and the propagate join): unkept, the whole largeStar plan
      // — union, shuffle, join — is duplicated into both branches and only
      // physical exchange reuse MAY collapse it (AQE re-planning can break
      // that reuse). Keeping it pins single execution structurally;
      // measured 3.1→1.3 s per round on the kg_components graph, and at
      // cluster scale it halves the round's shuffle volume whenever exchange
      // reuse fails. Cost: one in-memory copy of an edge-set-sized
      // intermediate, released right after the round materializes.
      val ls = largeStar(e).localCheckpoint(false)
      val next = smallStar(ls).localCheckpoint(true)
      Checkpoints.release(ls)
      // ONE pass over the round's output serves both convergence criteria:
      // the order-independent signature (count + hash sum) and the star-set
      // precondition (count == countDistinct(src)) ride the same aggregate
      // job — previously two full scans of the checkpointed round output.
      val sig = signatureAndStars(next)
      converged = (sig._1, sig._2) == (prevSig._1, prevSig._2)
      // Early termination: the algorithm's fixpoints are exactly the
      // disjoint unions of min-rooted stars (Kiveris et al. §3 — the
      // alternation converges to one star per component), and a star set is
      // directly checkable: one edge per src AND no src is also a dst.
      // Proof of safety: stars are fixpoints (largeStar and smallStar both
      // map a min-rooted star to itself), so stopping here yields the SAME
      // final edge set the signature criterion would after its confirm
      // round — which at scale costs 4+ shuffles of the edge set against
      // this check's piggybacked aggregate + one semi-join (the semi-join
      // runs only when the one-edge-per-src precondition holds).
      if (!converged && sig._1 == sig._3 && noSrcIsDst(next)) converged = true
      prevSig = sig
      Checkpoints.release(e)
      e = next
      iter += 1
    }
    // an unconverged edge set is not a star set: emitting it would silently
    // split components that the remaining rounds would have merged
    if (!converged) {
      Checkpoints.release(e)
      throw new IllegalStateException(
        s"connected components did not converge in $iter rounds: ${prevSig._1} edges " +
          s"remain; raise maxIter")
    }
    // At the fixpoint every edge points from a node to its component min.
    val stars = e.select(col("src").as("id"), col("dst").as("component"))
    val roots = e.select(col("dst").as("id")).distinct()
      .withColumn("component", col("id"))
    Components(stars.unionByName(roots)
      .groupBy("id").agg(min("component").as("component")), oneTask = false)
  }

  /** CC where part of the graph is KNOWN a priori to be depth-1 stars:
    * `seeds` (id, root) pins each seeded id into its root's component. The
    * count of edge plus seed rows picks the algorithm, as in [[run]]: within
    * `budget` one task union-finds them all; above it the seeds are
    * contracted first. That fits the pipeline's dictionary shape — the
    * alias→canonical stars dominate the alias graph's edge volume but
    * contribute nothing to the iterative fixpoint (they are already stars),
    * so every edge endpoint is rewritten through the seed map, [[run]] takes
    * the residual graph only (surface↔entity edges the dictionary didn't
    * pre-resolve), and seeded ids inherit their root's final component.
    *
    * Robustness (correctness never depends on the seed map being a clean
    * function):
    *  - an id seeded to several roots keeps its min root; the other roots
    *    are joined in with root–root bridge edges;
    *  - a seed whose root is ITSELF a seeded id (root chains, e.g. a
    *    canonical name colliding with another entry's alias) is demoted to
    *    an ordinary edge and iterated like any other.
    *
    * Component labels after contraction are mins over the CONTRACTED id
    * space — a consistent partition identical to `run(edges ∪
    * seed-star-edges)`, but label VALUES can differ (a contracted alias id
    * may undercut every root), so callers must treat `component` as an
    * opaque grouping key ([[graft.operators.canon.Canonicalize]] does).
    */
  def runSeeded(edges: DataFrame, seeds: DataFrame, maxIter: Int = 40,
      budget: Long = EntityLinker.MaxBroadcastAliases): Components = {
    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
    val sd = seeds.select(col("id").cast("long"), col("root").cast("long"))
      .where(col("id") =!= col("root"))
    // an RDD count, because a Dataset count adds an aggregate exchange (and,
    // under adaptive execution, a job per exchange)
    val rows = edges.select(lit(1).as("row")).unionByName(seeds.select(lit(1).as("row")))
      .rdd.count()
    if (rows <= budget) return Components(
      oneTask(ed.unionByName(sd.select(col("id").as("src"), col("root").as("dst")))), oneTask = true)
    // no pre-distinct: minRoot's min-agg is multiplicity-blind, and every
    // other consumer of sd (bridges, demoted) flows into edge sets that are
    // deduplicated downstream (input feeds run(), which distincts) — the
    // distinct was a full dict-sized shuffle buying nothing
    val minRoot = sd.groupBy("id").agg(min("root").as("root"))
    // multi-root ids: their non-min roots must still end up connected
    val bridges = sd.join(minRoot.select(col("id"), col("root").as("mroot")), Seq("id"))
      .where(col("root") =!= col("mroot"))
      .select(col("root").as("src"), col("mroot").as("dst"))
    // contract (root is NOT itself a seeded id) and demoted (root IS) are
    // complementary slices of the same root∈ids membership test: ONE marked
    // left_outer join, kept, filtered both ways — previously an anti-join
    // AND a semi-join each re-ran the probe (two dict-sized shuffle stages
    // where one suffices; the canon stage's cost is stage count, not bytes)
    val marked = TempCaches.checkpoint(minRoot.join(
      minRoot.select(col("id").as("root"), lit(true).as("__is_root")),
      Seq("root"), "left_outer"))
    val contract = TempCaches.checkpoint(
      marked.where(col("__is_root").isNull).select(col("id"), col("root")))
    val demoted = marked.where(col("__is_root").isNotNull)
      .select(col("id").as("src"), col("root").as("dst"))
    def subst(e: DataFrame, side: String): DataFrame =
      e.join(contract.select(col("id").as(side), col("root").as(s"${side}_r")),
          Seq(side), "left_outer")
        .select((if (side == "src")
          Seq(coalesce(col("src_r"), col("src")).as("src"), col("dst"))
        else
          Seq(col("src"), coalesce(col("dst_r"), col("dst")).as("dst"))): _*)
    // distinct BEFORE substitution: the input edge list is typically
    // stream-sized with vocabulary-sized distinct support (one row per
    // observed resolution), so deduping first keeps the two subst joins on
    // the small side — the one full-stream shuffle that deduplicating the
    // whole composed graph would pay too
    val input = ed.distinct().unionByName(bridges).unionByName(demoted)
    val residual = subst(subst(input, "src"), "dst")
      .where(col("src") =!= col("dst"))
    // run's own rule: a residual within the budget is union-found in one task
    val comp = run(residual, maxIter, budget).table
    // contracted ids inherit their root's component; a root untouched by any
    // residual edge anchors its own star — and must itself appear in the
    // output (run()'s contract: every id of the composed graph is covered)
    val compByRoot = comp.select(col("id").as("root"), col("component"))
    // one join serves both the contracted ids AND their root self-rows: the
    // union precedes the join (duplicate (root, root) rows are fine — the
    // final groupBy-min dedups identical components), replacing two joins
    // plus a roots-distinct with a single probe of compByRoot
    val rootRows = contract
      .unionByName(contract.select(col("root").as("id"), col("root")))
      .join(compByRoot, Seq("root"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("root")).as("component"))
    // contract stays kept: the returned plan still reads it via rootRows,
    // and it is entity-dictionary-sized. Sweep drivers / the pipeline release
    // it with TempCaches after the consuming action.
    Components(comp.unionByName(rootRows)
      .groupBy("id").agg(min("component").as("component")), oneTask = false)
  }

  /** [[run]], plus isolated vertices from a full vertex list. */
  def runWithVertices(vertices: DataFrame, edges: DataFrame, maxIter: Int = 40,
      budget: Long = EntityLinker.MaxBroadcastAliases): Components = {
    val comp = run(edges, maxIter, budget)
    comp.copy(table = vertices.select(col("id").cast("long"))
      .distinct()
      .join(comp.table, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component")))
  }

  /** The components of `e` (src, dst), union-found in ONE task over one
    * partition: no driver collect. The smaller root wins each union, so a
    * root is its component's min id.
    */
  private def oneTask(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.coalesce(1).as[(Long, Long)].mapPartitions { edges =>
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var y = x
        while (y != r) { val next = parent(y); parent(y) = r; y = next }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      parent.keys.toArray.iterator.map(id => (id, find(id)))
    }.toDF("id", "component")
  }

  /** Star-set condition, part 2: no src appears as a dst (part 1 — one edge
    * per src — comes free with [[signatureAndStars]]'s countDistinct). Runs
    * over the freshly-checkpointed round output, only when part 1 held.
    */
  private def noSrcIsDst(e: DataFrame): Boolean =
    e.join(e.select(col("src").as("dst")).distinct(), Seq("dst"), "left_semi").isEmpty

  /** One-pass round statistics: (edge count, order-independent signature
    * hash sum, distinct src count). The first two are the convergence
    * signature (collision probability negligible vs re-running one extra
    * round); the third is the star-set precondition — merged so a round
    * scans its output once, not once per criterion.
    */
  private def signatureAndStars(e: DataFrame): (Long, String, Long) = {
    // decimal sum: ANSI mode (Spark 4 default) would overflow a LongType sum
    val row = e.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h"),
      countDistinct(col("src")).as("s")
    ).head()
    (row.getLong(0), String.valueOf(row.get(1)), row.getLong(2))
  }

  /** large-star: connect every strictly-larger neighbor of u to u's min
    * neighborhood element m(u) = min(N(u) ∪ {u}).
    *
    * No distinct here: duplicates only inflate small-star's input by a
    * bounded factor (each sym row emits ≤ 1 row) and small-star's final
    * distinct dedups anyway — one shuffle per round instead of two.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
  }

  /** small-star: for each u, link all ≤-neighbors (and u) to the min. */
  private def smallStar(e: DataFrame): DataFrame = {
    val directed = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = directed.groupBy("src").agg(min(col("dst")).as("m"))
    directed.join(mins, "src")
      .select(explode(array(col("dst"), col("src"))).as("v"), col("m"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }
}
