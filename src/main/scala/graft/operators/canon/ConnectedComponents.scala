package graft.operators.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.util.Checkpoints

/** Connected components over an undirected edge table via the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14) expressed as Dataset self-joins —
  * O(log n) rounds, no driver-side graph, no GraphX/RDD.
  *
  * Scale notes (SURVEY.md §7.6(1)):
  *  - the min-neighbor computation is a `groupBy(...).agg(min(...))` —
  *    partial-aggregable, so map-side combine absorbs hub-key skew before any
  *    shuffle (a 10⁸-degree hub contributes one row per input partition);
  *  - the propagate join re-keys on node id; AQE skew-join splitting is on
  *    in the session so a hot post-agg join key is split at runtime;
  *  - each round persists + cuts lineage (the plans would otherwise grow
  *    exponentially across iterations and re-execute from the source).
  *
  * Replaces the reference's driver-side entity clustering (the reference has
  * none — its graph is built fully materialized in memory,
  * api/MemCypherGraph.scala:36-39; canonicalization is our pipeline's
  * addition per BASELINE.json north_star).
  */
object ConnectedComponents {

  /** @param edges DataFrame with long columns (src, dst), undirected.
    * @return DataFrame (id: Long, component: Long); component = min id in the
    *         node's component. Every id occurring in edges appears exactly once.
    * @throws IllegalStateException if the rounds have not converged after
    *         `maxIter` rounds.
    */
  def run(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    require(maxIter >= 1, s"maxIter must be at least 1, got $maxIter")
    val spark = edges.sparkSession
    var e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var iter = 0
    // Empty graph: nothing to iterate AND nothing to emit (run()'s contract
    // covers ids occurring in edges — there are none). The seeded pipeline
    // path hits this whenever the dictionary pre-resolves every observed
    // surface: without the short-circuit it would still pay a full
    // large∘small round + checkpoint + re-signature on zero rows.
    // count(), not the old pre-loop signature aggregate: one pass is still
    // needed here — it is what populates e's persist before the first round
    // (a limit-1 probe would materialize one partition and leave the round
    // to re-run the distinct's map stage) — but the signature arithmetic on
    // it bought nothing: the convergence compare is seeded by the sentinel
    // below (round 1 can never match it, and the star-set fixpoint check
    // already stops single-round graphs without a confirm round).
    if (e.count() == 0L) {
      e.unpersist(false)
      return spark.range(0)
        .select(col("id"), col("id").as("component"))
    }
    var prevSig: (Long, String, Long) = (-1L, "", -1L)
    while (!converged && iter < maxIter) {
      // one materialization per round: localCheckpoint(eager) computes the
      // large-star∘small-star composition AND truncates lineage so round N's
      // plan doesn't embed rounds 0..N-1 (at cluster scale: reliable
      // checkpoint dir instead).
      //
      // largeStar's output is persisted (lazily — the round's one job
      // populates it) because smallStar consumes it in TWO subtrees (the
      // min-neighbor aggregate and the propagate join): un-persisted, the
      // whole largeStar plan — union, shuffle, join — is duplicated into
      // both branches and only physical exchange reuse MAY collapse it
      // (AQE re-planning can break that reuse). Persisting pins single
      // execution structurally; measured 3.1→1.3 s per round on the
      // kg_components graph, and at cluster scale it halves the round's
      // shuffle volume whenever exchange reuse fails. Cost: one in-memory
      // copy of an edge-set-sized intermediate, released right after the
      // round materializes.
      val ls = largeStar(e).persist(StorageLevel.MEMORY_AND_DISK)
      val next = smallStar(ls).localCheckpoint(true)
      ls.unpersist(false)
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
      // the input edges are a persist; every later round is a checkpoint,
      // which unpersist cannot reach
      if (iter == 0) e.unpersist(false) else Checkpoints.release(e)
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
    stars.unionByName(roots)
      .groupBy("id").agg(min("component").as("component"))
  }

  /** CC where part of the graph is KNOWN a priori to be depth-1 stars —
    * canonicalization's path for alias graphs too large for one task
    * (below that size [[Canonicalize]] union-finds the graph in one task):
    * `seeds` (id, root) pins each seeded id into its root's component with
    * zero iteration. This is the pipeline's dictionary shape — the
    * alias→canonical stars dominate the alias graph's edge volume but
    * contribute nothing to the iterative fixpoint (they are already stars),
    * so they are contracted BEFORE iteration: every edge endpoint is
    * rewritten through the seed map, [[run]] iterates on the residual graph
    * only (surface↔entity edges the dictionary didn't pre-resolve), and
    * seeded ids inherit their root's final component afterwards.
    *
    * Robustness (correctness never depends on the seed map being a clean
    * function):
    *  - an id seeded to several roots keeps its min root; the other roots
    *    are joined in with root–root bridge edges;
    *  - a seed whose root is ITSELF a seeded id (root chains, e.g. a
    *    canonical name colliding with another entry's alias) is demoted to
    *    an ordinary edge and iterated like any other.
    *
    * Component labels are mins over the CONTRACTED id space — a consistent
    * partition identical to `run(edges ∪ seed-star-edges)`, but label
    * VALUES can differ (a contracted alias id may undercut every root), so
    * callers must treat `component` as an opaque grouping key
    * ([[graft.operators.canon.Canonicalize]] does).
    */
  def runSeeded(edges: DataFrame, seeds: DataFrame, maxIter: Int = 40): DataFrame = {
    // no pre-distinct: minRoot's min-agg is multiplicity-blind, and every
    // other consumer of sd (bridges, demoted) flows into edge sets that are
    // deduplicated downstream (input feeds run(), which distincts) — the
    // distinct was a full dict-sized shuffle buying nothing
    val sd = seeds.select(col("id").cast("long"), col("root").cast("long"))
      .where(col("id") =!= col("root"))
    val minRoot = sd.groupBy("id").agg(min("root").as("root"))
    // multi-root ids: their non-min roots must still end up connected
    val bridges = sd.join(minRoot.select(col("id"), col("root").as("mroot")), Seq("id"))
      .where(col("root") =!= col("mroot"))
      .select(col("root").as("src"), col("mroot").as("dst"))
    // contract (root is NOT itself a seeded id) and demoted (root IS) are
    // complementary slices of the same root∈ids membership test: ONE marked
    // left_outer join, cached, filtered both ways — previously an anti-join
    // AND a semi-join each re-ran the probe (two dict-sized shuffle stages
    // where one suffices; the canon stage's cost is stage count, not bytes)
    val marked = graft.util.TempCaches.track(minRoot.join(
      minRoot.select(col("id").as("root"), lit(true).as("__is_root")),
      Seq("root"), "left_outer"))
    val contract = graft.util.TempCaches.track(
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
    val input = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst")).distinct()
      .unionByName(bridges).unionByName(demoted)
    val residual = subst(subst(input, "src"), "dst")
      .where(col("src") =!= col("dst"))
    val comp = run(residual, maxIter)
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
    // contract stays persisted (TempCaches-tracked): the returned plan still
    // references it via rootRows, and it is entity-dictionary-sized —
    // unpersisting here would recompute it per downstream action instead.
    // Sweep drivers / the pipeline release it after the consuming action.
    comp.unionByName(rootRows)
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Convenience: include isolated vertices from a full vertex list. */
  def runWithVertices(vertices: DataFrame, edges: DataFrame, maxIter: Int = 40): DataFrame = {
    val comp = run(edges, maxIter)
    vertices.select(col("id").cast("long"))
      .distinct()
      .join(comp, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
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
