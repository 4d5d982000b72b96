package graft.operators.canon

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model.{CanonTriple, LinkedTriple}

/** S4 — canonicalization: cluster every id that refers to the same entity
  * (dictionary canonicals, LSH-linked surfaces, unresolved surface ids) via
  * connected components over the alias graph, then rewrite triples to the
  * component-canonical (id, name).
  *
  * Canonical representative per component: the lexicographically smallest
  * dictionary canonical name if the component contains one, else the
  * smallest surface — deterministic and SQL-expressible (the DuckDB oracle
  * reproduces it).
  */
object Canonicalize {

  /** The dictionary's alias→canonical stars as CC seeds — depth-1 components
    * known before any iteration.
    */
  def dictSeeds(dict: DataFrame): DataFrame = dict.select(
    GraftFunctions.fnv64(col("alias")).as("id"),
    col("canonical_id").cast("long").as("root"))

  /** components(id, component) × names(id, name, is_dict) → (id, canon_id, canon_name). */
  def canonMap(components: DataFrame, names: DataFrame): DataFrame = {
    val member = components.join(names, Seq("id"))
    // min-by (prefer dict names, then lexicographic) via struct ordering
    val repr = member.groupBy("component")
      .agg(min(struct((!col("is_dict")).cast("int").as("nd"), col("name"))).as("r"))
      .select(col("component"), col("r.name").as("canon_name"))
      .withColumn("canon_id", GraftFunctions.fnv64(col("canon_name")))
    components.join(repr, Seq("component"))
      .select(col("id"), col("canon_id"), col("canon_name"))
  }

  /** Rewrite linked triples to canonical ids/names. The two joins re-key the
    * triple stream on entity id — the hub entity makes these keys skewed, so
    * AQE skew-join splitting must be on (set in the session); canonMap is
    * entity-count-sized, typically far smaller than the triple stream.
    */
  def apply(linked: Dataset[LinkedTriple], dict: DataFrame): Dataset[CanonTriple] = {
    val spark = linked.sparkSession
    import spark.implicits._
    // ONE full-stream-width pass over the linked triples serves both CC
    // edges and the name pool: scanning and hash-aggregating the whole
    // stream once per consumer would be the stage's two most expensive jobs
    // doing 90%-overlapping work. `sides` distincts the
    // (id, name) vocabulary once (partial-aggregable: map-side combine
    // crushes the corpus-sized stream to vocabulary size before the
    // exchange); everything downstream is vocabulary-sized.
    // sides is consumed TWICE (CC edges and the name pool) and is
    // vocabulary-sized after the distinct — persist it so the corpus-wide
    // scan+exchange that produces it runs once, not once per consumer.
    // TempCaches-tracked: released by the pipeline / sweep drivers after the
    // stage's action.
    val l = linked.toDF()
    val sides = graft.util.TempCaches.track(
      l.select(col("subj_id").as("id"), col("subj_name").as("name"))
        .unionByName(l.select(col("obj_id").as("id"), col("obj_name").as("name")))
        .distinct())
    val edges = sides.select(
      GraftFunctions.fnv64(lower(trim(col("name")))).as("src"), col("id").as("dst"))
    // the dictionary stars — the bulk of the alias graph's edges — are
    // contracted before iteration (runSeeded); CC rounds touch only the
    // surface-residual edges, a per-round volume cut that matters once the
    // dictionary outgrows the per-round fixed cost. GRAFT_CANON_SEEDED=0 is
    // the A/B escape hatch back to whole-graph iteration.
    val comps =
      if (sys.env.get("GRAFT_CANON_SEEDED").contains("0"))
        ConnectedComponents.run(
          edges.unionByName(dictSeeds(dict).select(col("id").as("src"), col("root").as("dst")))
            .where(col("src") =!= col("dst")).distinct())
      else
        ConnectedComponents.runSeeded(edges, dictSeeds(dict))
    // no distinct: names feeds only canonMap's per-component min(struct) —
    // a multiplicity-blind aggregate — so deduping the union first was one
    // extra vocabulary-wide shuffle for an identical result
    val names = sides.withColumn("is_dict", lit(false))
      .unionByName(dictNames(dict))
    // rewrite references cmap in TWO independent join subtrees (subject and
    // object side) — without materializing it, the comps+canonMap DAG would
    // execute twice inside the rewrite action. cmap is vocabulary-sized.
    val cmap = graft.util.TempCaches.track(canonMap(comps, names))
    rewrite(linked, cmap)
  }

  /** The dictionary's contribution to the name pool canonical
    * representatives are chosen from: (id, name, is_dict) for every
    * canonical id and alias id.
    */
  private[graft] def dictNames(dict: DataFrame): DataFrame = dict
    .select(col("canonical_id").cast("long").as("id"), col("canonical_name").as("name"))
    .withColumn("is_dict", lit(true))
    .unionByName(dict.select(GraftFunctions.fnv64(col("alias")).as("id"),
      col("canonical_name").as("name")).withColumn("is_dict", lit(true)))

  def rewrite(linked: Dataset[LinkedTriple], cmap: DataFrame): Dataset[CanonTriple] = {
    val spark = linked.sparkSession
    import spark.implicits._
    val s = cmap.select(col("id").as("subj_id"), col("canon_id").as("s_cid"), col("canon_name").as("s_cname"))
    val o = cmap.select(col("id").as("obj_id"), col("canon_id").as("o_cid"), col("canon_name").as("o_cname"))
    linked.toDF()
      .join(s, Seq("subj_id"), "left_outer")
      .join(o, Seq("obj_id"), "left_outer")
      .select(
        col("conv_id"), col("turn_idx"), col("sent_idx"),
        coalesce(col("s_cid"), col("subj_id")).as("subj_id"),
        coalesce(col("s_cname"), col("subj_name")).as("subj_name"),
        col("pred"),
        coalesce(col("o_cid"), col("obj_id")).as("obj_id"),
        coalesce(col("o_cname"), col("obj_name")).as("obj_name"))
      .as[CanonTriple]
  }
}
