package graft.operators.canon

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GraftFunctions
import graft.model.{CanonTriple, LinkedTriple}
import graft.operators.link.EntityLinker
import graft.util.TempCaches

/** S4 — canonicalization: cluster every id that refers to the same entity
  * (dictionary canonicals, LSH-linked surfaces, unresolved surface ids) via
  * connected components over the alias graph, then rewrite triples to the
  * component-canonical (id, name).
  *
  * The alias graph is the observed surface→id resolutions plus the
  * dictionary's alias→canonical stars. Ids that occur only in self-loop
  * edges (an unresolved surface whose id is its own norm's hash) are left
  * out of the map, so their triples keep the names they came with.
  *
  * Canonical representative per component: the smallest dictionary
  * canonical name if the component contains one, else the smallest surface,
  * smallest in Spark's string order (UTF-8 bytes) — deterministic and
  * SQL-expressible (the DuckDB oracle reproduces it).
  *
  * [[ConnectedComponents.runSeeded]] (dictionary stars as seeds) picks its
  * algorithm from the input size and says which it took; canon only names
  * the components. One-task components are named in their own task, into a
  * one-partition map the rewrite broadcasts: at this size the stage's cost
  * is per-job scheduling, and a relational naming more than doubles its
  * jobs. Components from the rounds are named by a shuffled [[canonMap]].
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

  /** Rewrite linked triples to canonical ids/names. On the one-task path
    * both rewrite joins broadcast the map, so the triple stream never
    * shuffles. Beyond it the joins may re-key the stream on entity id —
    * the hub entity makes these keys skewed, so AQE skew-join splitting
    * must be on (set in the session).
    *
    * @param budget CC's budget: vocabulary (id, name) plus dictionary rows
    *        up to this many take one task
    */
  def apply(linked: Dataset[LinkedTriple], dict: DataFrame,
      budget: Long = EntityLinker.MaxBroadcastAliases): Dataset[CanonTriple] = {
    // ONE full-stream-width pass over the linked triples serves both CC
    // edges and the name pool: scanning and hash-aggregating the whole
    // stream once per consumer would be the stage's two most expensive jobs
    // doing 90%-overlapping work. `sides` distincts the
    // (id, name) vocabulary once (partial-aggregable: map-side combine
    // crushes the corpus-sized stream to vocabulary size before the
    // exchange); everything downstream is vocabulary-sized. It is kept (a
    // TempCaches checkpoint) because CC's count (which fills it), the CC
    // edges and the name pool all read it.
    val l = linked.toDF()
    val sides = TempCaches.checkpoint(
      l.select(col("subj_id").as("id"), col("subj_name").as("name"))
        .unionByName(l.select(col("obj_id").as("id"), col("obj_name").as("name")))
        .distinct())
    val edges = sides.select(
      GraftFunctions.fnv64(lower(trim(col("name")))).as("src"), col("id").as("dst"))
    // no distinct: names feeds only a per-component min — multiplicity-blind
    // — so deduping the union first was one extra vocabulary-wide shuffle
    // for an identical result
    val names = sides.withColumn("is_dict", lit(false))
      .unionByName(dictNames(dict))
    val cc = ConnectedComponents.runSeeded(edges, dictSeeds(dict), budget = budget)
    // both rewrite joins read the map, and adaptive execution builds it once
    val cmap = TempCaches.checkpoint(
      if (cc.oneTask) localCanonMap(cc.table, names) else canonMap(cc.table, names))
    rewrite(linked, if (cc.oneTask) broadcast(cmap) else cmap)
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

  /** [[canonMap]] over one-task components, folded in their partition
    * with the name pool ([[nameComponents]]): no driver collect.
    */
  private def localCanonMap(components: DataFrame, names: DataFrame): DataFrame = {
    val spark = components.sparkSession
    import spark.implicits._
    components.select(col("id"), col("component"), lit(null).cast("string").as("name"),
        lit(false).as("is_dict"))
      .unionByName(names.where(col("id").isNotNull).select(col("id"),
        lit(null).cast("long").as("component"), col("name"), col("is_dict")))
      .coalesce(1)
      .as[(Long, Option[Long], String, Boolean)]
      .mapPartitions(nameComponents)
      .toDF("id", "canon_name")
      .select(col("id"), GraftFunctions.fnv64(col("canon_name")).as("canon_id"),
        col("canon_name"))
  }

  /** Names every id of a component after the component's representative:
    * (is_dict desc, name) min, names in UTF-8 byte order (Spark's string
    * order — `String.compareTo` orders by UTF-16 code units, which differs
    * above U+FFFF), a null name first. Rows are (id, component, name,
    * is_dict): a component row (name unset), or a name for the id
    * (component unset).
    */
  private def nameComponents(
      rows: Iterator[(Long, Option[Long], String, Boolean)]): Iterator[(Long, String)] = {
    // smallest (is_dict desc, name) seen per id; null = none yet
    final case class Repr(isDict: Boolean, name: UTF8String)
    def better(a: Repr, b: Repr): Boolean =
      if (b == null || a.isDict != b.isDict) b == null || a.isDict
      else if (a.name == null || b.name == null) a.name == null && b.name != null
      else a.name.compareTo(b.name) < 0
    val componentOf = mutable.LongMap.empty[Long]
    val byId = mutable.LongMap.empty[Repr]
    rows.foreach {
      case (id, Some(c), _, _) => componentOf(id) = c
      case (id, None, name, isDict) =>
        val r = Repr(isDict, UTF8String.fromString(name))
        if (better(r, byId.getOrElse(id, null))) byId(id) = r
    }
    // names of ids in no component are not in the map (canonMap's inner join)
    val byComponent = mutable.LongMap.empty[Repr]
    byId.foreach { case (id, r) =>
      componentOf.get(id).foreach { c =>
        if (better(r, byComponent.getOrElse(c, null))) byComponent(c) = r
      }
    }
    componentOf.iterator.flatMap { case (id, c) =>
      byComponent.get(c).map(r => (id, if (r.name == null) null else r.name.toString))
    }
  }

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
