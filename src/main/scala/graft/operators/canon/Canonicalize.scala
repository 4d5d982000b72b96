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
  * Two paths build the same map, chosen from the input size:
  *  - vocabulary plus dictionary within the broadcast budget: the whole
  *    alias graph goes to ONE task, which union-finds it and names each
  *    component ([[localCanonMap]]), and the rewrite broadcasts the map. At
  *    this size the stage's cost is per-job scheduling, not data: on the
  *    benchmark's inputs (1,530 and 2,309 dictionary rows) the seeded path
  *    runs 28–30 jobs, the one-task path 6;
  *  - beyond it: seeded connected components
  *    ([[ConnectedComponents.runSeeded]]) and a shuffled [[canonMap]].
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
    * shuffles. On the seeded path the joins may re-key the stream on entity
    * id — the hub entity makes these keys skewed, so AQE skew-join splitting
    * must be on (set in the session).
    *
    * @param maxBroadcastAliases the one-task path is taken while the
    *        vocabulary's (id, name) rows plus the dictionary's rows number
    *        at most this many — the linker's broadcast budget by default
    */
  def apply(linked: Dataset[LinkedTriple], dict: DataFrame,
      maxBroadcastAliases: Long = EntityLinker.MaxBroadcastAliases): Dataset[CanonTriple] = {
    // ONE full-stream-width pass over the linked triples serves both CC
    // edges and the name pool: scanning and hash-aggregating the whole
    // stream once per consumer would be the stage's two most expensive jobs
    // doing 90%-overlapping work. `sides` distincts the
    // (id, name) vocabulary once (partial-aggregable: map-side combine
    // crushes the corpus-sized stream to vocabulary size before the
    // exchange); everything downstream is vocabulary-sized.
    // sides is consumed by the size check, the CC edges and the name pool —
    // persist it so the corpus-wide scan+exchange that produces it runs
    // once, not once per consumer.
    // TempCaches-tracked: released by the pipeline / sweep drivers after the
    // stage's action.
    val l = linked.toDF()
    val sides = TempCaches.track(
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
    // one count over both inputs, which also fills the sides cache; an RDD
    // count, because a Dataset count adds an aggregate exchange (and, under
    // adaptive execution, a job per exchange)
    val rows = sides.select(lit(1).as("row")).unionByName(dict.select(lit(1).as("row")))
      .rdd.count()
    if (rows <= maxBroadcastAliases)
      // not cached: each join side's broadcast job builds the map in its
      // own task, the two concurrently — caching it cost two more jobs, and
      // adaptive execution does not reuse one broadcast for both sides
      rewrite(linked, broadcast(localCanonMap(edges, dictSeeds(dict), names)))
    else
      // the dictionary stars — the bulk of the alias graph's edges — are
      // contracted before iteration, so CC rounds touch only the
      // surface-residual edges. The map is kept: its shuffled DAG would
      // otherwise run once per join side.
      rewrite(linked, TempCaches.track(
        canonMap(ConnectedComponents.runSeeded(edges, dictSeeds(dict)), names)))
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

  /** [[canonMap]] of the connected components of `edges` ∪ `seeds`, built
    * in one task: the edges, seeds and name pool are coalesced into one
    * partition, union-found there ([[nameComponents]]), and the map comes
    * back as a one-partition table — nothing passes through the driver.
    * The caller bounds the input to what one task holds.
    */
  private def localCanonMap(edges: DataFrame, seeds: DataFrame, names: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    def edgeRows(src: String, dst: String, from: DataFrame) =
      from.where(col(src) =!= col(dst)).select(lit(Edge).as("kind"), col(src).as("a"),
        col(dst).as("b"), lit(null).cast("string").as("name"), lit(false).as("is_dict"))
    edgeRows("src", "dst", edges)
      .unionByName(edgeRows("id", "root", seeds))
      .unionByName(names.where(col("id").isNotNull).select(lit(Name).as("kind"),
        col("id").as("a"), lit(0L).as("b"), col("name"), col("is_dict")))
      .coalesce(1)
      .as[(Int, Long, Long, String, Boolean)]
      .mapPartitions(nameComponents)
      .toDF("id", "canon_name")
      .select(col("id"), GraftFunctions.fnv64(col("canon_name")).as("canon_id"),
        col("canon_name"))
  }

  private final val Edge = 0
  private final val Name = 1

  /** Union-find over the edge rows, then every id an edge touches is named
    * after its component's representative: (is_dict desc, name) min, names
    * in UTF-8 byte order (Spark's string order — `String.compareTo` orders
    * by UTF-16 code units, which differs above U+FFFF), a null name first.
    * Rows are (kind, a, b, name, is_dict): an edge a–b, or a name for id a.
    */
  private def nameComponents(
      rows: Iterator[(Int, Long, Long, String, Boolean)]): Iterator[(Long, String)] = {
    val index = mutable.LongMap.empty[Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    val parent = mutable.ArrayBuffer.empty[Int]
    def node(id: Long): Int = index.getOrElseUpdate(id, {
      ids += id
      parent += parent.size
      parent.size - 1
    })
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    // smallest (is_dict desc, name) seen per id; null = none yet
    final case class Repr(isDict: Boolean, name: UTF8String)
    def better(a: Repr, b: Repr): Boolean =
      if (b == null || a.isDict != b.isDict) b == null || a.isDict
      else if (a.name == null || b.name == null) a.name == null && b.name != null
      else a.name.compareTo(b.name) < 0
    val byId = mutable.LongMap.empty[Repr]
    rows.foreach { case (kind, a, b, name, isDict) =>
      if (kind == Edge) {
        val (ra, rb) = (find(node(a)), find(node(b)))
        if (ra != rb) parent(ra) = rb
      } else {
        val r = Repr(isDict, UTF8String.fromString(name))
        if (better(r, byId.getOrElse(a, null))) byId(a) = r
      }
    }
    // names of ids no edge touches are not in the map (canonMap's inner join)
    val byComponent = new Array[Repr](ids.size)
    byId.foreach { case (id, r) =>
      index.get(id).foreach { i =>
        val c = find(i)
        if (better(r, byComponent(c))) byComponent(c) = r
      }
    }
    ids.indices.iterator.flatMap { i =>
      Option(byComponent(find(i))).map(r => (ids(i), if (r.name == null) null else r.name.toString))
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
