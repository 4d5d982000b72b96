package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, min => mincol, struct}

import graft.model.{AliasEntry, GoldTriple, Turn}
import graft.util.Hashing

/** Deterministic synthetic transcript corpus (FIXTURES.md §1): a pure
  * function of (seed, conversation ordinal, turn index) via a splittable
  * hash — any subset of conversations regenerates identically, so executors
  * generate their partitions independently with zero shuffle and zero driver
  * data movement. This is the scale knob: the same generator drives tiny unit
  * fixtures and multi-million-turn bench corpora (schema is the 10¹²-turn
  * shape).
  *
  * The entity vocabulary also scales with the corpus (`Config.entityCount`,
  * default nConv/10 capped) — entity i is a pure function of i — so
  * linking/canonicalization work grows with data instead of being a fixed
  * constant, mirroring a real KG corpus. Every templated sentence carries a
  * known gold triple (free golden labels for the P/R gate). A configurable
  * fraction of org mentions hits one hub entity (power-law head) to exercise
  * the salting/AQE-skew paths.
  */
object TranscriptGen {

  final case class Config(
      nConv: Long,
      seed: Long = 42L,
      hubFrac: Double = 0.20,
      aliasNoise: Boolean = true,
      nEntities: Int = 0) {
    /** Entities scale with corpus unless pinned; floor keeps tiny test
      * fixtures well-connected, cap keeps the dictionary broadcastable.
      */
    def entityCount: Int = // clamp on Long BEFORE narrowing (nConv can exceed Int range)
      if (nEntities > 0) nEntities
      else math.max(75L, math.min(nConv / 10, 500000L)).toInt
  }

  final case class Entity(canonical: String, typ: String, aliases: Seq[String])

  // ---- name part pools (fixed, no periods anywhere — periods would collide
  // with sentence splitting) ----
  private val firstNames = Vector("Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald",
    "John", "Leslie", "Robin", "Tony", "Frances", "Niklaus", "Ken", "Dennis", "Bjarne",
    "Guido", "Anders", "Rich", "Martin", "Simon")
  private val lastNames = Vector("Lovelace", "Turing", "Hopper", "Dijkstra", "Liskov",
    "Knuth", "McCarthy", "Lamport", "Milner", "Hoare", "Allen", "Wirth", "Thompson",
    "Ritchie", "Stroustrup", "Rossum", "Hejlsberg", "Hickey", "Odersky", "Jones")
  private val orgHeads = Vector("Acme", "Globex", "Initech", "Umbrella", "Stark",
    "Wayne", "Tyrell", "Cyberdyne", "Aperture", "Vertex", "Hooli", "Prime", "Nimbus",
    "Quantum", "Atlas")
  private val orgTails = Vector("Corp", "Labs", "Systems", "Industries", "Group")
  private val places = Vector("Paris", "London", "Berlin", "Tokyo", "Sydney", "Oslo",
    "Madrid", "Lisbon", "Vienna", "Prague", "Dublin", "Zurich", "Geneva", "Helsinki",
    "Warsaw", "Athens", "Rome", "Cairo", "Delhi", "Seoul")

  private def typo(s: String): String = // deterministic edit-distance-1 variant
    if (s.length < 5) s else s.substring(0, s.length / 2) + s.substring(s.length / 2 + 1)

  /** Entity i — pure function of the index. Types interleave person/org/place
    * (i mod 3); name uniqueness beyond the part-pool product comes from a
    * numeric suffix on the last token.
    */
  def entity(i: Int): Entity = (i % 3: @unchecked) match {
    case 0 =>
      val k = i / 3
      val first = firstNames(k % firstNames.size)
      val last = lastNames((k / firstNames.size) % lastNames.size)
      val sfx = if (k / (firstNames.size * lastNames.size) > 0)
        s"-${k / (firstNames.size * lastNames.size)}" else ""
      val c = s"$first $last$sfx"
      Entity(c, "Person", Vector(c, c.toLowerCase, s"${first.head} $last$sfx", typo(c)))
    case 1 =>
      val k = i / 3
      val head = orgHeads(k % orgHeads.size)
      val tail = orgTails((k / orgHeads.size) % orgTails.size)
      val sfx = if (k / (orgHeads.size * orgTails.size) > 0)
        s"-${k / (orgHeads.size * orgTails.size)}" else ""
      val c = s"$head $tail$sfx"
      Entity(c, "Org", Vector(c, c.toLowerCase, s"$head$sfx", typo(c)))
    case 2 =>
      val k = i / 3
      val base = places(k % places.size)
      val sfx = if (k / places.size > 0) s"-${k / places.size}" else ""
      val c = s"$base$sfx"
      Entity(c, "Place", Vector(c, c.toLowerCase, typo(c)))
  }

  /** Alias dictionary rows for entity i. Ambiguous aliases (the same surface
    * from two entities, e.g. shared initials) are resolved downstream by
    * min-canonical — see [[aliasDictDs]].
    */
  private def aliasEntriesFor(i: Int): Seq[AliasEntry] = {
    val e = entity(i)
    val id = Hashing.fnv64(e.canonical)
    e.aliases.distinct.map(a => AliasEntry(a.toLowerCase, id, e.canonical, e.typ))
  }

  /** Alias dictionary — generated on executors, deduplicated by a
    * (vocabulary-sized) groupBy: one canonical per alias (min canonical name
    * wins, deterministic).
    */
  def aliasDictDs(spark: SparkSession, cfg: Config): DataFrame = {
    import spark.implicits._
    val n = spark.sparkContext.defaultParallelism * 2
    spark.range(0, cfg.entityCount, 1, n)
      .flatMap(i => aliasEntriesFor(i.toInt))
      .groupBy(col("alias"))
      .agg(mincol(struct(col("canonical_name"), col("canonical_id"), col("entity_type"))).as("c"))
      .select(col("alias"), col("c.canonical_id").as("canonical_id"),
        col("c.canonical_name").as("canonical_name"), col("c.entity_type").as("entity_type"))
  }

  /** All alias surfaces (gazetteer input) — driver-side variant for tests
    * and small fixtures; the pipeline uses [[gazetteerDs]] + a file-backed
    * index so the vocabulary never passes through the driver.
    */
  def gazetteerSurfaces(cfg: Config): Seq[String] =
    (0 until cfg.entityCount).flatMap(i => entity(i).aliases)

  /** Alias surfaces generated DISTRIBUTED (entity i is a pure function of i,
    * so the ordinal space partitions across executors with zero shuffle) —
    * feeds [[graft.operators.extract.MentionDetector.writeIndexFile]] at
    * scale, including the 500k-entity vocabulary cap.
    */
  def gazetteerDs(spark: SparkSession, cfg: Config): Dataset[String] = {
    import spark.implicits._
    val n = spark.sparkContext.defaultParallelism * 2
    spark.range(0, cfg.entityCount, 1, n).flatMap(i => entity(i.toInt).aliases)
  }

  private val distractors = Vector(
    "please run the query again",
    "the weather was pleasant yesterday",
    "let me think about that for a moment",
    "here are the results you requested",
    "could you clarify the last point",
    "that matches what the log shows",
    "thanks, that answers my question")

  private val tools = Vector("search", "code", "browse", "db")

  private final case class Template(
      pred: String,
      render: (String, String, Int) => String,
      subjPool: Int, // 0 person, 1 org, 2 place, 3 any
      objPool: Int)

  private val templates: Vector[Template] = Vector(
    Template("WORKS_AT", (s, o, _) => s"$s works at $o", 0, 1),
    Template("FOUNDED_BY", (s, o, y) => s"$s was founded by $o in $y", 1, 0),
    Template("LIVES_IN", (s, o, _) => s"$s lives in $o", 0, 2),
    Template("LOCATED_IN", (s, o, _) => s"$s is located in $o", 1, 2),
    Template("BASED_IN", (s, o, _) => s"$s is based in $o", 1, 2),
    Template("ASKED_ABOUT", (s, o, _) => s"I asked $s about $o", 0, 3),
    Template("MOVED_TO", (s, o, _) => s"$s moved to $o", 0, 2),
    Template("ACQUIRED", (s, o, _) => s"$s acquired $o", 1, 1),
    Template("CAPITAL_OF", (s, o, _) => s"$s is the capital of $o", 2, 2),
    Template("REPORTS_TO", (s, o, _) => s"$s reports to $o", 0, 0))

  private def pickEntity(pool: Int, cfg: Config, ks: Any*): Entity = {
    val nPer = math.max(cfg.entityCount / 3, 1)
    pool match {
      case 0 => entity(3 * Hashing.draw(nPer, cfg.seed, "p", ks))
      case 1 => // hub skew lives here: a hubFrac slice of org picks collapses to one org
        if (Hashing.unit(cfg.seed, "hub", ks) < cfg.hubFrac) entity(1)
        else entity(3 * Hashing.draw(nPer, cfg.seed, "o", ks) + 1)
      case 2 => entity(3 * Hashing.draw(nPer, cfg.seed, "l", ks) + 2)
      case _ => entity(Hashing.draw(cfg.entityCount, cfg.seed, "a", ks))
    }
  }

  private def surfaceOf(e: Entity, cfg: Config, ks: Any*): String =
    if (!cfg.aliasNoise) e.canonical
    else e.aliases(Hashing.draw(e.aliases.size, cfg.seed, "al", ks))

  private val baseEpoch = 1735689600L // 2025-01-01T00:00:00Z

  def convId(ordinal: Long): String = f"conv-$ordinal%08d"

  /** Generate one conversation — pure function of (cfg, ordinal). */
  def genConv(ordinal: Long, cfg: Config): (Seq[Turn], Seq[GoldTriple]) = {
    val cid = convId(ordinal)
    val nTurns = 3 + Hashing.draw(38, cfg.seed, "nt", cid)
    val turns = Vector.newBuilder[Turn]
    val gold = Vector.newBuilder[GoldTriple]
    var t = 0
    while (t < nTurns) {
      val isTool = t > 0 && Hashing.draw(6, cfg.seed, "tl", cid, t) == 0
      val role = if (isTool) "tool" else if (t % 2 == 0) "user" else "assistant"
      val tool = if (isTool) tools(Hashing.draw(tools.size, cfg.seed, "tn", cid, t)) else null
      val nSent = 1 + Hashing.draw(3, cfg.seed, "ns", cid, t)
      val sents = (0 until nSent).map { j =>
        if (Hashing.unit(cfg.seed, "d", cid, t, j) < 0.35)
          distractors(Hashing.draw(distractors.size, cfg.seed, "dx", cid, t, j))
        else {
          val tm = templates(Hashing.draw(templates.size, cfg.seed, "tm", cid, t, j))
          val se = pickEntity(tm.subjPool, cfg, cid, t, j, "s")
          // avoid self-loops in gold: re-draw with an incrementing key suffix
          // until distinct (a single re-draw can collide again, e.g. hub-hub
          // for org-org templates); pool size ≥ 2 guarantees termination
          var oe = pickEntity(tm.objPool, cfg, cid, t, j, "ob")
          var redraw = 2
          while (oe.canonical == se.canonical && redraw < 16) {
            oe = pickEntity(tm.objPool, cfg, cid, t, j, s"ob$redraw")
            redraw += 1
          }
          val year = 1960 + Hashing.draw(60, cfg.seed, "y", cid, t, j)
          val ss = surfaceOf(se, cfg, cid, t, j, "s")
          val os = surfaceOf(oe, cfg, cid, t, j, "o")
          gold += GoldTriple(cid, t, ss, tm.pred, os)
          tm.render(ss, os, year)
        }
      }
      val text = sents.map(_ + ".").mkString(" ")
      val ts = new Timestamp((baseEpoch + ordinal * 3600 + t * 7) * 1000L)
      turns += Turn(cid, t, role, text, tool, ts)
      t += 1
    }
    (turns.result(), gold.result())
  }

  /** Distributed generation: `spark.range` partitions the ordinal space; each
    * executor synthesizes its conversations locally (no shuffle, no driver
    * materialization — this is how the shape scales to 10¹² turns: ordinals
    * partition trivially across any number of executors).
    */
  def turns(spark: SparkSession, cfg: Config, partitions: Int = 0): Dataset[Turn] = {
    import spark.implicits._
    val n = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism * 4
    spark.range(0, cfg.nConv, 1, n).flatMap(o => genConv(o, cfg)._1)
  }

  def gold(spark: SparkSession, cfg: Config, partitions: Int = 0): Dataset[GoldTriple] = {
    import spark.implicits._
    val n = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism * 4
    spark.range(0, cfg.nConv, 1, n).flatMap(o => genConv(o, cfg)._2)
  }
}
