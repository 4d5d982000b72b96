package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model.CanonTriple

/** The materialized property graph (S5): node + edge DataFrames mirroring
  * the reference's flattened entity rows (reference: api/MemCypherGraph.scala
  * :118-140 — node = id + labels + properties; rel = id, source, target,
  * relType, properties), re-expressed as fixed-schema columnar tables
  * (SURVEY.md §1.4). Edge table is meant to be written partitioned by
  * rel_type (scan pruning ≙ the reference's typeRelMap index,
  * api/MemCypherGraph.scala:45).
  */
final case class GraphTables(nodes: DataFrame, edges: DataFrame)

object Materialize {

  /** Build node/edge tables from canonical triples.
    *
    * @param entityTypes optional (canon_name → label) mapping, e.g. the alias
    *        dictionary's entity_type; unresolved entities get label "Entity".
    */
  def graph(canon: Dataset[CanonTriple], entityTypes: Option[DataFrame]): GraphTables = {
    val spark = canon.sparkSession
    GraftFunctions.register(spark)
    val c = canon.toDF()

    // Edge id: pure function of provenance + endpoints — stable under
    // re-runs, repartitioning and resume (no positional id generation);
    // ":"-separated so adjacent numeric fields cannot concatenate ambiguously.
    val edges = c.select(
      GraftFunctions.fnv64(concat_ws(":",
        col("conv_id"), col("turn_idx"), col("sent_idx"), col("pred"),
        col("subj_id"), col("obj_id"))).as("id"),
      col("subj_id").as("src"),
      col("obj_id").as("dst"),
      col("pred").as("rel_type"),
      col("conv_id"), col("turn_idx"))

    // Node mention counts: the hub entity makes this a skewed groupBy key.
    // Grouped by id ONLY (ids are unique node keys); the display name rides
    // along as min(name) so two raw surfaces sharing a norm-derived id (e.g.
    // case variants of an unresolved surface) collapse into one node row.
    // Count, min(name) and the bounded provenance sample all ride ONE
    // partial-aggregated shuffle (BoundedMinSet caps the sample buffer at k
    // map-side, so the hub key never carries group-sized state).
    val sides = c.select(col("subj_id").as("id"), col("subj_name").as("name"), col("conv_id"))
      .unionByName(c.select(col("obj_id").as("id"), col("obj_name").as("name"), col("conv_id")))
    val counted = sides.groupBy(col("id")).agg(count(lit(1)).as("n_mentions"),
      min(col("name")).as("name"),
      GraftFunctions.boundedMinSet(col("conv_id"), 8).as("sample_conv_ids"))

    val labeled = entityTypes match {
      case Some(types) =>
        val t = types.select(col("canon_name").as("name"), col("entity_type"))
          .groupBy("name").agg(min("entity_type").as("entity_type"))
        counted.join(broadcast(t), Seq("name"), "left_outer")
          .withColumn("label", coalesce(col("entity_type"), lit("Entity")))
          .drop("entity_type")
      case None => counted.withColumn("label", lit("Entity"))
    }

    // .as[NodeRow]/.as[EdgeRow] enforce that the table schemas stay in sync
    // with the typed models (case class = schema contract)
    import spark.implicits._
    val nodes = labeled.select(
      col("id"), col("name"), array(col("label")).as("labels"),
      col("n_mentions"), coalesce(col("sample_conv_ids"),
        array().cast("array<string>")).as("sample_conv_ids"))
      .as[graft.model.NodeRow].toDF()
    GraphTables(nodes, edges.as[graft.model.EdgeRow].toDF())
  }
}
