package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model.Turn
import graft.operators.extract.MentionDetector

/** Deterministic transcript corpus derived from the ambient TPC-H-ish tables
  * (customer ⋈ nation ⋈ region) — the DuckDB-oracle-checkable twin of
  * [[TranscriptGen]]. Because both the transcripts AND every downstream KG
  * stage are pure functions of those base tables, the driver's oracle can
  * verify per-turn text equality, extracted triples, linking,
  * connected-components canonicalization, and the materialized graph —
  * end to end — in plain SQL.
  *
  * Turn script per customer (case variants exercise normalization + linking):
  *   0 user      : tell me about <c_name>
  *   1 assistant : <UPPER(c_name)> lives in <n_name>.
  *   2 tool(db)  : <n_name> is located in <r_name>.
  *   3 assistant : <lower(c_name)> is based in <lower(r_name)>.
  */
object TpchKg {

  val BaseEpoch = 1735689600L // 2025-01-01T00:00:00Z

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The three base tables, each read once: every `spark.read.parquet` is
    * a schema-inference job, so a caller deriving both the transcripts and
    * the dictionary reads them through one `Tables`.
    */
  final case class Tables(customer: DataFrame, nation: DataFrame, region: DataFrame) {
    def spark: SparkSession = customer.sparkSession
  }

  object Tables {
    def read(spark: SparkSession, dir: String): Tables = Tables(table(spark, dir, "customer"),
      table(spark, dir, "nation"), table(spark, dir, "region"))
  }

  /** customer ⋈ nation ⋈ region (dimension joins are broadcast). */
  def base(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"))

  /** The transcript table with ts_sec (epoch seconds — engine-stable). */
  def transcripts(spark: SparkSession, dir: String): DataFrame =
    transcripts(Tables.read(spark, dir))

  def transcripts(t: Tables): DataFrame = {
    val turnStructs = array(
      struct(lit(0).as("turn_idx"), lit("user").as("role"),
        concat(lit("tell me about "), col("c_name")).as("text")),
      struct(lit(1).as("turn_idx"), lit("assistant").as("role"),
        concat(upper(col("c_name")), lit(" lives in "), col("n_name"), lit(".")).as("text")),
      struct(lit(2).as("turn_idx"), lit("tool").as("role"),
        concat(col("n_name"), lit(" is located in "), col("r_name"), lit(".")).as("text")),
      struct(lit(3).as("turn_idx"), lit("assistant").as("role"),
        concat(lower(col("c_name")), lit(" is based in "), lower(col("r_name")), lit(".")).as("text")))
    base(t)
      .select(col("c_custkey"), explode(turnStructs).as("t"))
      .select(
        concat(lit("conv-"), lpad(col("c_custkey").cast("string"), 6, "0")).as("conv_id"),
        col("t.turn_idx").as("turn_idx"),
        col("t.role").as("role"),
        col("t.text").as("text"),
        when(col("t.turn_idx") === 2, lit("db")).otherwise(lit(null).cast("string")).as("tool"),
        (lit(BaseEpoch) + col("c_custkey") * 4 + col("t.turn_idx")).as("ts_sec"))
  }

  /** Typed Turn view (real timestamp) feeding the actual pipeline stages. */
  def turns(spark: SparkSession, dir: String): Dataset[Turn] = turns(Tables.read(spark, dir))

  def turns(t: Tables): Dataset[Turn] = {
    val spark = t.spark
    import spark.implicits._
    transcripts(t)
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .drop("ts_sec")
      .as[Turn]
  }

  /** Entity-name pool: (name, entity_type). */
  def entityNames(spark: SparkSession, dir: String): DataFrame =
    entityNames(Tables.read(spark, dir))

  def entityNames(t: Tables): DataFrame =
    t.customer.select(col("c_name").as("name"), lit("Customer").as("entity_type"))
      .unionByName(t.nation.select(col("n_name").as("name"), lit("Nation").as("entity_type")))
      .unionByName(t.region.select(col("r_name").as("name"), lit("Region").as("entity_type")))

  /** Alias dictionary from the base tables: alias = lower(name). */
  def dict(spark: SparkSession, dir: String): DataFrame = dict(Tables.read(spark, dir))

  def dict(t: Tables): DataFrame = {
    GraftFunctions.register(t.spark)
    entityNames(t).select(
      lower(col("name")).as("alias"),
      GraftFunctions.fnv64(col("name")).as("canonical_id"),
      col("name").as("canonical_name"),
      col("entity_type"))
  }

  /** Gazetteer index for mention detection — FILE-BACKED: the surface list
    * is normalized/deduped/written distributed (never collected to the
    * driver) and executors load it straight from storage
    * ([[MentionDetector.FileIndex]]). Written once per source-table CONTENT
    * (fingerprint = path + mtime + size of the three base tables), so a
    * regenerated sf dir gets a fresh index.
    */
  def gazetteer(spark: SparkSession, dir: String): MentionDetector.Index = {
    import spark.implicits._
    val fp = Seq("customer", "nation", "region").map { tbl =>
      val p = java.nio.file.Paths.get(s"$dir/$tbl.parquet")
      Seq(p.toAbsolutePath.toString,
        java.nio.file.Files.getLastModifiedTime(p).toMillis,
        java.nio.file.Files.size(p)).mkString(":")
    }.mkString("|")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-gaz-${graft.util.Hashing.fnv64(fp).toHexString}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")))
      MentionDetector.writeIndexFile(
        entityNames(spark, dir).select(lower(col("name"))).as[String], path)
    new MentionDetector.FileIndex(path)
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL fragments (the driver runs these on the same parquet)
  // ------------------------------------------------------------------

  /** Base join CTE body. */
  val baseSql: String =
    "SELECT c_custkey, c_name, n_name, r_name, " +
      "'conv-' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS conv_id " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey"

  /** Transcript CTE body (expects `b` = baseSql). */
  val transcriptsSql: String =
    "SELECT b.conv_id, u.turn_idx, u.role, " +
      "CASE u.turn_idx WHEN 0 THEN 'tell me about ' || b.c_name " +
      "WHEN 1 THEN upper(b.c_name) || ' lives in ' || b.n_name || '.' " +
      "WHEN 2 THEN b.n_name || ' is located in ' || b.r_name || '.' " +
      "ELSE lower(b.c_name) || ' is based in ' || lower(b.r_name) || '.' END AS text, " +
      "CASE WHEN u.turn_idx = 2 THEN 'db' ELSE NULL END AS tool, " +
      s"$BaseEpoch + b.c_custkey * 4 + u.turn_idx AS ts_sec " +
      "FROM b CROSS JOIN (SELECT 0 AS turn_idx, 'user' AS role " +
      "UNION ALL SELECT 1, 'assistant' UNION ALL SELECT 2, 'tool' " +
      "UNION ALL SELECT 3, 'assistant') u"
}
