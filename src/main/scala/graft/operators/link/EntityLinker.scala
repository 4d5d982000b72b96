package graft.operators.link

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model.{AliasEntry, LinkedTriple, RawTriple}
import graft.util.TempCaches

/** S3 — entity linking (SURVEY.md §7.2):
  *  (a) exact path: broadcast alias-dictionary equi-join on the normalized
  *      surface (dictionary is broadcast-sized by construction);
  *  (b) fuzzy path: MinHash-LSH over character-3-gram shingles for surfaces
  *      the dictionary misses — banded signature join produces candidates,
  *      verified by true Jaccard, best match per surface wins;
  *  (c) residual: surface-derived id so canonicalization can still cluster
  *      repeated unknown surfaces.
  *
  * Scale shape: the triple stream is joined only via *broadcast* joins (the
  * dictionary, or with LSH the resolved surface vocabulary, once per side)
  * — the big side never shuffles. The only
  * exchanges are over the deduplicated miss-surface set (vocabulary-sized,
  * not corpus-sized), and only when it is non-empty: the misses are counted
  * first, and with none the LSH subtree is not planned. Everything is
  * codegen'd native functions (xxhash64 / transform / array_min / explode)
  * — no UDFs, no mllib pipeline objects.
  */
object EntityLinker {

  // Band size 1 maximizes candidate recall (P(candidate) = 1-(1-J)^16 ≈ 1 for
  // J ≥ 0.33); affordable here because the dictionary side is broadcast-sized
  // and every candidate is verified by true Jaccard. For corpus×corpus dedup
  // (no small side) use wider bands — see graft.operators.dedup.
  val NumHashes = 16
  val BandSize = 1
  val NumBands: Int = NumHashes / BandSize
  val JaccardThreshold = 0.33

  /** Normalized surface used for both dictionary keys and query surfaces —
    * kept SQL-expressible (lower + trim) so the DuckDB oracle can reproduce
    * the exact path.
    */
  def normCol(c: Column): Column = lower(trim(c))

  def dictionary(spark: SparkSession, entries: Seq[AliasEntry]): DataFrame = {
    import spark.implicits._
    entries.toDS().toDF()
  }

  /** Character-3-gram shingles of an (already normalized) string column. */
  def shingles(c: Column): Column = {
    val padded = concat(lit("^"), c, lit("$")) // edge markers sharpen short-string Jaccard
    array_distinct(
      transform(sequence(lit(0), greatest(length(padded) - lit(3), lit(0))),
        i => padded.substr(lit(1) + i, lit(3))))
  }

  /** MinHash signature: k independent permutations approximated by seeded
    * xxhash64; sig[k] = min over shingles of xxhash64(shingle, k). Native
    * one-pass expression ([[graft.functions.MinhashSig]]), bit-identical to
    * the declarative transform/array_min formula (OpsSpec parity gate).
    */
  def minhashSignature(shingleCol: Column): Column =
    graft.functions.GraftFunctions.minhashSig(shingleCol, NumHashes)

  /** Explode a signature into (band, band_hash) structs for LSH banding. */
  def bands(sigCol: Column): Column =
    transform(sequence(lit(0), lit(NumBands - 1)),
      b => struct(b.as("band"),
        xxhash64((0 until BandSize).map(i => element_at(sigCol, b * BandSize + i + 1)) :+ b: _*)
          .as("band_hash")))

  /** LSH candidate match of `queries(norm)` against the dictionary; returns
    * (norm, canonical_id, canonical_name) for the best accepted candidate.
    *
    * Join discipline: every join in here is a SHUFFLE join, deliberately.
    * Both sides of every LSH-internal join are vocabulary-sized — the banded
    * index (|dict| × NumBands narrow rows), the distinct miss-surface set,
    * and the surviving candidate pairs — never corpus-sized, so shuffling
    * them is cheap AND fully parallel. Broadcasting the banded index (the
    * r1–r4 shape) was the pipeline's largest NON-scaling cost: a 500k-alias
    * dict bands into ~8M rows whose BroadcastExchange is collected and
    * hash-built single-threaded on the driver (~15 s fixed per run,
    * regardless of executor count — measured as the `linked` stage's ~20 s
    * Amdahl fixed term in the r5 (2,8)-pair profile). The banded index also
    * replicates only NARROW rows (band, band_hash, alias); the wide shingle
    * arrays and names are joined back once per surviving candidate.
    */
  def lshLink(queries: DataFrame, dict: DataFrame): DataFrame = {
    val qSh = queries.select(col("norm"))
      .distinct()
      .withColumn("q_sh", shingles(col("norm")))
    val qBands = qSh
      .withColumn("b", explode(bands(minhashSignature(col("q_sh")))))
      .select(col("norm"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))
    // un-banded dictionary: one wide row per alias (shingles + names).
    // No pre-distinct — exact duplicate alias rows cannot change the result
    // (candPairs distincts the banded pairs; the final max-by per surface is
    // multiplicity-blind), so the dedup shuffle bought nothing. Kept (a
    // TempCaches checkpoint): dAlias feeds BOTH the banded index and the
    // verify join-back, and unkept each consumer re-computed every alias's
    // shingle array + signature.
    val dAlias = TempCaches.checkpoint(
      dict.select(col("alias"), col("canonical_id"), col("canonical_name"))
        .withColumn("d_sh", shingles(col("alias"))))
    // banded index: narrow rows only
    val dBands = dAlias
      .select(col("alias"), explode(bands(minhashSignature(col("d_sh")))).as("b"))
      .select(col("alias"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))
    // candidate (norm, alias) pairs — deduped BEFORE the expensive
    // shingle-Jaccard verify (a pair can collide in several bands).
    // shuffle_hash hints pin the shuffle plan: Catalyst's static size
    // estimate under-counts the ×NumBands explode and would otherwise fall
    // back to the driver-built broadcast this function exists to avoid.
    val candPairs = qBands.join(dBands.hint("shuffle_hash"), Seq("band", "band_hash"))
      .select(col("norm"), col("alias"))
      .distinct()
    val cand = candPairs
      .join(qSh.hint("shuffle_hash"), Seq("norm"))
      .join(dAlias.hint("shuffle_hash"), Seq("alias"))
      .withColumn("jac",
        size(array_intersect(col("q_sh"), col("d_sh"))).cast("double") /
          size(array_union(col("q_sh"), col("d_sh"))).cast("double"))
      .where(col("jac") >= JaccardThreshold)
    // Best candidate per surface: max jaccard, ties broken deterministically
    // by alias hash — a max_by via struct ordering (single agg, no window).
    cand.groupBy("norm")
      .agg(max(struct(col("jac"), (lit(0) - xxhash64(col("alias"))).as("tb"),
        col("canonical_id"), col("canonical_name"))).as("best"))
      .select(col("norm"), col("best.canonical_id").as("canonical_id"),
        col("best.canonical_name").as("canonical_name"))
  }

  /** Aliases a broadcast join may ship: the dictionary, and the surface
    * vocabulary resolved against it, are broadcast while the dictionary has
    * at most this many rows. Canonicalization uses the same budget for its
    * one-task path.
    */
  val MaxBroadcastAliases = 4000000L

  /** Full S3: raw triples → linked triples, broadcast-join only on the big
    * side while the alias vocabulary fits the broadcast budget
    * (`maxBroadcastAliases`); beyond it every dictionary join degrades to a
    * shuffle join (the triple stream then shuffles on the norm key —
    * unavoidable once the dictionary itself is too big to ship).
    */
  def link(triples: Dataset[RawTriple], dict: DataFrame, useLsh: Boolean = true,
      maxBroadcastAliases: Long = MaxBroadcastAliases): Dataset[LinkedTriple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)

    // one dimension-sized count decides the join strategy (Pipeline.run and
    // the memoized graph keep dict as an in-memory checkpoint, which this
    // count fills); an RDD count, because a Dataset count adds an aggregate
    // exchange
    val broadcastDict = dict.rdd.count() <= maxBroadcastAliases
    def hint(df: DataFrame): DataFrame = if (broadcastDict) broadcast(df) else df

    val t = triples.toDF()
      .withColumn("s_norm", normCol(col("subj")))
      .withColumn("o_norm", normCol(col("obj")))

    def dictSide(prefix: String): DataFrame = dict.select(
      col("alias").as(s"${prefix}_norm"),
      col("canonical_id").as(s"${prefix}_dict_id"),
      col("canonical_name").as(s"${prefix}_dict_name"))

    val r = if (useLsh) {
      // every distinct surface norm is resolved ONCE — dictionary hit, else
      // LSH over the misses — into a vocabulary-sized table that each side
      // of the triple stream joins; resolved per side, the LSH subtree (and
      // the miss set inside it) would run once per join. Both tables are
      // TempCaches checkpoints: vocab feeds the miss set and the resolved
      // table, resolved feeds both sides' joins, which share one broadcast
      // of it (of vocab, with no misses).
      val vocab = TempCaches.checkpoint(t.select(col("s_norm").as("norm"))
        .unionByName(t.select(col("o_norm").as("norm")))
        .distinct()
        .join(dict.select(col("alias").as("norm"), col("canonical_id").as("dict_id"),
          col("canonical_name").as("dict_name")), Seq("norm"), "left_outer"))
      val misses = vocab.where(col("dict_id").isNull).select(col("norm"))
      // one count of the misses, which also fills the vocab checkpoint; an
      // RDD count, because a Dataset count adds an aggregate exchange. With
      // no misses the LSH subtree (banding, candidate joins, verify: about
      // a dozen jobs) has nothing to link, so it is not planned at all.
      val resolved =
        if (misses.rdd.count() == 0)
          vocab.withColumn("lsh_id", lit(null).cast("long"))
            .withColumn("lsh_name", lit(null).cast("string"))
        else {
          val lsh = lshLink(misses, dict).select(col("norm"),
            col("canonical_id").as("lsh_id"), col("canonical_name").as("lsh_name"))
          TempCaches.checkpoint(vocab.join(lsh, Seq("norm"), "left_outer"))
        }
      // the resolved vocabulary is the dictionary hits plus the misses the
      // per-side LSH joins broadcast before — same broadcast budget
      def side(prefix: String): DataFrame = resolved.select(
        Seq("norm", "dict_id", "dict_name", "lsh_id", "lsh_name")
          .map(c => col(c).as(s"${prefix}_$c")): _*)
      t.join(hint(side("s")), Seq("s_norm"), "left_outer")
        .join(hint(side("o")), Seq("o_norm"), "left_outer")
    } else {
      t.join(hint(dictSide("s")), Seq("s_norm"), "left_outer")
        .join(hint(dictSide("o")), Seq("o_norm"), "left_outer")
        .withColumn("s_lsh_id", lit(null).cast("long"))
        .withColumn("s_lsh_name", lit(null).cast("string"))
        .withColumn("o_lsh_id", lit(null).cast("long"))
        .withColumn("o_lsh_name", lit(null).cast("string"))
    }

    def method(prefix: String): Column =
      when(col(s"${prefix}_dict_id").isNotNull, "dict")
        .when(col(s"${prefix}_lsh_id").isNotNull, "lsh")
        .otherwise("surface")

    r.select(
      col("conv_id"), col("turn_idx"), col("sent_idx"),
      coalesce(col("s_dict_id"), col("s_lsh_id"), GraftFunctions.fnv64(col("s_norm"))).as("subj_id"),
      coalesce(col("s_dict_name"), col("s_lsh_name"), col("subj")).as("subj_name"),
      col("pred"),
      coalesce(col("o_dict_id"), col("o_lsh_id"), GraftFunctions.fnv64(col("o_norm"))).as("obj_id"),
      coalesce(col("o_dict_name"), col("o_lsh_name"), col("obj")).as("obj_name"),
      concat_ws("/", method("s"), method("o")).as("link_method")
    ).as[LinkedTriple]
  }
}
