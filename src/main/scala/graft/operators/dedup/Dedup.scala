package graft.operators.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Large-scale document deduplication operators (training-data pipeline
  * surface). All pure native-function plans — codegen'd end to end; the only
  * shuffles are the semantic ones (group on dedup key / candidate-pair key).
  *
  * Scale shapes:
  *  - exact: one hash-groupBy on a 64-bit fingerprint (never on raw text —
  *    hashing first keeps shuffle rows narrow at 100 TB);
  *  - MinHash-LSH: corpus×corpus near-dup via banded signature self-join —
  *    band width tuned so candidate volume stays linear-ish; candidates
  *    verified with true Jaccard before reporting;
  *  - SimHash: 64-bit signature + banding for Hamming-adjacent candidates.
  */
object Dedup {

  /** Token n-gram shingles — the native one-pass expression
    * ([[graft.functions.TokenShingles]]); bit-identical to
    * [[tokenShinglesDeclarative]] (parity-asserted in OpsSpec), but inside
    * whole-stage codegen instead of interpreted higher-order lambdas.
    */
  def tokenShingles(textCol: Column, n: Int): Column =
    GraftFunctions.tokenShingles(textCol, n)

  /** The declarative formula [[tokenShingles]] must match (1-based
    * element_at keeps SQL parity). Guarded: Spark's sequence(1, 0) counts
    * DOWN, so short docs need an explicit empty-array branch.
    */
  private[graft] def tokenShinglesDeclarative(textCol: Column, n: Int): Column = {
    val toks = split(textCol, " ")
    when(size(toks) >= n,
      array_distinct(
        transform(sequence(lit(1), size(toks) - lit(n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: representative = min id per normalized-content fingerprint.
    * Returns (idCol, rep_id). The groupBy key is the 64-bit fingerprint, not
    * the document text.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = docs.select(col(idCol), GraftFunctions.fingerprint(col(textCol)).as("fp"))
    val reps = withFp.groupBy("fp").agg(min(col(idCol)).as("rep_id"))
    withFp.join(reps, "fp").select(col(idCol), col("rep_id"))
  }

  /** MinHash signature from an ALREADY-COMPUTED shingle-array column — the
    * native one-pass expression ([[graft.functions.MinhashSig]]);
    * bit-identical to [[minhashSigDeclarative]] (parity-asserted in
    * OpsSpec) but hashes each shingle string ONCE instead of numHashes
    * times. Keep the shingle array a materialized attribute (separate
    * projection / persisted table) — inlining the shingle expression here
    * would rebuild the array once per consumer.
    */
  def minhashSigFromShingles(shCol: Column, numHashes: Int): Column =
    GraftFunctions.minhashSig(shCol, numHashes)

  /** The declarative formula [[minhashSigFromShingles]] must match. */
  private[graft] def minhashSigDeclarative(shCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      k => array_min(transform(shCol, s => xxhash64(s, k))))

  /** MinHash signatures over token-3-gram shingles (convenience form). */
  def minhashSig(textCol: Column, numHashes: Int): Column =
    minhashSigFromShingles(tokenShingles(textCol, 3), numHashes)

  /** MinHash-LSH near-dup candidate pairs, verified by true shingle Jaccard.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    * The banding join and the pair-dedup carry only (bucket, id) — narrow
    * rows; full shingle sets are joined back exactly once per surviving
    * candidate pair for verification.
    */
  def minhashLsh(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bandSize: Int = 4, threshold: Double = 0.6): DataFrame = {
    val numBands = numHashes / bandSize
    // docs too short to shingle are excluded: their all-null signatures would
    // otherwise collapse every short doc into one bucket per band (O(n²)
    // candidates) and they can never pass shingle-Jaccard anyway — the exact
    // path handles identical short docs.
    //
    // The signature table is kept (a TempCaches checkpoint): it is consumed
    // three times (banding + both sides of the verify join-back), and the
    // shingle array must be computed once per row, not re-inlined into every
    // one of the 16 hash functions × 3 consumers (that plan shape measured
    // 178 s on 5k docs; materialized, ~3 s). At cluster scale this is the
    // standard LSH "signature table" checkpoint stage.
    val sigd = graft.util.TempCaches.checkpoint(docs.select(col(idCol).as("id"),
      tokenShingles(col(textCol), 3).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", minhashSigFromShingles(col("sh"), numHashes)))
    val banded = sigd.select(col("id"),
      explode(transform(sequence(lit(0), lit(numBands - 1)),
        b => xxhash64((0 until bandSize).map(i =>
          element_at(col("sig"), b * bandSize + i + 1)) :+ b: _*))).as("bucket"))
    val pairs = banded.select(col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // same pair can collide in several bands
    pairs
      .join(sigd.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sigd.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash over token hashes: bit j of the signature is the sign of
    * sum over tokens of (token has bit j ? +1 : -1). One native codegen
    * expression ([[graft.functions.Simhash64]]) — single pass over the
    * tokens; see [[simhashDeclarative]] for the formula it is bit-identical
    * to.
    */
  def simhash(textCol: Column): Column = GraftFunctions.simhash64(textCol)

  /** The same SimHash as a declarative column formula — kept as the parity
    * oracle for the native expression (OpsSpec). NOT for production use:
    * each of the 64 bit lambdas embeds its own copy of the token-hash
    * subtree, so split + hash evaluate 64× per row and the token array is
    * traversed once per bit.
    */
  def simhashDeclarative(textCol: Column): Column = {
    val hashes = transform(split(textCol, " "), t => GraftFunctions.fnv64(t))
    // unrolled per bit (shift amounts must be Scala Ints); disjoint bits are
    // combined with OR — overflow-free under ANSI mode
    (0 until 64).map { j =>
      val bitSum = aggregate(hashes, lit(0), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** SimHash near-dup candidates: split the 64-bit signature into `bands`
    * chunks; docs sharing any chunk are candidates (catches Hamming distance
    * < bands). Returns (id_a, id_b, hamming).
    */
  def simhashCandidates(docs: DataFrame, textCol: String, idCol: String,
      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    val width = 64 / bands
    val sigd = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val banded = sigd.select(col("id"), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * width).bitwiseAND(lit((1L << width) - 1)).as("chunk"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.chunk"))
    val a = banded.select(col("band"), col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard similarity for all pairs above a threshold —
    * the small-scale oracle-checkable variant (candidate generation by
    * shared-shingle join; at corpus scale prefer [[minhashLsh]]).
    * Returns (id_a, id_b, n_common, jac_pm) where jac_pm = round(j * 1000).
    */
  def ngramJaccard(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), tokenShingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val a = sh.select(col("s"), col("id").as("id_a"), col("n_sh").as("na"))
    val b = sh.select(col("s"), col("id").as("id_b"), col("n_sh").as("nb"))
    a.join(b, Seq("s"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jac", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")).cast("double"))
      .where(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("jac") * 1000).cast("long").as("jac_pm"))
  }

  /** Embedding near-dup at corpus scale: banded random-hyperplane LSH
    * self-join. Each vector gets `numTables` signatures of `planesPerTable`
    * sign bits (deterministic hyperplanes, seeded per table — reuses
    * [[graft.operators.similarity.SimilaritySearch.lshSignature]]); vectors
    * sharing any (table, signature) bucket become candidate pairs, verified
    * by exact cosine. The banded join carries only (table, sig, id) — narrow
    * rows; vectors are joined back once per surviving candidate pair.
    *
    * Tuning: recall for a pair at angle θ is 1-(1-(1-θ/π)^r)^L where
    * r = planesPerTable, L = numTables. `planesPerTable = 0` (the default)
    * derives r from a corpus count via
    * [[graft.operators.similarity.SimilaritySearch.autoPlanes]] (floor 4) —
    * a FIXED small r degenerates quietly at scale (candidate volume
    * ~n²·L/2^(r+1), effectively quadratic past ~10⁵ vectors), the same way a
    * fixed broadcast would, so the default self-sizes the way
    * [[graft.operators.link.EntityLinker.link]] auto-degrades
    * broadcast→shuffle. At the small-corpus floor (r=4, L=16) the
    * moderate-similarity test corpus (cos ≈ 0.35-0.5 ⇒ per-bit agreement
    * ≈ 0.63) computes recall ≈ 0.94; the asserted OpsSpec gate is ≥ 0.85.
    * At auto-raised r, recall concentrates on the genuinely-near regime
    * (cos ≥ 0.8 ⇒ per-bit agreement ≥ 0.8) — low-threshold callers at large
    * n should raise numTables alongside.
    * [[bruteEmbeddingNearDup]] is the small-scale exact verifier.
    */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double, numTables: Int = 16, planesPerTable: Int = 0,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    import graft.functions.VectorOps
    // kept once (a TempCaches checkpoint, like minhashLsh's sigd): read by
    // the auto-planes count, the banding self-join and both sides of the
    // cosine verify
    val e = graft.util.TempCaches.checkpoint(
      emb.select(col(idCol).as("id"), VectorOps.asDouble(col(vecCol)).as("v")))
    embeddingCandidates(e, numTables, planesPerTable, dim, seed)
      .join(e.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos", VectorOps.cosine(col("va"), col("vb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos") * 1000).cast("long").as("cos_pm"))
  }

  /** Candidate-pair stage of [[embeddingNearDup]] — (id_a, id_b) distinct,
    * from shared (table, signature) buckets over `e` = (id, v:array<double>).
    * Package-visible so tests can gate the candidate-volume growth rate
    * directly (the scale property the auto-sized r exists to protect).
    */
  private[graft] def embeddingCandidates(e: DataFrame, numTables: Int,
      planesPerTable: Int, dim: Int, seed: Long): DataFrame = {
    import graft.operators.similarity.SimilaritySearch
    // an RDD count, because a Dataset count adds an aggregate exchange
    val r =
      if (planesPerTable > 0) planesPerTable
      else SimilaritySearch.autoPlanes(e.rdd.count(), floor = 4)
    val sigs = array((0 until numTables).map(tb =>
      struct(lit(tb).as("tb"),
        SimilaritySearch.lshSignature(col("v"), r, dim, seed + tb).as("sig"))): _*)
    // kept (a TempCaches checkpoint): the self-join reads banded TWICE
    // (stream side and build side), and each consumer of an unkept table
    // re-ran the full numTables × r × dim hyperplane-signature computation
    // over every vector. Same shape as minhashLsh's signature table; narrow
    // rows (id, tb, sig), numTables per vector.
    val banded = graft.util.TempCaches.checkpoint(
      e.select(col("id"), explode(sigs).as("b"))
        .select(col("id"), col("b.tb").as("tb"), col("b.sig").as("sig")))
    banded.select(col("tb"), col("sig"), col("id").as("id_a"))
      .join(banded.select(col("tb"), col("sig"), col("id").as("id_b")), Seq("tb", "sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // the same pair can collide in several tables
  }

  /** All-pairs exact cosine near-dup — O(n²), bounded inputs only: the
    * verifier [[embeddingNearDup]]'s recall is measured against (OpsSpec).
    */
  def bruteEmbeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorOps
    val e = emb.select(col(idCol).as("id"), VectorOps.asDouble(col(vecCol)).as("v"))
    val a = e.select(col("id").as("id_a"), col("v").as("va"))
    val b = e.select(col("id").as("id_b"), col("v").as("vb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cos", VectorOps.cosine(col("va"), col("vb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos") * 1000).cast("long").as("cos_pm"))
  }
}
