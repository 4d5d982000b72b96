package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, RollingFingerprint}
import graft.operators.dedup.Dedup
import graft.operators.multimodal.Multimodal
import graft.operators.similarity.SimilaritySearch

/** Training-data ops: dedup recall vs exact Jaccard, ANN recall vs brute
  * force, fingerprint invariances, bounded-sample aggregation correctness.
  */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bend today"), // near dup of 0
    (3L, "a completely different document about spark query planning and shuffles"),
    (4L, "another unrelated text mentioning connected components and minhash"),
    (5L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG NEAR THE RIVER BANK TODAY"), // case variant of 0
    (6L, "spark query planning and shuffles are discussed in this different document")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val got = Dedup.exact(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(got(0L) == 0L && got(1L) == 0L && got(5L) == 0L)
    assert(got(2L) == 2L && got(3L) == 3L)
  }

  test("minhash-LSH candidates cover all true high-jaccard pairs") {
    val truth = Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.contains((0L, 1L))) // sanity: the exact dup pair is high-jaccard
    val cand = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(cand), s"missed: ${truth.diff(cand)}")
  }

  test("per-query LSH caches are released between queries (no accumulation across a sweep)") {
    import graft.model.{AliasEntry, RawTriple}
    import graft.operators.link.EntityLinker
    import graft.util.{Hashing, TempCaches}
    TempCaches.release(spark) // clean slate (other suites share the session)
    val before = rddsWithBlocks()
    // each query keeps at least one table, and the Bench/Verify release
    // between queries returns the block manager to its baseline
    def query(name: String)(run: => Unit): Unit = {
      run
      assert((rddsWithBlocks() -- before).nonEmpty, s"$name kept no table")
      TempCaches.release(spark)
      val kept = rddsWithBlocks() -- before
      assert(kept.isEmpty, s"$name: RDDs still holding blocks after release: $kept")
    }
    (1 to 3).foreach { _ =>
      query("minhashLsh")(Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.5).count())
    }
    query("embeddingNearDup")(Dedup.embeddingNearDup(
      Seq((0L, Array.fill(64)(0.1f)), (1L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", threshold = 0.9).count())
    // one centroid checkpoint per Lloyd round, plus the training sample
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query("ivfTopK")(SimilaritySearch.ivfTopK(emb, emb.where(col("vec_id") < 10),
      "embedding", "vec_id", 3).count())
    // "Ada Lovelce" misses the dictionary, so the LSH linker runs
    val dict = EntityLinker.dictionary(spark, Seq(
      AliasEntry("ada lovelace", Hashing.fnv64("Ada Lovelace"), "Ada Lovelace", "Person"),
      AliasEntry("paris", Hashing.fnv64("Paris"), "Paris", "Place")))
    query("EntityLinker.link")(EntityLinker.link(
      Seq(RawTriple("c1", 0, 0, "Ada Lovelce", "LIVES_IN", "Paris")).toDS(), dict).count())
  }

  test("native simhash == declarative 64-lambda formula, bit for bit") {
    val texts = docs.select("text").as[String].collect().toSeq ++
      Seq("", " ", "a", "a b  c ", "trailing space ")
    val df = texts.toDF("text")
    val got = df.select(Dedup.simhash(col("text")),
      Dedup.simhashDeclarative(col("text"))).as[(Long, Long)].collect()
    got.zip(texts).foreach { case ((native, decl), t) =>
      assert(native == decl, s"simhash diverged on '$t'")
    }
  }

  test("native token shingles + minhash sig == declarative HOF formulas, bit for bit") {
    val texts = docs.select("text").as[String].collect().toSeq ++
      Seq("", " ", "a", "a b", "a b  c ", "trailing space ", "a b a b a b",
        "x y z x y z")
    val df = texts.toDF("text")
    val sh = df.select(
      Dedup.tokenShingles(col("text"), 3).as("nat"),
      Dedup.tokenShinglesDeclarative(col("text"), 3).as("dec"))
      .as[(Seq[String], Seq[String])].collect()
    sh.zip(texts).foreach { case ((nat, dec), t) =>
      assert(nat == dec, s"token shingles diverged on '$t'")
    }
    val sig = df.select(
      Dedup.minhashSigFromShingles(Dedup.tokenShingles(col("text"), 3), 16).as("nat"),
      Dedup.minhashSigDeclarative(Dedup.tokenShinglesDeclarative(col("text"), 3), 16).as("dec"))
      .as[(Seq[Option[Long]], Seq[Option[Long]])].collect()
    sig.zip(texts).foreach { case ((nat, dec), t) =>
      assert(nat == dec, s"minhash sig diverged on '$t'")
    }
  }

  test("native cosine == declarative zip_with/aggregate formula, bit for bit") {
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(64)(rnd.nextDouble() - 0.5)))
    val df = vecs.toDF("id", "v")
    val a = df.select(col("id").as("ia"), col("v").as("va"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"))
    val got = a.crossJoin(b).where(col("ia") < col("ib"))
      .select(VectorOps.cosine(col("va"), col("vb")).as("nat"),
        VectorOps.cosineDeclarative(col("va"), col("vb")).as("dec"))
      .as[(Option[Double], Option[Double])].collect()
    got.foreach { case (nat, dec) =>
      assert(nat.map(java.lang.Double.doubleToLongBits) ==
        dec.map(java.lang.Double.doubleToLongBits), s"cosine diverged: $nat vs $dec")
    }
    // deliberate divergence: a zero-norm vector yields NaN (which every
    // `>= threshold` filter drops) — the ANSI declarative form instead
    // throws DIVIDE_BY_ZERO, killing a corpus-scale job on one degenerate row
    val z = Seq((Array.fill(4)(0.0), Array.fill(4)(1.0))).toDF("za", "zb")
      .select(VectorOps.cosine(col("za"), col("zb"))).as[Double].head()
    assert(z.isNaN)
  }

  test("simhash: identical docs share signatures; near-dups are close") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(1L))
    val hamming01 = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    val hammingFar = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    assert(hamming01 < hammingFar, s"near=$hamming01 far=$hammingFar")
    val cand = Dedup.simhashCandidates(docs, "text", "doc_id", maxHamming = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand.contains((0L, 1L)))
  }

  test("LSH ANN recall >= 0.6 vs brute-force top-3 on sf0.001 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    val brute = SimilaritySearch.bruteTopK(emb, queries, "embedding", "vec_id", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = SimilaritySearch.lshTopK(emb, queries, "embedding", "vec_id", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    info(f"ANN recall vs brute force: $recall%.2f")
    assert(recall >= 0.6, f"recall $recall%.2f")
  }

  test("IVF ANN recall >= 0.6 vs brute-force top-3 on sf0.001 embeddings; candidates stay cell-bounded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    val brute = SimilaritySearch.bruteTopK(emb, queries, "embedding", "vec_id", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilaritySearch.ivfTopK(emb, queries, "embedding", "vec_id", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    info(f"IVF recall vs brute force: $recall%.2f")
    assert(recall >= 0.6, f"recall $recall%.2f")
    // every query returns at most k rows and the index partitions the corpus:
    // nProbe cells of ~n/cells vectors each bound the per-query candidates
    val n = emb.count()
    val cells = SimilaritySearch.autoCells(n)
    assert(cells >= 4 && cells <= 4096)
  }

  test("IVF ANN is bit-deterministic under repartitioning (sorted Lloyd folds)") {
    // textbook distributed k-means drifts at the ulp level with partition
    // order (float means); ours must not — seeding orders by (avalanche, id)
    // and Lloyd means fold sorted values, so ANY partitioning of the same
    // corpus trains the same centroids and returns the same ranked rows.
    // This is also what makes the DuckDB oracle replay possible.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    def run(c: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      SimilaritySearch.ivfTopK(c, queries, "embedding", "vec_id", 3)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSeq.sorted
    val a = run(emb.repartition(7))
    val b = run(emb.repartition(3, col("label")))
    assert(a == b, "IVF result changed under repartitioning")
    assert(a.nonEmpty)
  }

  test("embedding near-dup LSH recall >= 0.85 vs brute all-pairs on sf0.01 embeddings (no id cap)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val brute = Dedup.bruteEmbeddingNearDup(emb, "embedding", "vec_id", 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDup(emb, "embedding", "vec_id", 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "every LSH pair must pass the exact-cosine verify")
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    info(f"embedding near-dup recall vs brute: $recall%.3f (${lsh.size}/${brute.size} pairs)")
    assert(recall >= 0.85, f"recall $recall%.3f")
  }

  test("auto-sized LSH keeps per-doc candidate volume bounded on a 10x corpus") {
    // autoPlanes: r = ceil(log2(n / targetBucket)), floored and capped
    assert(SimilaritySearch.autoPlanes(500L, floor = 4) == 4)
    assert(SimilaritySearch.autoPlanes(5000L, floor = 4) == 7)
    assert(SimilaritySearch.autoPlanes(1L << 30, floor = 4, targetBucket = 64) == 24)

    val dim = 16
    def corpus(n: Int) = {
      val rnd = new scala.util.Random(7)
      (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian()))).toDF("id", "v")
    }
    def cands(df: org.apache.spark.sql.DataFrame, r: Int): Long =
      Dedup.embeddingCandidates(df, numTables = 4, planesPerTable = r, dim = dim, seed = 42L).count()
    val (small, big) = (corpus(500).cache(), corpus(5000).cache())
    val perDocSmall = cands(small, 0).toDouble / 500
    val perDocBig = cands(big, 0).toDouble / 5000
    val bigFixedR = cands(big, 4) // yesterday's fixed default at 10x the corpus
    info(f"candidates/doc: n=500 → $perDocSmall%.1f, n=5000 auto → $perDocBig%.1f, " +
      f"n=5000 fixed r=4 → ${bigFixedR / 5000.0}%.1f")
    // auto-sized r keeps bucket occupancy ~constant: per-doc candidates must
    // not grow with corpus size (2.5x slack covers the floor binding at 500
    // and hash variance) …
    assert(perDocBig <= 2.5 * perDocSmall,
      f"per-doc candidates grew $perDocSmall%.1f → $perDocBig%.1f on a 10x corpus")
    // … whereas the old fixed r=4 is the quadratic failure mode (≈2^(7-4)=8x
    // the auto volume at this size)
    assert(bigFixedR >= 4L * cands(big, 0), "fixed-r should be >> auto at 10x")
  }

  test("PNG decoder parses IHDR width/height from real bytes; non-PNG falls back to stub") {
    val withPng = Multimodal.withSyntheticPngPayload(docs, "doc_id")
    val decoded = Multimodal.decodeMeta(withPng, "payload", "doc_id").collect()
    decoded.foreach { d =>
      assert(d.meta.format == "png")
      assert(d.meta.width == (d.doc_id % 1000 + 1).toInt)
      assert(d.meta.height == ((d.doc_id * 7) % 1000 + 1).toInt)
      assert(d.meta.n_bytes == 29L)
    }
    // a non-PNG payload takes the stub path, not the PNG parser
    val raw = Multimodal.withSyntheticPayload(docs.limit(1), "text")
    val stub = Multimodal.decodeMeta(raw, "payload", "doc_id").head()
    assert(stub.meta.width >= 64 && stub.meta.height >= 64)
  }

  test("fingerprint: case/whitespace-invariant, content-sensitive, codegen == interpreted") {
    val fp = RollingFingerprint.fingerprint _
    assert(fp("Hello  World") == fp("hello world"))
    assert(fp(" hello world ") == fp("hello world"))
    assert(fp("hello world") != fp("hello worlds"))
    assert(fp("ab cd") != fp("cd ab")) // order-sensitive
    // executor (codegen) path matches the driver-side function
    val viaSpark = Seq("Hello  World").toDF("t")
      .select(GraftFunctions.fingerprint(col("t"))).as[Long].head()
    assert(viaSpark == fp("Hello  World"))
  }

  test("fnv64 expression matches driver-side Hashing.fnv64") {
    val viaSpark = Seq("Ada Lovelace").toDF("t")
      .select(GraftFunctions.fnv64(col("t"))).as[Long].head()
    assert(viaSpark == graft.util.Hashing.fnv64("Ada Lovelace"))
  }

  test("bounded_min_set: caps at k, dedups, survives multi-partition merge") {
    val df = spark.range(0, 10000, 1, 16) // 16 partitions force partial merges
      .select((col("id") % 100).as("k"), concat(lit("v"), format_string("%04d", col("id") % 500)).as("v"))
    val out = df.groupBy("k").agg(GraftFunctions.boundedMinSet(col("v"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    (0L until 100L).foreach { k =>
      // values for key k: v%04d where id%100==k → id%500 ∈ {k, k+100, ..., k+400}
      val expect = (0 until 5).map(j => f"v${k + 100 * j}%04d").sorted.take(3)
      assert(out(k) == expect, s"key $k")
    }
  }

  test("salted aggregation = plain groupBy counts, bounded deterministic samples") {
    // the skew-safe aggregate `Materialize.graph` and `kg_salted_mentions` run:
    // an exact count and a bounded sample in one partial-aggregated groupBy
    val rows = (0 until 1000).map(i => (i % 7L, s"name${i % 7}", s"conv-${i % 50}"))
      .toDF("id", "name", "conv_id")
    val salted = rows.groupBy(col("id"), col("name"))
      .agg(count(lit(1)).as("n_mentions"),
        GraftFunctions.boundedMinSet(col("conv_id"), 5).as("sample_conv_ids"))
      .select(col("id"), col("n_mentions"), col("sample_conv_ids"))
      .as[(Long, Long, Seq[String])].collect()
    val plain = rows.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(salted.length == plain.size)
    salted.foreach { case (id, n, sample) =>
      assert(n == plain(id))
      assert(sample.length == 5)
      // exactly the k smallest distinct values, sorted ascending
      val expect = (0 until 1000).filter(i => i % 7 == id).map(i => s"conv-${i % 50}")
        .distinct.sorted.take(5)
      assert(sample == expect)
    }
  }

  test("multimodal: stub decode plumbing produces typed metadata per row") {
    val withPayload = Multimodal.withSyntheticPayload(docs, "text")
    val decoded = Multimodal.decodeMeta(withPayload, "payload", "doc_id").collect()
    assert(decoded.length == docs.count())
    decoded.foreach { d =>
      assert(d.meta.n_bytes > 0 && d.meta.width >= 64 && d.meta.height >= 64)
      assert(d.feature.length == 8)
    }
    // determinism: same payload → same meta
    val m = decoded.map(d => d.doc_id -> d.meta).toMap
    assert(m(0L) == m(1L))
  }
}
