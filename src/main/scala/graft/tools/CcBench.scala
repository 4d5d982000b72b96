package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.canon.ConnectedComponents
import graft.operators.link.EntityLinker
import graft.util.TempCaches

/** Micro-bench for the CC operator: time vs graph shape/size, each shape at
  * budget 0 (the rounds) and at the default budget (one task while the
  * shape fits it). Each line names the path that ran.
  * Usage: CcBench [cores] [nEdges]
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val n = if (args.length > 1) args(1).toLong else 100000L
    val spark = graft.util.Sessions.local(cores, appName = "graft-ccbench")
    spark.sparkContext.setLogLevel("ERROR")

    def time(label: String)(f: Long => ConnectedComponents.Components): Unit =
      for (budget <- Seq(0L, EntityLinker.MaxBroadcastAliases)) {
        val t0 = System.nanoTime()
        val cc = f(budget)
        val c = cc.table.count()
        val path = if (cc.oneTask) "one task" else "rounds"
        println(f"$label [$path, budget $budget]: ${(System.nanoTime() - t0) / 1e9}%.2f s ($c rows)")
        TempCaches.release(spark)
      }

    // star-shaped alias graph (the pipeline's shape): k stars of size 5
    val stars = spark.range(n).select(
      (col("id") / 5).cast("long").as("src"), col("id").as("dst"))
    // chain fragments: worst case for rounds
    val chains = spark.range(n).select(col("id").as("src"), (col("id") + 1).as("dst"))
      .where(pmod(col("id"), lit(100)) =!= 99) // chains of length 100
    // random graph
    val rand = spark.range(n).select(
      pmod(xxhash64(col("id")), lit(n / 4)).as("src"),
      pmod(xxhash64(col("id"), lit(7)), lit(n / 4)).as("dst"))

    time("warmup tiny star")(b => ConnectedComponents.run(
      spark.range(100).select((col("id") / 5).cast("long").as("src"), col("id").as("dst")),
      budget = b))
    time(s"stars n=$n")(b => ConnectedComponents.run(stars, budget = b))
    time(s"chains(100) n=$n")(b => ConnectedComponents.run(chains, budget = b))
    time(s"random n=$n")(b => ConnectedComponents.run(rand, budget = b))

    // the pipeline's real shape: FLAT dictionary stars (roots disjoint from
    // member ids, as canonical ids are from alias ids) + a 10%-sized random
    // residual — run() iterates over everything, runSeeded() contracts the
    // stars up front and iterates on the residual only
    val residual = spark.range(n / 10).select(
      pmod(xxhash64(col("id"), lit(3)), lit(n / 5)).as("src"),
      pmod(xxhash64(col("id"), lit(5)), lit(n / 5)).as("dst"))
    val flatStars = spark.range(n).select(
      (lit(10L * n) + (col("id") / 5).cast("long")).as("src"), col("id").as("dst"))
    time(s"flat-stars+residual run n=$n")(
      b => ConnectedComponents.run(flatStars.unionByName(residual), budget = b))
    time(s"flat-stars+residual SEEDED n=$n")(
      b => ConnectedComponents.runSeeded(residual,
        flatStars.select(col("dst").as("id"), col("src").as("root")), budget = b))
    // adversarial seeds: the (id/5, id) stars CHAIN (a root is itself a
    // seeded id), so runSeeded demotes nearly every seed back to an edge —
    // the honest no-win case: correctness holds, contraction buys nothing
    val chainedSeeds = stars.select(col("dst").as("id"), col("src").as("root"))
    time(s"chained-stars+residual SEEDED (demotion path) n=$n")(
      b => ConnectedComponents.runSeeded(residual, chainedSeeds, budget = b))
    spark.stop()
  }
}
