package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Skew-safe aggregation for payloads that are NOT naturally
  * partial-agg-friendly. Exact counts and minima never need help (map-side
  * combine absorbs hub keys); the dangerous payload is the collect-style
  * sample, where a naive `collect_set` buffer grows with group size.
  *
  * Strategy (round 5 — supersedes the distinct→salt→window plan): the sample
  * is computed by [[graft.functions.BoundedMinSet]], a typed-imperative
  * aggregate whose buffer holds at most k values at EVERY level — map-side
  * partial buffers cap at k, merge caps at k — so a hub key contributes one
  * O(k) buffer per map partition and the whole aggregation is ONE
  * partial-agged shuffle shared with count/min. The previous plan shuffled
  * the full input twice (corpus-wide distinct, then a window sort per
  * (key, salt)); at 26M turns that stage went superlinear under spill —
  * bounded partial aggregation removes both shuffles and the skew with them.
  */
object Salting {

  /** groupBy(keyCols) computing: n_mentions = exact count (plain
    * partial-aggregated count), sample_conv_ids = deterministic bounded
    * sample (smallest `samplePerKey` distinct values of `sampleCols.head`,
    * sorted ascending), plus `minCols` carried as per-key minima — all in a
    * single partial-aggregated groupBy.
    */
  def saltedAgg(
      df: DataFrame,
      keyCols: Seq[String],
      sampleCols: Seq[String],
      samplePerKey: Int,
      minCols: Seq[String] = Nil): DataFrame = {
    val sampleCol = sampleCols.head
    val keys = keyCols.map(col)
    val aggExprs = count(lit(1)).as("n_mentions") +:
      (minCols.map(c => min(col(c)).as(c)) :+
        GraftFunctions.boundedMinSet(col(sampleCol), samplePerKey).as("sample_conv_ids"))
    df.groupBy(keys: _*).agg(aggExprs.head, aggExprs.tail: _*)
  }
}
