package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental rollup maintenance — the plain-aggregate member of the
  * mergeable-state family ([[ZoneMap.mergeManifests]] for layout stats,
  * [[Sketches]] for approximate stats): a grouped rollup of ALGEBRAIC
  * aggregates (count, sum, min, max — and avg as sum/count at read) is
  * itself mergeable state, so "tonight's batch updates the all-time
  * rollup" is a union + re-aggregate over |groups| + |batch-groups| rows,
  * never a rescan of history. merge(rollup(A), rollup(B)) == rollup(A∪B)
  * EXACTLY (integer/decimal sums are associative-commutative; the only
  * float column is derived at read), asserted in spec and hash-checked
  * against a full-rebuild oracle (q153).
  */
object Rollups {

  /** One batch reduced to rollup state: (keys..., n_rows, sum_v, min_v,
    * max_v) over `valueCol`.
    */
  def rollupState(batch: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol)).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Merge any number of rollup states (stacked as one frame) back to one
    * state row per key — count/sum add, min/max fold; the input is
    * state-sized, not data-sized.
    */
  def mergeStates(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
}
