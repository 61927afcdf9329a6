package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic, set-based surrogate-key assignment.
  *
  * Replaces the reference's per-row lookup-or-insert loop over
  * `lastrowid` (reference: load_dwh.py:18-44,141-227 — one SELECT plus
  * optional INSERT per row, hundreds of client↔server round trips) with
  * one plan: anti-join to find unseen natural keys, then assign
  * `max(existing SK) + row_number()` over the natural-key order, the max
  * coming from a one-row aggregate cross-joined into the same plan. The
  * caller's write runs it; assigning keys submits no job of its own.
  *
  * Why not `monotonically_increasing_id` — nondeterministic across retries
  * and partition layouts. The `row_number` window has no partition key, so
  * one task numbers every new key; that partition holds only the unseen
  * natural keys, which is the night's churn, not the dimension. The order
  * is total on the distinct natural key, so the keys are deterministic.
  */
object SurrogateKeys {

  /** Return `dim` (schema: skCol plus naturalKey columns) extended with new
    * deterministic SKs for natural keys present in `incoming` but missing
    * from `dim`.
    */
  def ensureKeys(
      dim: DataFrame,
      incoming: DataFrame,
      naturalKey: Seq[String],
      skCol: String): DataFrame = {
    val missing = incoming
      .select(naturalKey.map(col): _*)
      .distinct()
      .join(dim, naturalKey, "left_anti")
    val maxSk = dim.agg(coalesce(max(col(skCol).cast(LongType)), lit(0L)).as("__max_sk"))
    val assigned = missing.crossJoin(maxSk).withColumn(skCol,
      col("__max_sk") + row_number().over(Window.orderBy(naturalKey.map(col): _*)))
    dim.withColumn(skCol, col(skCol).cast(LongType))
      .unionByName(assigned.select(dim.columns.map(col): _*))
  }
}
