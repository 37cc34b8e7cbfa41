package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The full-scan k-means assignment as a codegen'd Column plan: the
  * parity reference [[graft.operators.SimilarityOps.kmAssign]]'s pruned
  * index is checked against (KmeansPruneSpec). Every centroid is scored,
  * and the argmin is `array_position` of `array_min` — the FIRST
  * occurrence of the min, so ties go to the lowest cell id. */
object KmBrute {
  private def dot(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** Squared-distance scores to every centroid, as one materialized
    * array (a when()-chain argmin re-evaluates subtrees exponentially).
    * The decomposition is the oracle's, term for term: each Σ a
    * left-to-right fold (native dot_product ≡ DuckDB list_sum; the |c|²
    * term a driver-side Scala fold over the same components), combined
    * as (vv − 2·vc) + cc. */
  private def kmScores(cents: Array[(Int, Array[Double])]): Column = {
    val vv = dot(col("v"), col("v"))
    array(cents.map { case (_, c) =>
      vv - lit(2d) * dot(col("v"), typedLit(c.toSeq)) +
        lit(c.map(x => x * x).sum)
    }: _*)
  }

  /** (vec_id, v, cid, d) for every row of `e`, as kmAssign emits it.
    * `cid` is the argmin's position, so `cents` must carry cids
    * 0..k-1 in order, as every quantizer build does. */
  def kmAssignBrute(
      e: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame =
    e.select(col("vec_id"), col("v"), kmScores(cents).as("ds"))
      .select(col("vec_id"), col("v"),
        (array_position(col("ds"), array_min(col("ds"))) - 1)
          .cast("int").as("cid"),
        array_min(col("ds")).as("d"))
}
