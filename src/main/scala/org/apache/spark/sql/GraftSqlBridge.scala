package org.apache.spark.sql

/** Narrow bridge into Spark's `private[sql]` surface (public Spark source,
  * stable across 4.x): re-bind a DataFrame's analyzed logical plan to a
  * sibling SparkSession of the SAME SparkContext. Used by connected
  * components' star rounds (GraphOps.starLoop) to run on a session clone
  * whose conf (AQE off, the loop's shuffle width) is ISOLATED from the
  * caller's session — the public alternative (`createDataFrame(df.rdd,
  * schema)`) inserts a deserialization barrier that breaks column pruning
  * and codegen fusion with the scan, which is exactly the cost the
  * rounds cannot pay.
  *
  * Only valid for sessions sharing one SparkContext/SharedState (cache
  * manager, catalog listeners): `rebind` asserts it.
  *
  * The casts depend on Spark 4's `classic` namespace; GraftSqlBridgeSpec
  * fails by name if it moves, if `rebind` stops carrying the source's
  * analyzed plan to the target session, or if it stops refusing a session
  * of another SparkContext. The fallback, should `classic.Dataset.ofRows`
  * go away, is the body `ofRows` runs, which the spec checks against
  * `rebind` (the same private-`sql` pattern as a connector's
  * `withActive` + `executePlan` + `assertAnalyzed` constructor):
  * {{{
  * cs.withActive {
  *   val qe = cs.sessionState.executePlan(cdf.logicalPlan)
  *   qe.assertAnalyzed()
  *   new classic.Dataset[Row](qe, RowEncoder.encoderFor(qe.analyzed.schema))
  * }
  * }}}
  * If the session state moves too, the public `createDataFrame(df.rdd,
  * schema)` route named above is correct but slower.
  */
object GraftSqlBridge {
  def rebind(df: Dataset[Row], to: SparkSession): Dataset[Row] = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val cs = to.asInstanceOf[classic.SparkSession]
    require(cdf.sparkSession.sparkContext eq cs.sparkContext,
      "rebind requires sessions of the same SparkContext")
    classic.Dataset.ofRows(cs, cdf.logicalPlan)
  }
}
